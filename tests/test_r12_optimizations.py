"""Focused equivalence pins for round-12 optimization rewrites.

Each test proves an r12 restructure computes exactly what the shape it
replaced computed, on real data (sf0.001), independent of the DuckDB
oracle gate:

- naive_bayes scoring: the scaled-int64 multiply-add fold equals the
  decimal(20,8)x(10,0) multiply-sum it replaced, bit-for-bit on the
  double scores (both are the correctly-rounded double of the same
  integer x 1e-8).
- simhash_near_pairs: filtering hamming BEFORE the cross-block distinct
  (on the narrow (doc_a, doc_b, hamming) projection) yields the same
  pair set as dedup-then-filter on the fingerprint-carrying rows.
- stats-audit two-level gate: the bucketed prefix-sum path (forced by
  monkeypatching ranks.TWO_LEVEL_MIN_ROWS to 0) emits row-identical
  output to the single-window path for equidepth / point_in_range / psi.
"""

from __future__ import annotations

import importlib
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF001_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason=f"{SF_DIR} missing"
)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_nb_long_fold_equals_decimal_fold(spark):
    from streams_prototyping_spark.data import load_table
    from streams_prototyping_spark.functions.text_mining import (
        naive_bayes_confusion,  # noqa: F401 — builds/caches the model stage
    )
    from streams_prototyping_spark.stage_cache import _CACHE, shared_stage

    naive_bayes_confusion(spark, SF_DIR)  # populate nb/model
    model = next(
        df for (sfd, tag), df in _CACHE.items()
        if tag == "nb/model" and sfd == SF_DIR
    )
    d = load_table(spark, SF_DIR, "documents")
    toks = (
        d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    tf = toks.groupBy("doc_id", "source", "w").agg(F.count(F.lit(1)).alias("tf"))
    joined = tf.join(F.broadcast(model), "w")
    dec = joined.groupBy("doc_id", "cand").agg(
        (
            F.sum(
                F.col("lnl").cast("decimal(20,8)") * F.col("tf").cast("decimal(10,0)")
            ).cast("double")
            + F.max("lnp")
        ).alias("score")
    )
    lng = joined.withColumn(
        "lnl8", F.round(F.col("lnl") * 1e8, 0).cast("long")
    ).groupBy("doc_id", "cand").agg(
        (
            (F.sum(F.col("lnl8") * F.col("tf")).cast("double") / F.lit(1e8))
            + F.max("lnp")
        ).alias("score")
    )
    assert _rows(dec, "doc_id", "cand") == _rows(lng, "doc_id", "cand")


def test_simhash_filter_before_distinct_equivalent(spark):
    import streams_prototyping_spark.functions.dedup as dd

    fp = dd.simhash_fingerprint(spark, SF_DIR)
    bits = dd._simhash_bits(spark, SF_DIR)
    blocks = None
    for bi, (shift, width) in enumerate(dd._simhash_blocks(bits)):
        part = fp.select(
            "doc_id",
            "simhash",
            F.lit(bi).alias("b"),
            ((F.col("simhash") / F.lit(1 << shift)).cast("long")
             % F.lit(1 << width)).alias("block_key"),
        )
        blocks = part if blocks is None else blocks.unionByName(part)
    a, b = blocks.alias("a"), blocks.alias("b")
    join_cond = (
        (F.col("a.b") == F.col("b.b"))
        & (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    # old shape: distinct on fingerprint-carrying rows, hamming after
    old = (
        a.join(b, join_cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
        .select(
            "doc_a", "doc_b",
            F.expr("bit_count(fp_a ^ fp_b)").cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= dd.SIMHASH_MAX_HAMMING)
    )
    new = dd.simhash_near_pairs(spark, SF_DIR)
    assert _rows(old, "doc_a", "doc_b") == _rows(new, "doc_a", "doc_b")


@pytest.mark.parametrize(
    "qname",
    ["equidepth_value_histogram", "point_in_range_join", "psi_drift_report",
     "histogram_quantile_audit"],
)
def test_two_level_path_equals_single_window(spark, qname, monkeypatch):
    from streams_prototyping_spark import registry
    from streams_prototyping_spark.operators import ranks

    registry.load_all()
    fn = registry.QUERIES[qname]
    base = _rows(fn(spark, SF_DIR), *fn(spark, SF_DIR).columns)
    monkeypatch.setattr(ranks, "TWO_LEVEL_MIN_ROWS", 0)
    forced = _rows(fn(spark, SF_DIR), *fn(spark, SF_DIR).columns)
    assert base == forced
