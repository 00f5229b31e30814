"""Focused equivalence pins for round-11 optimization rewrites.

Each test proves an r11 restructure computes exactly what the shape it
replaced computed, on real data (sf0.001), independent of the DuckDB
oracle gate:

- exact_topt_df: filtering the shared top-EXACT_TOP_T table at k is
  bit-identical to running the per-query window directly at k.
- _adc_from_codes: the map-side LUT-map fold over per-vector code
  arrays equals the former best-table join + (query, vec) decimal-sum
  aggregate.
- token_entropy: the narrow sorted-run rewrite equals the exploded
  (doc, word) groupBy reference it replaced.
- approx_distinct_users: the pre-reduced HLL sketch equals the sketch
  over the raw event stream (register updates are idempotent).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF001_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"), reason=f"{SF_DIR} missing"
)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_exact_topt_filter_equals_direct_window(spark):
    from streams_prototyping_spark.functions.similarity import (
        EXACT_TOP_T,
        N_QUERIES,
        _queries,
        _vectors,
        exact_topt_df,
        probe_topk,
    )

    vecs = _vectors(spark, SF_DIR)
    q = _queries(vecs.filter(F.col("vec_id") < N_QUERIES))
    for k in (3, 5, EXACT_TOP_T):
        direct = _rows(probe_topk(vecs, q, None, k), "query_id", "rnk")
        shared = _rows(exact_topt_df(spark, SF_DIR, k), "query_id", "rnk")
        assert direct == shared, f"k={k}: shared top-T filter != direct window"


def test_adc_fold_equals_join_groupby_reference(spark):
    from streams_prototyping_spark.functions.clustering import (
        PQ_N_QUERIES,
        _adc_from_codes,
        _pq_best,
        _pq_codebook,
        _pq_codes,
        _pq_subs,
    )

    subs = _pq_subs(spark, SF_DIR)
    codebook = _pq_codebook(subs)
    q = subs.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", F.col("subvec").alias("qsub")
    )
    lut_sqd = (
        "aggregate(zip_with(qsub, cw, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    lut = q.join(F.broadcast(codebook), "m").select(
        "query_id", "m", "cw_id", F.round(F.expr(lut_sqd), 9).alias("partial_d")
    )
    # the former shape: 8-rows-per-vector join + decimal Sum aggregate
    reference = (
        _pq_best(spark, SF_DIR)
        .select("vec_id", "m", "cw_id")
        .join(F.broadcast(lut), ["m", "cw_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sum(F.col("partial_d").cast("decimal(25,9)")).cast("double"), 6
            ).alias("adc_sq_dist")
        )
    )
    fold = _adc_from_codes(
        _pq_codes(spark, SF_DIR).select("vec_id", "codes"), lut
    )
    assert _rows(reference, "query_id", "vec_id") == _rows(
        fold, "query_id", "vec_id"
    )


def test_token_entropy_narrow_map_equals_exploded_reference(spark):
    from streams_prototyping_spark.data import load_table
    from streams_prototyping_spark.functions.span_quality import token_entropy

    d = load_table(spark, SF_DIR, "documents")
    words = F.split("text", " ")
    tf = (
        d.select(
            "doc_id",
            F.size(words).cast("long").alias("n_tokens"),
            F.explode(words).alias("word"),
        )
        .groupBy("doc_id", "n_tokens", "word")
        .agg(F.count("*").alias("tf"))
    )
    p = F.col("tf").cast("double") / F.col("n_tokens")
    ln6_micro = (F.round(F.log(p), 6).cast("decimal(18,6)") * 1000000).cast("long")
    reference = (
        tf.groupBy("doc_id", "n_tokens")
        .agg(
            F.count("*").alias("n_types"),
            F.round(F.count("*").cast("double") / F.col("n_tokens"), 6).alias("ttr"),
            F.sum(-F.col("tf") * ln6_micro).alias("_s_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "ttr",
            (
                F.expr("(2 * _s_micro + n_tokens) div (2 * n_tokens)")
                .cast("double")
                / F.lit(1e6)
            ).alias("token_entropy"),
        )
    )
    assert _rows(token_entropy(spark, SF_DIR), "doc_id") == _rows(
        reference, "doc_id"
    )


def test_approx_distinct_sketch_idempotent_under_dedup(spark):
    from streams_prototyping_spark.data import load_table

    ev = load_table(spark, SF_DIR, "events")
    raw = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("a")
    )
    deduped = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("a"))
    )
    assert _rows(raw, "event_type") == _rows(deduped, "event_type")
