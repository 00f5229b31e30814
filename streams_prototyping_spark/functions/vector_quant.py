"""Scalar quantization (SQ8) of the embedding corpus: the int8
compression tier between full-precision floats and product
quantization — FAISS's IndexScalarQuantizer(QT_8bit) expressed as a
DataFrame plan.

A vector store at 100 TB rarely serves raw float32: SQ8 cuts storage
4x with near-exact recall (each dimension quantized independently to
0..255 over its corpus min/max), and unlike PQ it needs no trained
codebook — the "index build" is one per-dimension min/max aggregate.
This module adds the two queries that complete the compression story
next to clustering.pq_encode / pq_adc_topk:

- sq8_encode: per-vector codes + reconstruction error (the storage
  audit: how much fidelity does 8-bit cost on THIS corpus).
- sq8_adc_topk: asymmetric top-k search — full-precision queries
  scored against dequantized candidates (the serving path; queries
  are never quantized, matching FAISS ADC semantics).

Reference parity: the reference (apurvam/streams-prototyping, 408
Java LoC — Aggregations.java, StreamStreamJoin.java) has no vector
operators; SURVEY.md Part C″ extension surface.

Determinism across engines (house recipe):
- codes are computed with floor(t + 0.5), never round(): floor on a
  double is exact in both engines while round()'s half-way rule is
  the classic engine-dependent tie (REFLECTION round-5 item 2);
- the per-dim scale uses only IEEE sub/mul/div on identical doubles —
  bit-identical cross-engine; min/max aggregates are order-free;
- reconstruction error folds left-to-right over the array in both
  engines (Spark aggregate() / DuckDB list_sum — the cosine ops'
  established pattern) and is rounded at 6 dp only at output.

Scale design (100 TB):
- the dim-stats "index" is ONE partial-combined aggregate over
  (dim, x) pairs reduced to d rows, shipped back as a broadcast
  1-row array pair — no shuffle ever carries vectors;
- encode/reconstruct are pure per-row array expressions (map-side,
  codegen lambda, no Python);
- ADC search broadcasts the query side and scores candidates
  map-side; the rank<=k filter collapses to WindowGroupLimit, so
  only O(k) rows per partition survive to the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_prototyping_spark.registry import register
from streams_prototyping_spark.stage_cache import shared_stage
from streams_prototyping_spark.functions.similarity import (
    N_QUERIES,
    TOP_K,
    _Q_DUCK,
    _VECTORS_CTE_DUCK,
    _probe_topk_oracle,
    _queries,
    _vectors,
    probe_topk,
)

SQ_LEVELS = 255  # 8-bit: codes in 0..255


def _sq8_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: vec_id, v (double array), codes (int array),
    recon (dequantized double array). Built once per session — both
    queries and any downstream recall audit reuse it."""

    def build() -> DataFrame:
        vecs = _vectors(spark, sf_dir)
        dims = vecs.select("vec_id", F.posexplode("v").alias("dim", "x"))
        stats = dims.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        srow = stats.agg(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))).alias("mns_s"),
            F.array_sort(F.collect_list(F.struct("dim", "mx"))).alias("mxs_s"),
        ).select(
            F.expr("transform(mns_s, s -> s.mn)").alias("mns"),
            F.expr("transform(mxs_s, s -> s.mx)").alias("mxs"),
        )
        enc = vecs.crossJoin(F.broadcast(srow)).select(
            "vec_id",
            "v",
            "sqnorm",
            # Spark array subscript + transform lambda index are 0-based
            F.expr(
                f"""transform(v, (x, i) -> CASE WHEN mxs[i] = mns[i] THEN 0
                    ELSE CAST(least(CAST({SQ_LEVELS} AS DOUBLE), greatest(0.0D,
                         floor((x - mns[i]) * {SQ_LEVELS}.0D / (mxs[i] - mns[i]) + 0.5D))) AS INT)
                    END)"""
            ).alias("codes"),
            F.col("mns"),
            F.col("mxs"),
        )
        return enc.select(
            "vec_id",
            "v",
            "sqnorm",
            "codes",
            F.expr(
                f"""transform(codes, (c, i) -> mns[i]
                    + CAST(c AS DOUBLE) * (mxs[i] - mns[i]) / {SQ_LEVELS}.0D)"""
            ).alias("recon"),
        )

    return shared_stage(spark, sf_dir, "sq8_enc", build)


# DuckDB twin of the encoded table (lists are 1-based; the zipped
# parallel-unnest builds the (dim, x) pairs; list(... ORDER BY dim)
# pins the array order the Spark side gets from array_sort(struct)).
_SQ8_ENC_CTE = f"""
dims AS (
    SELECT vec_id,
           unnest(range(1, len(v) + 1)) AS dim,
           unnest(v) AS x
    FROM vecs
), dstats AS (
    SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim
), srow AS (
    SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM dstats
), enc AS (
    SELECT vec_id, v, sqnorm,
           list_transform(range(1, len(v) + 1), i -> CASE WHEN mxs[i] = mns[i] THEN 0
               ELSE CAST(least(CAST({SQ_LEVELS} AS DOUBLE), greatest(0.0,
                    floor((v[i] - mns[i]) * {SQ_LEVELS}.0 / (mxs[i] - mns[i]) + 0.5))) AS INT)
               END) AS codes,
           mns, mxs
    FROM vecs CROSS JOIN srow
), deq AS (
    SELECT vec_id, v, sqnorm, codes,
           list_transform(range(1, len(codes) + 1), i -> mns[i]
               + CAST(codes[i] AS DOUBLE) * (mxs[i] - mns[i]) / {SQ_LEVELS}.0) AS recon
    FROM enc
)
"""

_SQ8_ENCODE_ORACLE = f"""
WITH {_VECTORS_CTE_DUCK}, {_SQ8_ENC_CTE}
SELECT vec_id,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       round(list_sum(list_transform(range(1, len(v) + 1),
                                     i -> (v[i] - recon[i]) * (v[i] - recon[i])))
             / len(v), 6) AS mse
FROM deq
"""


@register("sq8_encode", oracle=_SQ8_ENCODE_ORACLE)
def sq8_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 storage audit: per-vector integer code checksum (pins the
    exact code assignment cross-engine) and dequantization MSE (the
    fidelity a 4x storage cut costs on this corpus).

    Scale note: dim-stats index is one d-row aggregate broadcast back;
    encode is a map-side codegen lambda; output is one row per vector
    with no shuffle beyond the stats fold.
    """
    enc = _sq8_encoded(spark, sf_dir)
    return enc.select(
        "vec_id",
        F.expr("aggregate(codes, 0L, (acc, c) -> acc + CAST(c AS LONG))").alias(
            "code_sum"
        ),
        F.round(
            F.expr(
                "aggregate(zip_with(v, recon, (x, r) -> (x - r) * (x - r)),"
                " CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)"
            )
            / F.size("v"),
            6,
        ).alias("mse"),
    )


_SQ8_ADC_ORACLE = _probe_topk_oracle(
    f"""{_VECTORS_CTE_DUCK}, {_SQ8_ENC_CTE},
cand AS (
    SELECT vec_id, recon AS v,
           list_sum(list_transform(recon, x -> x * x)) AS sqnorm
    FROM deq
)""",
    _Q_DUCK,
    "cand",
    None,
    TOP_K,
)


@register("sq8_adc_topk", oracle=_SQ8_ADC_ORACLE)
def sq8_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric SQ8 search: full-precision queries (vec_id <
    {N_QUERIES}) against dequantized candidates, cosine top-{TOP_K}.
    The serving-path contract: compressing the CORPUS must not require
    compressing the QUERY (FAISS ADC semantics) — recall vs the exact
    cosine_topk baseline is the number a store owner watches when
    flipping a collection to int8.

    probe_topk with no key over the shared encoded stage (its docstring
    has the plan).
    """
    enc = _sq8_encoded(spark, sf_dir)
    cand = enc.select(
        "vec_id",
        F.col("recon").alias("v"),
        F.expr(
            "aggregate(transform(recon, x -> x * x), CAST(0.0 AS DOUBLE),"
            " (acc, e) -> acc + e)"
        ).alias("sqnorm"),
    )
    q = _queries(_vectors(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES))
    return probe_topk(cand, q, None, TOP_K)
