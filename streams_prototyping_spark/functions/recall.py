"""ANN recall evaluation dashboard (moved from similarity.py when the
composed IVF-PQ method joined the comparison — this module imports
both similarity and clustering, so it must load after them; see
registry.load_all ordering).

Recall@k of every approximate method against the exact cosine top-k:
LSH, LSH+multi-probe, IVF, IVF+nprobe, and the composed IVF-PQ path.
The probing-dominance property (multi-probe >= base, nprobe >= base)
is pinned in tests/test_corpus_clustering.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_prototyping_spark.functions.clustering import _ivfpq_oracle
from streams_prototyping_spark.functions.similarity import (
    _ANN_ORACLE,
    _IVF_ORACLE,
    _MULTIPROBE_ORACLE,
    _NPROBE_ORACLE,
    _TOPK_ORACLE,
    ANN_TOP_K,
    cosine_topk,
)
from streams_prototyping_spark.registry import register

# method -> (oracle SQL producing (query_id, vec_id [, rnk]), query name)
_RECALL_METHODS = {
    "lsh": (_ANN_ORACLE, "ann_lsh_topk"),
    "lsh_multiprobe": (_MULTIPROBE_ORACLE, "ann_lsh_topk_multiprobe"),
    "ivf": (_IVF_ORACLE, "ann_ivf_topk"),
    "ivf_nprobe": (_NPROBE_ORACLE, "ann_ivf_topk_nprobe"),
    "ivf_pq": (_ivfpq_oracle(), "ivf_pq_topk"),
}


def _recall_oracle() -> str:
    approx_union = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS method, query_id, vec_id FROM ({sql})"
        for name, (sql, _q) in _RECALL_METHODS.items()
    )
    return f"""
WITH exact AS (
    SELECT query_id, vec_id FROM ({_TOPK_ORACLE}) WHERE rnk <= {ANN_TOP_K}
), approx AS (
{approx_union}
)
SELECT a.method, a.query_id,
       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       round(CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / {ANN_TOP_K}, 6) AS recall
FROM approx a
LEFT JOIN exact e ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY a.method, a.query_id
"""


@register("ann_recall_report", oracle=_recall_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{ANN_TOP_K} of each ANN variant (LSH, LSH+multi-probe,
    IVF, IVF+nprobe, composed IVF-PQ) against the exact cosine
    top-{ANN_TOP_K}, per query — the tuning dashboard for the
    bits/probes/cells/code-budget trade-off. Multi-probe/nprobe
    variants must dominate their base variants (asserted in tests).

    Scale note: every input reuses the family's cached index stages;
    the ground-truth side is Q*k rows (broadcast), so the evaluation
    costs one pass over the approximate results regardless of corpus
    size. Evaluating on a SAMPLE of queries (here: all Q) is the
    production pattern.
    """
    from streams_prototyping_spark.registry import QUERIES

    approx = None
    for name, (_sql, qname) in _RECALL_METHODS.items():
        part = QUERIES[qname](spark, sf_dir).select(
            F.lit(name).alias("method"), "query_id", "vec_id"
        )
        approx = part if approx is None else approx.unionByName(part)
    exact = (
        cosine_topk(spark, sf_dir)
        .filter(F.col("rnk") <= ANN_TOP_K)
        .select("query_id", "vec_id", F.lit(1).alias("hit"))
    )
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        approx.join(F.broadcast(exact), ["query_id", "vec_id"], "left")
        .groupBy("method", "query_id")
        .agg(
            n_hits.cast("long").alias("n_hits"),
            F.round(n_hits.cast("double") / ANN_TOP_K, 6).alias("recall"),
        )
    )
