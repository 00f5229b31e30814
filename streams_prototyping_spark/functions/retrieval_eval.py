"""Retrieval evaluation and rank fusion: the measurement layer on top
of the lexical (bm25_topk) and vector (cosine_topk/ann_*) rankers.

- ndcg_at_k: NDCG@10 of the exact-cosine ranking against label
  relevance — the graded list-quality metric next to
  ann_recall_report's set-recall view. DCG discounts use the
  round-ln-round pattern; DCG/IDCG are decimal sums.
- rrf_fusion_topk: Reciprocal Rank Fusion (Cormack 2009,
  score = sum_r 1/(60+rank_r)) of two lexical rankers — raw
  tf-weighted term overlap and Jaccard set overlap — over the shared
  unigram postings index. RRF is THE standard way to merge BM25-ish
  and dense rankers without score calibration; both input rankers
  here are integer/rational so every rank is exactly deterministic.

Reference parity: no retrieval layer exists in the reference
(apurvam/streams-prototyping, 408 Java LoC); SURVEY.md Part C″.

Scale design (100 TB):
- ndcg: reuses the brute-force pair scoring of cosine_topk (declared
  small-query baseline); the metric itself touches only
  queries x K rows after the WindowGroupLimit rank filter.
- rrf: both rankers ride the SAME term-keyed postings join (one
  corpus shuffle in the shared word_tf stage); candidate lists are
  per-query and the rank windows partition by query — no global sort.
  Fusing R rankers adds R rank columns, never R corpus scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streams_prototyping_spark.data import load_table
from streams_prototyping_spark.functions.retrieval import N_QUERY_DOCS, word_tf_df
from streams_prototyping_spark.functions.similarity import (
    _COS_EXPR_DUCK,
    _VECTORS_CTE_DUCK,
    N_QUERIES,
    _vectors,
    cosine,
)
from streams_prototyping_spark.registry import register

NDCG_K = 10
RRF_C = 60
RRF_TOP_K = 5


# ------------------------------------------------------------- NDCG@k

_NDCG_ORACLE = f"""
WITH {_VECTORS_CTE_DUCK},
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
q AS (
    SELECT v.vec_id AS query_id, v.v, v.sqnorm, l.label
    FROM vecs v JOIN lab l USING (vec_id) WHERE v.vec_id < {N_QUERIES}
), pairs AS (
    SELECT q.query_id, q.label AS qlabel, c.vec_id, cl.label AS clabel,
           {_COS_EXPR_DUCK} AS cos_sim
    FROM q JOIN vecs c ON c.vec_id <> q.query_id
    JOIN lab cl ON cl.vec_id = c.vec_id
), ranked AS (
    SELECT query_id, qlabel, vec_id, clabel, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM pairs
), topk AS (
    SELECT query_id, qlabel,
           CASE WHEN clabel = qlabel THEN 1 ELSE 0 END AS rel,
           round(ln(2.0) / ln(rnk + 1.0), 8) AS disc
    FROM ranked WHERE rnk <= {NDCG_K}
), nrel AS (
    SELECT q.query_id, q.label AS qlabel,
           (SELECT count(*) FROM lab c
            WHERE c.label = q.label AND c.vec_id <> q.query_id) AS n_rel_total
    FROM q
), dcg AS (
    SELECT query_id,
           CAST(sum(rel) AS BIGINT) AS n_rel_in_k,
           CAST(sum(CAST(rel * disc AS DECIMAL(18,8))) AS DOUBLE) AS dcg
    FROM topk GROUP BY query_id
), ideal AS (
    SELECT n.query_id,
           CAST(sum(CAST(round(ln(2.0) / ln(i + 1.0), 8) AS DECIMAL(18,8)))
                AS DOUBLE) AS idcg
    FROM nrel n
    CROSS JOIN (SELECT unnest(range(1, {NDCG_K} + 1)) AS i)
    WHERE i <= least({NDCG_K}, n.n_rel_total)
    GROUP BY n.query_id
)
SELECT n.query_id, n.qlabel AS label,
       CAST(n.n_rel_total AS BIGINT) AS n_rel_total,
       CAST(d.n_rel_in_k AS BIGINT) AS n_rel_in_k,
       round(d.dcg, 8) AS dcg,
       round(coalesce(i.idcg, 0.0), 8) AS idcg,
       CASE WHEN coalesce(i.idcg, 0.0) > 0
            THEN round(d.dcg / i.idcg, 6) END AS ndcg
FROM nrel n
JOIN dcg d USING (query_id)
LEFT JOIN ideal i ON i.query_id = n.query_id
"""


@register("ndcg_at_k", oracle=_NDCG_ORACLE)
def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{NDCG_K} of the exact cosine ranking, relevance = same
    label as the query vector. IDCG sums the first min(K, n_rel)
    discounts, so a query whose label has fewer than K members is not
    penalized for the impossible.

    Scale note: pair scoring is the declared brute-force baseline
    (broadcast query side, WindowGroupLimit keeps K rows per query
    per partition); the metric epilogue runs over queries x K rows.
    """
    vecs = _vectors(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    q = (
        vecs.join(lab, "vec_id")
        .where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("sqnorm").alias("q_sqnorm"),
            F.col("label").alias("qlabel"),
        )
    )
    pairs = (
        vecs.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .join(lab, "vec_id")
        .select(
            "query_id",
            "qlabel",
            "vec_id",
            F.col("label").alias("clabel"),
            cosine("qv", "q_sqnorm", "v", "sqnorm").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    topk = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= NDCG_K)
        .select(
            "query_id",
            "qlabel",
            F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
            F.round(F.log(F.lit(2.0)) / F.log(F.col("rnk") + 1.0), 8).alias("disc"),
        )
    )
    label_counts = lab.groupBy("label").agg(F.count(F.lit(1)).alias("label_n"))
    nrel = (
        q.select("query_id", "qlabel")
        .join(F.broadcast(label_counts), F.col("qlabel") == F.col("label"))
        .select(
            "query_id", "qlabel", (F.col("label_n") - 1).alias("n_rel_total")
        )
    )
    dcg = topk.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_rel_in_k"),
        F.sum((F.col("rel") * F.col("disc")).cast("decimal(18,8)"))
        .cast("double")
        .alias("dcg"),
    )
    spine = spark.range(1, NDCG_K + 1).select(F.col("id").alias("i"))
    ideal = (
        nrel.crossJoin(F.broadcast(spine))
        .where(F.col("i") <= F.least(F.lit(NDCG_K), F.col("n_rel_total")))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.round(F.log(F.lit(2.0)) / F.log(F.col("i") + 1.0), 8).cast(
                    "decimal(18,8)"
                )
            )
            .cast("double")
            .alias("idcg")
        )
    )
    return (
        nrel.join(dcg, "query_id")
        .join(ideal, "query_id", "left")
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            F.col("n_rel_total").cast("long").alias("n_rel_total"),
            "n_rel_in_k",
            F.round("dcg", 8).alias("dcg"),
            F.round(F.coalesce(F.col("idcg"), F.lit(0.0)), 8).alias("idcg"),
            F.when(
                F.coalesce(F.col("idcg"), F.lit(0.0)) > 0,
                F.round(F.col("dcg") / F.col("idcg"), 6),
            ).alias("ndcg"),
        )
    )


# -------------------------------------------- reciprocal rank fusion

_RRF_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
    SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word
), nd AS (
    SELECT doc_id, count(*) AS n_terms FROM tf GROUP BY doc_id
), q AS (
    SELECT doc_id AS query_doc, word FROM tf WHERE doc_id < {N_QUERY_DOCS}
), overlap AS (
    SELECT q.query_doc, tf.doc_id AS cand_doc,
           count(*) AS inter,
           sum(tf.tf) AS tf_overlap
    FROM q JOIN tf ON tf.word = q.word AND tf.doc_id <> q.query_doc
    GROUP BY 1, 2
), scored AS (
    SELECT o.query_doc, o.cand_doc,
           CAST(o.inter AS BIGINT) AS inter,
           CAST(o.tf_overlap AS BIGINT) AS tf_overlap,
           CAST(o.inter AS DOUBLE) / (nq.n_terms + nc.n_terms - o.inter)
               AS jac
    FROM overlap o
    JOIN nd nq ON nq.doc_id = o.query_doc
    JOIN nd nc ON nc.doc_id = o.cand_doc
), ranked AS (
    SELECT query_doc, cand_doc, inter, tf_overlap,
           round(jac, 6) AS jaccard,
           row_number() OVER (PARTITION BY query_doc
                              ORDER BY tf_overlap DESC, cand_doc) AS r_overlap,
           row_number() OVER (PARTITION BY query_doc
                              ORDER BY jac DESC, cand_doc) AS r_jaccard
    FROM scored
), fused AS (
    SELECT query_doc, cand_doc, inter, tf_overlap, jaccard,
           CAST(r_overlap AS BIGINT) AS r_overlap,
           CAST(r_jaccard AS BIGINT) AS r_jaccard,
           round(1.0 / ({RRF_C} + r_overlap) + 1.0 / ({RRF_C} + r_jaccard), 10)
               AS rrf_score
    FROM ranked
)
SELECT query_doc, cand_doc, inter, tf_overlap, jaccard,
       r_overlap, r_jaccard, rrf_score,
       CAST(rnk AS BIGINT) AS rnk
FROM (
    SELECT fused.*,
           row_number() OVER (PARTITION BY query_doc
                              ORDER BY rrf_score DESC, cand_doc) AS rnk
    FROM fused
) WHERE rnk <= {RRF_TOP_K}
"""


@register("rrf_fusion_topk", oracle=_RRF_ORACLE)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion top-{RRF_TOP_K}: fuse a tf-weighted
    overlap ranker and a Jaccard set-overlap ranker with
    score = 1/({RRF_C}+r1) + 1/({RRF_C}+r2) over the shared candidate
    list (docs sharing >= 1 term). Both input rankers are
    integer/rational, so ranks — and therefore the fusion — are
    exactly deterministic with id tie-breaks.

    Scale note: one term-keyed postings join produces BOTH rankers'
    sufficient statistics (inter, tf_overlap) in a single fold; the
    three rank windows all partition by query. Fusion never rescans
    the corpus — the property that makes RRF the production choice
    for hybrid dense+lexical retrieval.
    """
    tf = word_tf_df(spark, sf_dir)
    nd = tf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_terms"))
    q = tf.where(F.col("doc_id") < N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_doc"), "word"
    )
    overlap = (
        tf.withColumnRenamed("doc_id", "cand_doc")
        .join(F.broadcast(q), "word")
        .filter(F.col("cand_doc") != F.col("query_doc"))
        .groupBy("query_doc", "cand_doc")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.sum("tf").alias("tf_overlap"),
        )
    )
    nq = nd.select(F.col("doc_id").alias("qd"), F.col("n_terms").alias("nq"))
    nc = nd.select(F.col("doc_id").alias("cd"), F.col("n_terms").alias("nc"))
    scored = (
        overlap.join(F.broadcast(nq), F.col("qd") == F.col("query_doc"))
        .join(nc, F.col("cd") == F.col("cand_doc"))
        .select(
            "query_doc",
            "cand_doc",
            F.col("inter").cast("long").alias("inter"),
            F.col("tf_overlap").cast("long").alias("tf_overlap"),
            (
                F.col("inter").cast("double")
                / (F.col("nq") + F.col("nc") - F.col("inter"))
            ).alias("jac"),
        )
    )
    wq = Window.partitionBy("query_doc")
    ranked = scored.select(
        "query_doc",
        "cand_doc",
        "inter",
        "tf_overlap",
        F.round("jac", 6).alias("jaccard"),
        F.row_number()
        .over(wq.orderBy(F.col("tf_overlap").desc(), F.col("cand_doc")))
        .cast("long")
        .alias("r_overlap"),
        F.row_number()
        .over(wq.orderBy(F.col("jac").desc(), F.col("cand_doc")))
        .cast("long")
        .alias("r_jaccard"),
    )
    fused = ranked.withColumn(
        "rrf_score",
        F.round(
            1.0 / (RRF_C + F.col("r_overlap")) + 1.0 / (RRF_C + F.col("r_jaccard")),
            10,
        ),
    )
    return (
        fused.withColumn(
            "rnk",
            F.row_number()
            .over(wq.orderBy(F.col("rrf_score").desc(), F.col("cand_doc")))
            .cast("long"),
        )
        .where(F.col("rnk") <= RRF_TOP_K)
    )


# ------------------------------------------- MMR diversified rerank

MMR_CAND = 8   # relevance-ranked candidate pool per query
MMR_K = 4      # diversified picks per query
# lambda = 0.7: score = 0.7*relevance - 0.3*max-sim-to-selected


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as a CTE chain: seed = argmax relevance,
    then MMR_K-1 steps of penalize-and-argmax. Anti-joins express
    'not yet selected'; every score is rounded at 6 dp before the
    rank comparison, mirroring the Spark side exactly."""
    from streams_prototyping_spark.functions.similarity import (
        _Q_DUCK,
        _VECTORS_CTE_DUCK,
        _probe_topk_oracle,
        cosine_duck,
    )

    exact = _probe_topk_oracle(_VECTORS_CTE_DUCK, _Q_DUCK, "vecs", None, MMR_CAND)
    head = f"""
WITH {_VECTORS_CTE_DUCK},
cand AS (
    SELECT query_id, vec_id, cos_sim AS rel FROM ({exact})
), cv AS (
    SELECT c.query_id, c.vec_id, c.rel, v.v, v.sqnorm
    FROM cand c JOIN vecs v USING (vec_id)
), sim AS (
    SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
           {cosine_duck("a.v", "a.sqnorm", "b.v", "b.sqnorm")} AS sim
    FROM cv a JOIN cv b
      ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
), sel1 AS (
    SELECT query_id, vec_id, rel, CAST(1 AS BIGINT) AS mmr_rank FROM (
        SELECT query_id, vec_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id) AS rn
        FROM cand
    ) WHERE rn = 1
)"""
    steps = []
    for t in range(2, MMR_K + 1):
        prev = f"sel{t - 1}"
        steps.append(f""",
pen{t} AS (
    SELECT s.query_id, s.a_id AS vec_id, max(s.sim) AS pen
    FROM sim s
    JOIN {prev} t ON t.query_id = s.query_id AND t.vec_id = s.b_id
    LEFT JOIN {prev} d ON d.query_id = s.query_id AND d.vec_id = s.a_id
    WHERE d.vec_id IS NULL
    GROUP BY s.query_id, s.a_id
), pick{t} AS (
    SELECT query_id, vec_id, rel, CAST({t} AS BIGINT) AS mmr_rank FROM (
        SELECT c.query_id, c.vec_id, c.rel,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY round(0.7 * c.rel - 0.3 * p.pen, 6) DESC,
                                           c.vec_id) AS rn
        FROM cand c JOIN pen{t} p
          ON p.query_id = c.query_id AND p.vec_id = c.vec_id
    ) WHERE rn = 1
), sel{t} AS (
    SELECT * FROM {prev} UNION ALL SELECT * FROM pick{t}
)""")
    return head + "".join(steps) + f"""
SELECT query_id, vec_id, rel, mmr_rank FROM sel{MMR_K}
"""


@register("mmr_rerank", oracle=_mmr_oracle())
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): rerank
    each query's top-{MMR_CAND} cosine candidates into {MMR_K}
    diversified picks — greedy argmax of
    0.7*relevance - 0.3*max_sim_to_already_selected. THE standard
    redundancy-vs-relevance tradeoff for retrieval-augmented data
    selection (picking support documents that aren't near-duplicates
    of each other).

    Reference parity: no retrieval layer in the reference; Part C″.

    Determinism: relevance, pairwise sims, and every greedy score are
    rounded at 6 dp BEFORE the rank comparison; ties break on vec_id.
    The greedy loop is unrolled identically on both engines
    ({MMR_K - 1} penalize-and-argmax steps over the candidate pool).

    Scale note: the corpus-sized work is the candidate generation
    (broadcast query side, WindowGroupLimit top-{MMR_CAND}); the
    greedy loop then touches only queries x {MMR_CAND} rows — its
    joins/windows are per-query and partition on query_id, so the
    rerank costs O(Q * CAND^2) no matter the corpus size. At
    production scale candidates would come from the ANN index
    (ann_ivf_topk) instead of brute force — a source swap, the rerank
    plan is unchanged.
    """
    from streams_prototyping_spark.functions.similarity import (
        _vectors,
        exact_topt_df,
    )

    vecs = _vectors(spark, sf_dir)
    # candidate pool from the shared exact-scores stage (r11): the
    # brute-force corpus scoring pass runs once per session instead of
    # once per execution; same scores, same ordering, same top-8.
    cand = exact_topt_df(spark, sf_dir, MMR_CAND).select(
        "query_id", "vec_id", F.col("cos_sim").alias("rel")
    )
    # checkpoint the candidate table BEFORE deriving the pairwise sims
    # from it — otherwise the sim build re-executes the corpus-sized
    # candidate generation a second time (measured ~2x the query cost).
    # coalesce(1): the loop tables are a few hundred rows; 1 partition
    # = 1 task per unrolled-step stage instead of an idle 32-task fleet.
    cand = cand.coalesce(1).localCheckpoint(eager=True)
    # every loop-side table is queries x MMR_CAND rows — broadcast
    # them all so the unrolled steps plan as BroadcastHashJoins with no
    # exchange (an SMJ over a 40-row table is pure scheduler overhead)
    cv = vecs.join(F.broadcast(cand), "vec_id").select(
        "query_id", "vec_id", "rel", "v", "sqnorm"
    )
    a = cv.alias("a")
    b = cv.alias("b")
    sim = a.join(
        b,
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.col("a.vec_id").alias("a_id"),
        F.col("b.vec_id").alias("b_id"),
        cosine("a.v", "a.sqnorm", "b.v", "b.sqnorm").alias("sim"),
    )
    sim = sim.coalesce(1).localCheckpoint(eager=True)
    sel = (
        cand.select(
            "query_id", "vec_id", "rel", F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "vec_id")
            ).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("query_id", "vec_id", "rel", F.lit(1).cast("long").alias("mmr_rank"))
    )
    for t in range(2, MMR_K + 1):
        pen = (
            sim.join(
                F.broadcast(sel.select("query_id", F.col("vec_id").alias("b_id"))),
                ["query_id", "b_id"],
            )
            .join(
                F.broadcast(sel.select("query_id", F.col("vec_id").alias("a_id"))),
                ["query_id", "a_id"],
                "left_anti",
            )
            .groupBy("query_id", F.col("a_id").alias("vec_id"))
            .agg(F.max("sim").alias("pen"))
        )
        wt = Window.partitionBy("query_id").orderBy(
            F.round(F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("pen"), 6).desc(),
            "vec_id",
        )
        pick = (
            cand.join(F.broadcast(pen), ["query_id", "vec_id"])
            .select("query_id", "vec_id", "rel", F.row_number().over(wt).alias("rn"))
            .filter(F.col("rn") == 1)
            .select(
                "query_id", "vec_id", "rel", F.lit(t).cast("long").alias("mmr_rank")
            )
        )
        # each step references sel three times (pen's equi+anti joins,
        # the union) — without a per-round checkpoint the final plan
        # re-derives every earlier step per reference (the cc_star
        # lineage lesson: iterative loops referencing their input more
        # than once must checkpoint, not just cache). r11 NOTE (measured): switching
        # these to lazy checkpoints (eager=False) read 2.00 s vs 1.52 s
        # isolated at sf0.1 — the deferred materialization re-enters
        # the checkpoint machinery inside the consumer job and costs
        # more than the 5 small blocking jobs it saves. Kept eager.
        sel = sel.unionAll(pick).coalesce(1).localCheckpoint(eager=True)
    return sel
