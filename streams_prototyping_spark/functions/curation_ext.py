"""Curation extensions: blocklist gating, BPE merge statistics,
kNN label evaluation, and MinHash estimator calibration.

Four operators a training-data team runs around the core dedup/quality
pipeline:

- blocklist_filter: the C4-style bad-word gate, as a *fraction*
  threshold rather than any-hit (any-hit is a degenerate config of the
  same query).
- bpe_pair_counts: the inner loop of BPE tokenizer training — corpus
  adjacent-symbol pair counts weighted by word frequency, ranked for
  the next merge decision.
- knn_label_eval: leave-one-out kNN classification accuracy over the
  embedding space, computed within LSH buckets (the label-quality /
  embedding-quality health check before training on either).
- minhash_estimate_error: calibration of the MinHash Jaccard estimator
  against exact shingle Jaccard on the SAME candidate pairs — the
  report that justifies (or indicts) the k={K_PERMS} signature width.

Scale design (100 TB): blocklist and BPE counting are scan + one
partial-combined aggregation each (the blocklist broadcasts; pair
fan-out is bounded by word length). kNN eval joins within LSH buckets
only — never all-pairs — and reuses the persisted bucket index the ANN
family already built. The calibration report runs on O(candidate
pairs), which LSH banding keeps near-linear in true duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streams_prototyping_spark.data import load_table, widen
from streams_prototyping_spark.functions.dedup import (
    EST_JACCARD_MIN,
    K_PERMS,
    minhash_lsh_pairs_df,
    shingled_df,
)
from streams_prototyping_spark.functions.similarity import (
    _BUCKETS_CTE_DUCK,
    _COS_EXPR_DUCK,
    _VECTORS_CTE_DUCK,
    _bucketed,
    cosine,
)
from streams_prototyping_spark.registry import register
from streams_prototyping_spark.stage_cache import shared_stage

# ------------------------------------------------------- blocklist gate

BLOCKLIST = ("slow", "dup", "stale")  # one home; SQL twin derives from it
BLOCK_FRAC_MAX = 0.02                 # keep docs with <= 2% blocked tokens

_BLOCKLIST_SQL = ", ".join(f"'{w}'" for w in BLOCKLIST)

_BLOCKLIST_ORACLE = f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS words FROM documents
)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(len(list_filter(words, x -> x IN ({_BLOCKLIST_SQL}))) AS BIGINT)
           AS n_blocked,
       round(CAST(len(list_filter(words, x -> x IN ({_BLOCKLIST_SQL}))) AS DOUBLE)
             / len(words), 6) AS blocked_frac,
       (CAST(len(list_filter(words, x -> x IN ({_BLOCKLIST_SQL}))) AS DOUBLE)
             / len(words) <= {BLOCK_FRAC_MAX}) AS keep
FROM w
"""


@register("blocklist_filter", oracle=_BLOCKLIST_ORACLE)
def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist token gate (C4 §2.1 shape): count blocklisted tokens
    per document and keep docs whose blocked fraction is <=
    {BLOCK_FRAC_MAX}. The any-hit C4 policy is the threshold-0 config
    of the same query; the fraction form survives long documents where
    one incidental token should not nuke 10k good words.

    Scale note: pure scan work — the blocklist is a literal IN-list
    (a broadcast lookup at realistic list sizes), counting happens
    in one codegen'd higher-order filter, no shuffle at all.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    in_list = ", ".join(f"'{w}'" for w in BLOCKLIST)
    n_blocked = F.size(F.expr(f"filter(split(text, ' '), x -> x IN ({in_list}))"))
    frac = n_blocked.cast("double") / F.size(words)
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        n_blocked.cast("long").alias("n_blocked"),
        F.round(frac, 6).alias("blocked_frac"),
        (frac <= BLOCK_FRAC_MAX).alias("keep"),
    )


# -------------------------------------------------- BPE pair counting

BPE_TOP = 40  # report the top merge candidates

_BPE_ORACLE = f"""
WITH wc AS (
    SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) GROUP BY w
), pairs AS (
    SELECT substring(w, i, 2) AS pair, freq
    FROM wc, unnest(range(1, len(w))) AS t(i)
    WHERE len(w) >= 2
), counted AS (
    SELECT pair, sum(freq) AS pair_count FROM pairs GROUP BY pair
)
SELECT pair, pair_count, rnk FROM (
    SELECT pair, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
               AS rnk
    FROM counted
) WHERE rnk <= {BPE_TOP}
"""


@register("bpe_pair_counts", oracle=_BPE_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, inner loop: adjacent character-pair
    counts over the corpus vocabulary weighted by word frequency,
    ranked to pick the next merge — one full round of the
    Sennrich et al. BPE algorithm expressed as two aggregations.
    (Successive rounds re-run the same query over the re-segmented
    vocabulary; the counting shape — the expensive part — is
    identical each round.)

    Scale note: the corpus collapses to its VOCABULARY first (the
    word-frequency aggregate), so pair explosion runs over distinct
    words only — fan-out is word length, not corpus size. Both
    aggregations partial-combine; the final top-{BPE_TOP} is a
    single-reducer WindowGroupLimit over the tiny pair table.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
    )
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    return (
        pairs.select(
            "pair", "pair_count", F.row_number().over(w).cast("long").alias("rnk")
        )
        .filter(F.col("rnk") <= BPE_TOP)
    )


# ---------------------------------------------------- kNN label eval

KNN_K = 3
# Round-8 cap (the sf100 sweep's catch, alpha 1.62/876 s at sf100): the
# LOO eval used EVERY vector as a query against its WHOLE bucket, so
# candidate volume is sum(bn^2) — quadratic in the duplication rate,
# exactly the blowup the sub-block caps bound elsewhere. A sub-block
# cap is wrong HERE (it would shrink the neighbor POOL and change what
# the metric measures); the principled bound for an accuracy ESTIMATE
# is sampling the QUERY side: at most KNN_QUERY_CAP hash-selected
# queries per bucket, each still ranked against its full bucket.
# Total candidate volume is bounded at O(n * cap) for ANY duplication
# rate; below-cap buckets evaluate every vector, so small corpora are
# (mostly) unchanged and the estimate stays exact where sampling isn't
# needed. Selection is the portable md5 hash (salt 'knq:') with vec_id
# tie-break — deterministic, identical in both engines, independent of
# the sub-split hash's salt.
KNN_QUERY_CAP = 128

_KNN_ORACLE = f"""
WITH {_VECTORS_CTE_DUCK},
{_BUCKETS_CTE_DUCK},
lab AS (SELECT vec_id, label FROM embeddings),
q AS (
    SELECT vec_id AS query_id, v, sqnorm, bucket FROM (
        SELECT vec_id, v, sqnorm, bucket,
               row_number() OVER (
                   PARTITION BY bucket
                   ORDER BY CAST('0x' || substr(md5('knq:' ||
                                CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
                            vec_id) AS qrn
        FROM bucketed
    ) WHERE qrn <= {KNN_QUERY_CAP}
),
nbrs AS (
    SELECT q.query_id, c.vec_id, {_COS_EXPR_DUCK} AS cos_sim
    FROM q JOIN bucketed c
      ON c.bucket = q.bucket AND c.vec_id <> q.query_id
), topk AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM nbrs
    ) WHERE rn <= {KNN_K}
), votes AS (
    SELECT t.query_id, l.label AS n_label, count(*) AS n_votes
    FROM topk t JOIN lab l ON l.vec_id = t.vec_id
    GROUP BY 1, 2
), pred AS (
    SELECT query_id, n_label AS predicted FROM (
        SELECT query_id, n_label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, n_label) AS rn
        FROM votes
    ) WHERE rn = 1
), elig AS (
    -- vectors a cap-free LOO would evaluate (bucket has a neighbor):
    -- the denominator that makes the query-side sampling VISIBLE in
    -- the output (VERDICT r8 item 6) instead of only in the docstring
    SELECT l.label, CAST(count(*) AS BIGINT) AS n_eligible
    FROM bucketed b
    JOIN (SELECT bucket, count(*) AS bc FROM bucketed GROUP BY bucket) c
      ON c.bucket = b.bucket
    JOIN lab l ON l.vec_id = b.vec_id
    WHERE c.bc >= 2
    GROUP BY l.label
), acc AS (
    SELECT l.label,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN p.predicted = l.label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           round(CAST(sum(CASE WHEN p.predicted = l.label THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS accuracy
    FROM pred p JOIN lab l ON l.vec_id = p.query_id
    GROUP BY l.label
)
-- LEFT join from elig (ADVICE r9): a label whose members are all
-- eligible but never hash-selected as queries (cap sampled out in
-- every bucket) exists in elig only — it must surface as n_eval = 0 /
-- sampled = true, not vanish. accuracy stays NULL (0/0 undefined).
SELECT e.label, COALESCE(a.n_eval, 0) AS n_eval, e.n_eligible,
       COALESCE(a.n_eval, 0) < e.n_eligible AS sampled,
       COALESCE(a.n_correct, 0) AS n_correct, a.accuracy
FROM elig e LEFT JOIN acc a ON a.label = e.label
"""


@register("knn_label_eval", oracle=_KNN_ORACLE)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out {KNN_K}-NN classification accuracy per label over
    the embedding space, with neighbors drawn from the vector's LSH
    bucket — the standard label-quality / embedding-quality health
    check run before training a classifier on either. Low accuracy for
    one label = that class is entangled in embedding space (or its
    labels are noisy).

    Determinism: cosine is rounded to 6 dp with vec_id tie-break for
    the top-k; majority votes tie-break toward the smallest label.
    Vectors whose bucket has no other member are excluded (n_eval
    counts evaluated vectors only).

    Scale note: candidate generation is the same keyed bucket join as
    `embedding_near_dup_pairs`, reusing the persisted LSH index stage;
    everything downstream runs on O(queries * k) rows. Exact-kNN-over-
    everything would be the cross product this repo bans. The QUERY
    side is capped at {KNN_QUERY_CAP} hash-selected vectors per bucket
    (see KNN_QUERY_CAP above — the round-8 sf100 catch): the accuracy
    estimate is computed over a deterministic per-bucket subsample when
    buckets are oversized, bounding total candidate volume at
    O(n * {KNN_QUERY_CAP}) for any duplication rate while each
    evaluated query still ranks its FULL bucket (neighbor quality
    unchanged — only how many LOO trials are run is sampled). The
    sampling is visible in the OUTPUT, not just here: `n_eligible` is
    the cap-free evaluation population per label and `sampled` flags
    n_eval < n_eligible (VERDICT r8 item 6).
    """
    from streams_prototyping_spark.functions.portable_hash import portable_hash64

    bucketed = _bucketed(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    wsel = Window.partitionBy("bucket").orderBy(
        portable_hash64(
            F.concat(F.lit("knq:"), F.col("vec_id").cast("string"))
        ),
        "vec_id",
    )
    q = (
        bucketed.withColumn("qrn", F.row_number().over(wsel))
        .filter(F.col("qrn") <= KNN_QUERY_CAP)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("sqnorm").alias("q_sqnorm"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    # r11 (the banded-family fix, guide §2.5/§2.2): the bucket join's
    # reduce parallelism derives from the candidate bound n·occ — AQE
    # coalesces by MAP-output bytes (narrow index rows) and cannot see
    # the per-bucket fan-out, so the stage scoring every candidate
    # cosine collapsed to a handful of tasks. Scale-adaptive (corpus-
    # derived), not a local[32] constant.
    from streams_prototyping_spark.data import PAIRS_PER_TASK, fanout_width, table_n
    from streams_prototyping_spark.functions.similarity import TARGET_BUCKET_OCC

    cand = table_n(spark, sf_dir, "embeddings") * min(TARGET_BUCKET_OCC, KNN_QUERY_CAP)
    parts = fanout_width(spark, cand, PAIRS_PER_TASK)
    nbrs = bucketed.repartition(parts, "bucket").join(
        q.repartition(parts, "q_bucket"),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        cosine("qv", "q_sqnorm", "v", "sqnorm").alias("cos_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    topk = (
        nbrs.select("query_id", "vec_id", F.row_number().over(wq).alias("rn"))
        .filter(F.col("rn") <= KNN_K)
        .select("query_id", "vec_id")
    )
    votes = (
        topk.join(lab, "vec_id")
        .groupBy("query_id", F.col("label").alias("n_label"))
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("n_label"))
    pred = (
        votes.select("query_id", "n_label", F.row_number().over(wv).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("predicted"))
    )
    correct = F.when(F.col("predicted") == F.col("label"), 1).otherwise(0)
    acc = (
        pred.join(lab, pred["query_id"] == lab["vec_id"])
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(correct).cast("long").alias("n_correct"),
            F.round(
                F.sum(correct).cast("double") / F.count(F.lit(1)), 6
            ).alias("accuracy"),
        )
    )
    # n_eligible = what a cap-free LOO would evaluate (bucket has ≥2
    # members) — surfacing the query-side sampling in the OUTPUT
    # (VERDICT r8 item 6): n_eval < n_eligible ⇔ the per-bucket query
    # cap engaged for this label's buckets
    bc = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("bc"))
    elig = (
        bucketed.join(bc, "bucket")
        .filter(F.col("bc") >= 2)
        .join(lab, "vec_id")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eligible"))
    )
    # LEFT join from elig (ADVICE r9): a label can be fully eligible
    # yet never hash-selected as a query (cap sampled it out in every
    # bucket) — it exists in elig only and must surface as n_eval = 0 /
    # sampled = true rather than vanish. accuracy stays NULL (0/0).
    return elig.join(acc, "label", "left").select(
        "label",
        F.coalesce(F.col("n_eval"), F.lit(0)).cast("long").alias("n_eval"),
        "n_eligible",
        (F.coalesce(F.col("n_eval"), F.lit(0)) < F.col("n_eligible")).alias(
            "sampled"
        ),
        F.coalesce(F.col("n_correct"), F.lit(0)).cast("long").alias("n_correct"),
        "accuracy",
    )


# ------------------------------------- MinHash estimator calibration

def _minhash_err_oracle() -> str:
    # the LSH pairs oracle already carries (doc_a, doc_b, est_jaccard)
    # and the shingled CTE; reuse its text verbatim as a subquery.
    from streams_prototyping_spark.functions.dedup import _LSH_PAIRS_ORACLE

    inner = _LSH_PAIRS_ORACLE.strip()
    if inner.upper().startswith("WITH"):
        # splice: WITH <ctes> SELECT ... -> our CTE chain
        idx = inner.rindex("SELECT")
        ctes = inner[4:idx].strip().rstrip(",")
        tail = inner[idx:]
        return (
            "WITH RECURSIVE "
            + ctes
            + ", pairs_est AS ("
            + tail
            + """), exact AS (
    SELECT p.doc_a, p.doc_b, p.est_jaccard,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / (len(x.shingles) + len(y.shingles)
                - len(list_intersect(x.shingles, y.shingles))) AS jaccard
    FROM pairs_est p
    JOIN shingled x ON x.doc_id = p.doc_a
    JOIN shingled y ON y.doc_id = p.doc_b
)
SELECT est_jaccard,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(round(jaccard, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_exact,
       round(CAST(sum(CAST(round(abs(est_jaccard - jaccard), 6) AS DECIMAL(18,6)))
             AS DOUBLE) / count(*), 6) AS mae
FROM exact
GROUP BY est_jaccard
"""
        )
    raise AssertionError("unexpected _LSH_PAIRS_ORACLE shape")


@register("minhash_estimate_error", oracle=_minhash_err_oracle())
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair
    (est_jaccard >= {EST_JACCARD_MIN}), compare the k={K_PERMS}
    signature estimate against exact shingle Jaccard, grouped by the
    (discrete, k-quantized) estimate value — the report that tells a
    pipeline owner whether the signature width is adequate before they
    trust the threshold (E[est] = J; spread at fixed est shrinks as
    1/sqrt(k)).

    Determinism: exact Jaccard is an int/int double division; per-pair
    values are rounded to 6 dp then decimal-summed so group means
    cannot fork on aggregation order.

    Scale note: runs on O(candidate pairs) — the same two-phase
    LSH-then-verify shape as ngram_jaccard_pairs, sharing its
    persisted shingle and signature stages.
    """
    pairs = minhash_lsh_pairs_df(spark, sf_dir).select(
        "doc_a", "doc_b", "est_jaccard"
    )
    shingled = shingled_df(spark, sf_dir)
    x, y = shingled.alias("x"), shingled.alias("y")
    inter = F.size(F.array_intersect(F.col("x.shingles"), F.col("y.shingles")))
    union = F.size(F.col("x.shingles")) + F.size(F.col("y.shingles")) - inter
    exact = (
        pairs.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, F.col("y.doc_id") == F.col("doc_b"))
        .select("est_jaccard", (inter.cast("double") / union).alias("jaccard"))
    )
    return exact.groupBy("est_jaccard").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum(F.round("jaccard", 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_exact"),
        F.round(
            F.sum(
                F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).cast(
                    "decimal(18,6)"
                )
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mae"),
    )


# ------------------------------------------------ lang-ID confusion

_LANG_CONF_ORACLE = """
WITH pred AS (
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN ratio >= {en_min} THEN 'en'
                WHEN ratio >= {enlike_min} THEN 'en-like'
                ELSE 'unknown' END AS predicted_lang
    FROM (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ({stoplist}))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ratio
        FROM documents
    )
)
SELECT labeled_lang, predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(count(*) AS DOUBLE) / sum(count(*))
             OVER (PARTITION BY labeled_lang), 6) AS frac_of_label
FROM pred
GROUP BY labeled_lang, predicted_lang
"""


def _lang_conf_oracle() -> str:
    from streams_prototyping_spark.functions.text import (
        _STOP_LIST_SQL,
        LANG_EN_MIN,
        LANG_ENLIKE_MIN,
    )

    return _LANG_CONF_ORACLE.format(
        stoplist=_STOP_LIST_SQL, en_min=LANG_EN_MIN, enlike_min=LANG_ENLIKE_MIN
    )


@register("lang_confusion_matrix", oracle=_lang_conf_oracle())
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-ratio language-ID heuristic
    against the gold `lang` column: per (gold, predicted) cell count
    and within-gold-label fraction — the calibration report that turns
    `lang_id_heuristic` from a score into a defensible filter ("at
    this threshold we keep X% of true English and Y% of German
    leaks through").

    Scale note: one scan + one tiny two-key aggregate; the window
    normalization runs over the O(langs²) cell table.
    """
    from streams_prototyping_spark.registry import QUERIES

    pred = QUERIES["lang_id_heuristic"](spark, sf_dir)
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6).alias(
            "frac_of_label"
        ),
    )


# --------------------------------------------- weak-supervision vote

WS_MIN_WORDS_KEEP = 50   # LF_length: >= keep, [WS_MIN_WORDS_DROP, ..) abstain
WS_MIN_WORDS_DROP = 30

_WS_ORACLE = f"""
WITH feat AS (
    SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_words,
           CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ({_BLOCKLIST_SQL}))) AS DOUBLE)
               / len(string_split(text, ' ')) AS blocked_frac
    FROM documents
), votes AS (
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS v_lang,
           CASE WHEN n_words >= {WS_MIN_WORDS_KEEP} THEN 1
                WHEN n_words < {WS_MIN_WORDS_DROP} THEN -1 ELSE 0 END AS v_len,
           CASE WHEN blocked_frac > {BLOCK_FRAC_MAX} THEN -1 ELSE 0 END AS v_block
    FROM feat
)
SELECT doc_id,
       CAST(CAST(v_lang = 1 AS INT) + CAST(v_len = 1 AS INT) + CAST(v_block = 1 AS INT) AS BIGINT) AS votes_keep,
       CAST(CAST(v_lang = -1 AS INT) + CAST(v_len = -1 AS INT) + CAST(v_block = -1 AS INT) AS BIGINT) AS votes_drop,
       CAST(CAST(v_lang = 0 AS INT) + CAST(v_len = 0 AS INT) + CAST(v_block = 0 AS INT) AS BIGINT) AS votes_abstain,
       CASE WHEN CAST(v_lang = 1 AS INT) + CAST(v_len = 1 AS INT) + CAST(v_block = 1 AS INT)
                 > CAST(v_lang = -1 AS INT) + CAST(v_len = -1 AS INT) + CAST(v_block = -1 AS INT) THEN 'keep'
            WHEN CAST(v_lang = -1 AS INT) + CAST(v_len = -1 AS INT) + CAST(v_block = -1 AS INT)
                 > CAST(v_lang = 1 AS INT) + CAST(v_len = 1 AS INT) + CAST(v_block = 1 AS INT) THEN 'drop'
            ELSE 'review' END AS verdict,
       (CAST(v_lang = 1 AS INT) + CAST(v_len = 1 AS INT) + CAST(v_block = 1 AS INT) > 0
        AND CAST(v_lang = -1 AS INT) + CAST(v_len = -1 AS INT) + CAST(v_block = -1 AS INT) > 0) AS conflict
FROM votes
"""


@register("weak_supervision_vote", oracle=_WS_ORACLE)
def weak_supervision_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snorkel-style weak supervision: three labeling functions
    (language, length, blocklist) each vote keep/drop/abstain per
    document; majority wins, ties go to 'review', and the conflict
    flag marks docs where LFs disagree outright — the programmatic
    labeling primitive for bootstrapping a quality classifier, with
    the disagreement surface (the thing you'd route to human review
    or a learned label model) made explicit.

    Scale note: all three LFs evaluate in ONE scan (they are
    projections of the same row); the verdict is row-local — no
    shuffle anywhere.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    n_words = F.size(words)
    blocked_frac = (
        F.size(F.expr(f"filter(split(text, ' '), x -> x IN ({_BLOCKLIST_SQL}))"))
        .cast("double")
        / n_words
    )
    v_lang = F.when(F.col("lang") == "en", 1).otherwise(-1)
    v_len = (
        F.when(n_words >= WS_MIN_WORDS_KEEP, 1)
        .when(n_words < WS_MIN_WORDS_DROP, -1)
        .otherwise(0)
    )
    v_block = F.when(blocked_frac > BLOCK_FRAC_MAX, -1).otherwise(0)
    keeps = (
        (v_lang == 1).cast("int") + (v_len == 1).cast("int") + (v_block == 1).cast("int")
    )
    drops = (
        (v_lang == -1).cast("int")
        + (v_len == -1).cast("int")
        + (v_block == -1).cast("int")
    )
    abstains = (
        (v_lang == 0).cast("int") + (v_len == 0).cast("int") + (v_block == 0).cast("int")
    )
    return d.select(
        "doc_id",
        keeps.cast("long").alias("votes_keep"),
        drops.cast("long").alias("votes_drop"),
        abstains.cast("long").alias("votes_abstain"),
        F.when(keeps > drops, "keep")
        .when(drops > keeps, "drop")
        .otherwise("review")
        .alias("verdict"),
        ((keeps > 0) & (drops > 0)).alias("conflict"),
    )


# -------------------------------------------- stratified k-fold CV

KFOLD_K = 5

_KFOLD_ORACLE = f"""
WITH ranked AS (
    SELECT vec_id, label,
           row_number() OVER (
               PARTITION BY label
               ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                        AS BIGINT), vec_id
           ) AS rn
    FROM embeddings
)
SELECT vec_id, label, CAST((rn - 1) % {KFOLD_K} AS BIGINT) AS fold
FROM ranked
"""


@register("stratified_kfold_assign", oracle=_KFOLD_ORACLE)
def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified {KFOLD_K}-fold cross-validation assignment: within
    each label, rows are ordered by a portable hash (pseudo-random but
    RNG-free and reproducible across engines and runs) and dealt
    round-robin into folds — per-label fold sizes differ by at most 1,
    which naive `hash % k` cannot guarantee on small strata.

    Scale note: one window per label partition over a narrow
    projection. For strata too large for a single partition's sort,
    the two-level variant assigns within (label, hash-bucket) — same
    round-robin, same balance bound per bucket.
    """
    from streams_prototyping_spark.functions.portable_hash import portable_hash64

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    w = Window.partitionBy("label").orderBy(
        portable_hash64(F.col("vec_id").cast("string")), "vec_id"
    )
    return e.select(
        "vec_id",
        "label",
        ((F.row_number().over(w) - 1) % KFOLD_K).cast("long").alias("fold"),
    )


# -------------------------------------------------- BPE merge learning

BPE_ROUNDS = 5
BPE_VOCAB = 200  # train over the top-N vocabulary (deterministic cut)


def _bpe_round_cte(r: int) -> str:
    prev = f"seq{r - 1}"
    return f"""pr{r} AS (
    SELECT ' ' || arr[i] || ' ' || arr[i + 1] || ' ' AS pair, freq
    FROM (SELECT string_split(trim(seq), ' ') AS arr, freq FROM {prev}),
         unnest(range(1, len(arr))) AS t(i)
), top{r} AS (
    SELECT pair, replace(trim(pair), ' ', '') AS merged,
           CAST(sum(freq) AS BIGINT) AS pair_freq
    FROM pr{r} GROUP BY pair
    ORDER BY sum(freq) DESC, pair LIMIT 1
), seq{r} AS (
    SELECT replace(seq, (SELECT pair FROM top{r}),
                   ' ' || (SELECT merged FROM top{r}) || ' ') AS seq, freq
    FROM {prev}
)"""


_BPE_CTES = (
    f"""wc AS (
    SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> '' GROUP BY w
    ORDER BY freq DESC, w LIMIT {BPE_VOCAB}
), seq0 AS (
    SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS seq, freq
    FROM wc
),
"""
    + ",\n".join(_bpe_round_cte(r) for r in range(1, BPE_ROUNDS + 1))
)

_BPE_MERGES_ORACLE = (
    "WITH "
    + _BPE_CTES
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, trim(pair) AS pair, merged, pair_freq FROM top{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
)


@register("bpe_learn_merges", oracle=_BPE_MERGES_ORACLE)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge-table learning (Sennrich et al.), {BPE_ROUNDS}
    rounds: segment the top-{BPE_VOCAB} vocabulary into characters,
    then repeatedly (a) count adjacent symbol pairs weighted by word
    frequency, (b) pick the most frequent pair (ties break
    lexicographically), (c) re-segment every word by merging that pair.
    Output: the learned merge table (round, pair, merged, pair_freq) —
    what a tokenizer trainer actually ships. bpe_pair_counts covers one
    counting round; this runs the whole loop with real re-segmentation.

    Sequences carry sentinel spaces and pairs match as ' a b ' so a
    pair can never match across a token boundary ('aa b' vs 'a ab').
    Adjacent overlapping occurrences (' a a a ') merge left-to-right
    non-overlapping — replace() semantics, identical in both engines
    (the remainder merges in a later round, as in streaming BPE
    trainers).

    Scale note: the corpus collapses to its vocabulary FIRST (one
    partial-combined word count); every round then works on
    {BPE_VOCAB} rows — per-round cost is corpus-independent, and the
    per-round top-1 is a TakeOrdered over a pair table bounded by
    total vocabulary characters. Each round's 1-row merge decision
    broadcast-joins into the re-segmentation (no driver round-trip in
    the plan; localCheckpoint truncates the per-round lineage).
    """
    return _bpe_merge_table(spark, sf_dir).select(
        F.col("round").cast("long").alias("round"),
        F.trim(F.col("pair")).alias("pair"),
        "merged",
        "pair_freq",
    )


def _bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table (round, padded pair, merged, pair_freq)
    as a shared stage: the trained-artifact pattern (kmeans/_pq_best
    precedent). Both the merge-table query and the tokenizer-apply
    query consume it, so the {BPE_ROUNDS}-round training loop (2
    blocking checkpoints per round) runs once per (session, sf) rather
    than once per execution (r11)."""

    def build() -> DataFrame:
        return _bpe_train(spark, sf_dir)

    return shared_stage(spark, sf_dir, "bpe_merge_table", build, persist=False)


def _bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = widen(load_table(spark, sf_dir, "documents"))
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "w")
        .limit(BPE_VOCAB)
    )
    seq = wc.select(
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace("w", "(.)", "$1 ")),
            F.lit(" "),
        ).alias("seq"),
        "freq",
    ).localCheckpoint()
    merge_rows = []
    for r in range(1, BPE_ROUNDS + 1):
        arr = F.split(F.trim(F.col("seq")), " ")
        pairs = seq.select(
            F.explode(
                F.zip_with(
                    F.slice(arr, 1, F.size(arr) - 1),
                    F.slice(arr, 2, F.size(arr) - 1),
                    lambda a, b: F.concat(F.lit(" "), a, F.lit(" "), b, F.lit(" ")),
                )
            ).alias("pair"),
            "freq",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("pair_freq"))
            .orderBy(F.col("pair_freq").desc(), "pair")
            .limit(1)
            .select(
                F.lit(r).alias("round"),
                "pair",
                F.replace(F.trim(F.col("pair")), F.lit(" "), F.lit("")).alias(
                    "merged"
                ),
                "pair_freq",
            )
            .localCheckpoint()
        )
        merge_rows.append(top)
        seq = (
            seq.crossJoin(F.broadcast(top.select("pair", "merged")))
            .select(
                F.replace(
                    F.col("seq"),
                    F.col("pair"),
                    F.concat(F.lit(" "), F.col("merged"), F.lit(" ")),
                ).alias("seq"),
                "freq",
            )
            .localCheckpoint()
        )
    out = merge_rows[0]
    for t in merge_rows[1:]:
        out = out.union(t)
    return out


# -------------------------------------------------- BPE tokenizer apply

BPE_TOP_TOKENS = 40


def _bpe_apply_expr_duck() -> str:
    """Nested replace chain applying merges 1..BPE_ROUNDS in rank
    order to a char-segmented word (innermost = round 1) — the exact
    re-segmentation semantics of the training loop."""
    expr = "' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '"
    for r in range(1, BPE_ROUNDS + 1):
        expr = (
            f"replace({expr}, (SELECT pair FROM top{r}), "
            f"' ' || (SELECT merged FROM top{r}) || ' ')"
        )
    return expr


_BPE_APPLY_ORACLE = (
    "WITH "
    + _BPE_CTES
    + f""",
fullv AS (
    SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> '' GROUP BY w
), applied AS (
    SELECT freq, {_bpe_apply_expr_duck()} AS seq FROM fullv
), toks AS (
    SELECT unnest(string_split(trim(seq), ' ')) AS token, freq FROM applied
), counts AS (
    SELECT token, CAST(sum(freq) AS BIGINT) AS corpus_count
    FROM toks GROUP BY token
)
SELECT token, corpus_count, rnk FROM (
    SELECT token, corpus_count,
           CAST(row_number() OVER (ORDER BY corpus_count DESC, token) AS BIGINT)
               AS rnk
    FROM counts
) WHERE rnk <= {BPE_TOP_TOKENS}
"""
)


@register("bpe_tokenize_stats", oracle=_BPE_APPLY_ORACLE)
def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY — the other half of the lifecycle
    bpe_learn_merges trains: segment every word of the FULL corpus
    vocabulary into characters and apply the {BPE_ROUNDS} learned
    merges in rank order (the same sentinel-space replace semantics as
    training, so train and apply can never drift), then report the
    top-{BPE_TOP_TOKENS} resulting tokens by corpus frequency — the
    vocabulary histogram a tokenizer rollout reviews before shipping.

    Scale note: apply is the textbook train-small/score-big shape —
    the corpus collapses to its DISTINCT vocabulary first (one
    partial-combined count; fan-in of corpus size to vocab size), the
    merge table (BPE_ROUNDS rows, learned on the top-{BPE_VOCAB}
    vocabulary) broadcast-joins in as one pivoted row, and the replace
    chain is a map-side codegen expression per distinct word — the
    corpus itself is scanned once and never re-tokenized per document.
    Production tokenizers do exactly this: tokenize the vocabulary,
    then dictionary-join tokens back to documents.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    merges = bpe_learn_merges(spark, sf_dir)
    # one pivoted row: p1..pN (padded pair patterns), m1..mN
    pick = lambda r, c: F.max(F.when(F.col("round") == r, F.col(c)))  # noqa: E731
    mrow = merges.agg(
        *[
            F.concat(F.lit(" "), pick(r, "pair"), F.lit(" ")).alias(f"p{r}")
            for r in range(1, BPE_ROUNDS + 1)
        ],
        *[
            F.concat(F.lit(" "), pick(r, "merged"), F.lit(" ")).alias(f"m{r}")
            for r in range(1, BPE_ROUNDS + 1)
        ],
    )
    fullv = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seq = F.concat(
        F.lit(" "), F.trim(F.regexp_replace("w", "(.)", "$1 ")), F.lit(" ")
    )
    for r in range(1, BPE_ROUNDS + 1):
        seq = F.replace(seq, F.col(f"p{r}"), F.col(f"m{r}"))
    counts = (
        fullv.crossJoin(F.broadcast(mrow))
        .select(F.explode(F.split(F.trim(seq), " ")).alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("corpus_count"))
    )
    w = Window.orderBy(F.col("corpus_count").desc(), F.col("token"))
    return (
        counts.select(
            "token",
            "corpus_count",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= BPE_TOP_TOKENS)
    )


# -------------------------------------------------- DP noise audit

DP_EPSILON = 0.5  # per-release budget; scale b = 1/eps


_DP_ORACLE = f"""
WITH cnt AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
    FROM events GROUP BY event_type
), u AS (
    SELECT event_type, true_n,
           CAST('0x' || substr(md5('dp:' || event_type), 1, 15) AS BIGINT)
               / 1152921504606846976.0 - 0.5 AS ctr
    FROM cnt
)
SELECT event_type, true_n,
       round(true_n + (-1.0 / {DP_EPSILON!r})
             * sign(ctr) * ln(1.0 - 2.0 * abs(ctr)), 4) AS noisy_n,
       round(abs((-1.0 / {DP_EPSILON!r})
             * sign(ctr) * ln(1.0 - 2.0 * abs(ctr))), 4) AS abs_noise,
       CAST({DP_EPSILON!r} AS DOUBLE) AS epsilon
FROM u
"""


@register("dp_noise_audit", oracle=_DP_ORACLE)
def dp_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release, audit view: per-event-type
    counts plus Laplace(1/epsilon) noise drawn by INVERSE-CDF over a
    portable hash uniform — no RNG, so the release is reproducible
    across engines and retries (nondeterministic noise re-drawn on a
    task retry silently doubles the privacy spend; hash-keyed noise is
    how production DP systems pin one draw per release key). The audit
    emits true and noisy counts side by side — the calibration view you
    keep INSIDE the trust boundary; only noisy_n leaves it.

    Scale note: one partial-combined count + a map-side noise
    expression. ln() is within 1 ulp in both engines; the 4 dp round
    absorbs it (the weighted_sample_es precedent).
    """
    from streams_prototyping_spark.functions.portable_hash import portable_hash64

    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_n"))
    ctr = (
        portable_hash64(F.concat(F.lit("dp:"), F.col("event_type"))).cast("double")
        / F.lit(float(1 << 60))
        - 0.5
    )
    noise = (
        F.lit(-1.0 / DP_EPSILON)
        * F.signum(ctr)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(ctr))
    )
    return cnt.select(
        "event_type",
        F.col("true_n").cast("long").alias("true_n"),
        F.round(F.col("true_n") + noise, 4).alias("noisy_n"),
        F.round(F.abs(noise), 4).alias("abs_noise"),
        F.lit(DP_EPSILON).alias("epsilon"),
    )
