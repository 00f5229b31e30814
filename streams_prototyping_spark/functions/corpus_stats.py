"""Corpus-frequency text operators: boilerplate detection, Gopher-style
rule filtering, unigram-LM importance scoring, PMI collocations and
sparse tf-idf similarity pairs.

These are the cross-document statistics a training-data pipeline
computes between dedup and mixing:

- boilerplate_phrases: phrases (trigrams) that recur across >= K
  distinct documents are boilerplate (nav bars, license headers,
  template text); each document is scored by the fraction of its
  trigrams that are boilerplate. This is the n-gram analogue of
  CCNet/RefinedWeb line-level dedup (the synthetic corpus has no line
  structure, so the phrase is the repeated unit).
- gopher_quality_filter: the per-rule boolean breakdown of the
  Gopher/MassiveText heuristic filters (word count bounds, mean word
  length, stopword evidence, max word length, top-word concentration).
  Per-rule booleans (not just the final verdict) are what a pipeline
  audits when tuning thresholds.
- unigram_logprob: per-document mean negative log-likelihood under the
  corpus's own unigram LM — the cheap importance/perplexity-style
  score (CCNet uses a KenLM; the unigram version is the same plan
  shape: frequency table join + per-doc aggregate).
- collocation_pmi: corpus-wide bigram PMI (phrase mining / tokenizer
  merge candidates).
- tfidf_cosine_pairs: Bayardo-style all-pairs similarity join over a
  trigram inverted index with df-window pruning.
- nll_decile_stats: NLL-decile calibration table (where to cut the
  perplexity filter); consumes the cached per-doc feature stages.

Reference parity note: the reference repo (apurvam/streams-prototyping)
has no text operators; these extend the engine for the LLM-pipeline
mandate (SURVEY.md Part C''). Trigram construction is shared with
winnowing/decontamination via dedup_pipeline._GRAMS_* so every
operator agrees on what a trigram is.

Scale design (100 TB): boilerplate is two keyed aggregations over the
exploded trigram stream (map-side partial combine applies to both) and
one shuffle join back on gram; the doc-frequency threshold shrinks the
boilerplate side by ~10x before the join, and at production scale that
side is still millions of rows -> keyed shuffle join (AQE may elect to
broadcast it; we do not force it). unigram_logprob's frequency table
is top-V truncatable and explicitly broadcast (a real vocab fits in
one executor); the per-doc aggregate is a keyed partial-combine
aggregation. gopher_quality_filter is a pure narrow projection at scan
speed — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_prototyping_spark.data import load_table
from streams_prototyping_spark.functions.dedup_pipeline import (
    _GRAMS_DUCK,
    _GRAMS_W_SPARK,
)
from streams_prototyping_spark.functions.text import EN_STOPWORDS, _STOP_LIST_SQL
from streams_prototyping_spark.registry import register
from streams_prototyping_spark.stage_cache import shared_stage

# ------------------------------------------------- shared trigram tf stage


def gram_tf_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, gram) trigram counts — the collapsed term stream that
    boilerplate detection, tf-idf postings and the source report all
    start from. Persisted once per session (shared_stage); at
    production scale this is the checkpointed term-frequency table
    every downstream corpus statistic joins against."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return (
            d.select("doc_id", "text", F.split("text", " ").alias("_w"))
            .select("doc_id", F.explode(F.expr(_GRAMS_W_SPARK)).alias("gram"))
            .groupBy("doc_id", "gram")
            .agg(F.count("*").alias("tf"))
        )

    return shared_stage(spark, sf_dir, "gram_tf", build)


# ----------------------------------------------------------- boilerplate

BOILER_MIN_DOCS = 3  # trigram in >= 3 distinct docs => boilerplate

_BOILER_ORACLE = f"""
WITH g AS (
    SELECT doc_id, unnest({_GRAMS_DUCK}) AS gram FROM documents
), tf AS (
    SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY doc_id, gram
), b AS (
    SELECT gram FROM tf GROUP BY gram HAVING count(*) >= {BOILER_MIN_DOCS}
)
SELECT tf.doc_id,
       sum(tf.tf) AS n_grams,
       sum(CASE WHEN b.gram IS NOT NULL THEN tf.tf ELSE 0 END) AS n_boiler_grams,
       round(CAST(sum(CASE WHEN b.gram IS NOT NULL THEN tf.tf ELSE 0 END) AS DOUBLE)
             / sum(tf.tf), 6) AS boiler_frac
FROM tf LEFT JOIN b ON b.gram = tf.gram
GROUP BY tf.doc_id
"""


@register("boilerplate_phrases", oracle=_BOILER_ORACLE)
def boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus boilerplate detection: a trigram occurring in >=
    {BOILER_MIN_DOCS} distinct documents is boilerplate; each document
    reports how much of it is boilerplate.

    Scale note: the raw trigram stream is exploded ONCE and collapsed
    to per-(doc, gram) counts immediately (partial-combined); doc
    frequency, the boilerplate set and the per-doc totals all derive
    from that collapsed table, so the join back moves distinct
    (doc, gram) pairs — not occurrences — keyed on gram, never a
    document cross product. The >= K threshold shrinks the boilerplate
    side an order of magnitude before the join.
    """
    tf = gram_tf_df(spark, sf_dir)
    boiler = (
        tf.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DOCS)
        .select("gram", F.lit(1).alias("is_boiler"))
    )
    boiler_tf = F.sum(
        F.when(F.col("is_boiler").isNotNull(), F.col("tf")).otherwise(F.lit(0))
    )
    return (
        tf.join(boiler, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_grams"),
            boiler_tf.alias("n_boiler_grams"),
            F.round(boiler_tf.cast("double") / F.sum("tf"), 6).alias("boiler_frac"),
        )
    )


# -------------------------------------------------------- gopher filter

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MIN_STOPWORDS = 2     # distinct stopwords present
GOPHER_MAX_WORD_LEN = 20
GOPHER_MAX_TOP_WORD_FRAC = 0.12

_GOPHER_ORACLE = f"""
WITH w AS (
    SELECT doc_id, text, string_split(text, ' ') AS words FROM documents
), feat AS (
    SELECT doc_id,
           len(words) AS n_words,
           CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(words) AS mean_wlen,
           len(list_filter(list_distinct(words), x -> x IN ({_STOP_LIST_SQL})))
               AS n_stopwords,
           list_max(list_transform(words, x -> length(x))) AS max_wlen,
           CAST(list_max(list_transform(list_distinct(words),
                    w2 -> len(list_filter(words, x -> x = w2)))) AS DOUBLE)
               / len(words) AS top_word_frac
    FROM w
)
SELECT doc_id, n_words,
       round(mean_wlen, 6) AS mean_wlen,
       CAST(n_stopwords AS BIGINT) AS n_stopwords,
       CAST(max_wlen AS BIGINT) AS max_wlen,
       round(top_word_frac, 6) AS top_word_frac,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS r_word_count,
       (mean_wlen BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN})
           AS r_mean_wlen,
       (n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS r_stopwords,
       (max_wlen <= {GOPHER_MAX_WORD_LEN}) AS r_max_wlen,
       (top_word_frac <= {GOPHER_MAX_TOP_WORD_FRAC}) AS r_top_word,
       ((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
        AND (mean_wlen BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN})
        AND (n_stopwords >= {GOPHER_MIN_STOPWORDS})
        AND (max_wlen <= {GOPHER_MAX_WORD_LEN})
        AND (top_word_frac <= {GOPHER_MAX_TOP_WORD_FRAC})) AS passes
FROM feat
"""


@register("gopher_quality_filter", oracle=_GOPHER_ORACLE)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style heuristic quality rules with a per-rule
    boolean breakdown plus the combined verdict.

    Scale note: pure narrow projection — every feature (including the
    top-word concentration, computed as a per-row O(distinct x words)
    array fold rather than an explode+groupBy shuffle) runs inside
    whole-stage codegen at scan speed.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    mean_wlen = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_words
    )
    n_stop = F.size(
        F.filter(F.array_distinct(words), lambda x: x.isin(*EN_STOPWORDS))
    )
    max_wlen = F.array_max(F.transform(words, F.length))
    top_word_frac = (
        F.array_max(
            F.transform(
                F.array_distinct(words),
                lambda w2: F.size(F.filter(words, lambda x: x == w2)),
            )
        ).cast("double")
        / n_words
    )
    r_word_count = n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_mean_wlen = mean_wlen.between(GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN)
    r_stopwords = n_stop >= GOPHER_MIN_STOPWORDS
    r_max_wlen = max_wlen <= GOPHER_MAX_WORD_LEN
    r_top_word = top_word_frac <= GOPHER_MAX_TOP_WORD_FRAC
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_wlen"),
        n_stop.cast("long").alias("n_stopwords"),
        max_wlen.cast("long").alias("max_wlen"),
        F.round(top_word_frac, 6).alias("top_word_frac"),
        r_word_count.alias("r_word_count"),
        r_mean_wlen.alias("r_mean_wlen"),
        r_stopwords.alias("r_stopwords"),
        r_max_wlen.alias("r_max_wlen"),
        r_top_word.alias("r_top_word"),
        (r_word_count & r_mean_wlen & r_stopwords & r_max_wlen & r_top_word).alias(
            "passes"
        ),
    )


# ------------------------------------------------------ unigram logprob

_UNIGRAM_ORACLE = """
WITH w AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), freq AS (
    SELECT word, count(*) AS n FROM w GROUP BY word
), tot AS (
    SELECT sum(n) AS total FROM freq
)
SELECT w.doc_id,
       count(*) AS n_words,
       round(avg(-ln(CAST(freq.n AS DOUBLE) / tot.total)), 6) AS mean_nll,
       round(min(-ln(CAST(freq.n AS DOUBLE) / tot.total)), 6) AS min_nll,
       round(max(-ln(CAST(freq.n AS DOUBLE) / tot.total)), 6) AS max_nll
FROM w JOIN freq USING (word) CROSS JOIN tot
GROUP BY w.doc_id
"""


@register("unigram_logprob", oracle=_UNIGRAM_ORACLE)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram LM — the cheap importance/"perplexity" score used to rank
    documents before expensive model-based scoring (CCNet's KenLM
    filter is this plan shape with a 5-gram LM).

    Scale note: the frequency table is one partial-combined aggregation
    over the token stream; it is explicitly broadcast for the lookup
    join (a production vocab is top-V truncated to stay broadcastable,
    with an OOV floor — here the corpus vocab is naturally small). The
    per-doc aggregate partial-combines on doc_id. Total: two shuffles
    of key-count rows, never a re-shuffle of the token stream.
    """
    d = load_table(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    freq = tokens.groupBy("word").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    nll = -F.log(F.col("n").cast("double") / F.col("total"))
    return (
        tokens.join(F.broadcast(freq), "word")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.round(F.avg(nll), 6).alias("mean_nll"),
            F.round(F.min(nll), 6).alias("min_nll"),
            F.round(F.max(nll), 6).alias("max_nll"),
        )
    )


# ------------------------------------------------------- collocation PMI

PMI_MIN_COUNT = 5  # bigram must occur >= 5 times corpus-wide

_BIGRAMS_SPARK = """
CASE WHEN size(split(text, ' ')) >= 2
     THEN zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
                   slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
                   (a, b) -> named_struct('w1', a, 'w2', b))
     ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END
"""

_BIGRAMS_DUCK = """
CASE WHEN len(string_split(text, ' ')) >= 2
     THEN list_transform(range(1, len(string_split(text, ' '))),
              i -> {'w1': (string_split(text, ' '))[i],
                    'w2': (string_split(text, ' '))[i + 1]})
     ELSE [] END
"""

# r11: hoisted twin of _BIGRAMS_SPARK over a pre-projected `_w` word
# array — the single-expression form evaluates split(text) five times
# per row (the zip_with HOF is interpreted, and interpreted projections
# do no subexpression elimination). Same structs, same output.
_BIGRAMS_W_SPARK = """
CASE WHEN size(_w) >= 2
     THEN zip_with(slice(_w, 1, size(_w) - 1),
                   slice(_w, 2, size(_w) - 1),
                   (a, b) -> named_struct('w1', a, 'w2', b))
     ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END
"""


def _bigram_stream(d: DataFrame, *cols: str) -> DataFrame:
    """Exploded bigram structs (column `b`) with split(text) projected
    once per row; `cols` are carried through."""
    return d.select(*cols, F.split("text", " ").alias("_w")).select(
        *cols, F.explode(F.expr(_BIGRAMS_W_SPARK)).alias("b")
    )

_PMI_ORACLE = f"""
WITH bg AS (
    SELECT b.w1, b.w2 FROM documents, unnest({_BIGRAMS_DUCK}) AS t(b)
), bgf AS (
    SELECT w1, w2, count(*) AS n_bigram FROM bg GROUP BY w1, w2
), uni AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
), unif AS (
    SELECT word, count(*) AS n FROM uni GROUP BY word
), tot AS (
    SELECT (SELECT sum(n_bigram) FROM bgf) AS n_bg_total,
           (SELECT sum(n) FROM unif) AS n_uni_total
)
SELECT bgf.w1, bgf.w2, bgf.n_bigram,
       f1.n AS n_w1, f2.n AS n_w2,
       round(ln((CAST(bgf.n_bigram AS DOUBLE) / tot.n_bg_total)
                / ((CAST(f1.n AS DOUBLE) / tot.n_uni_total)
                   * (CAST(f2.n AS DOUBLE) / tot.n_uni_total))), 6) AS pmi
FROM bgf
JOIN unif f1 ON f1.word = bgf.w1
JOIN unif f2 ON f2.word = bgf.w2
CROSS JOIN tot
WHERE bgf.n_bigram >= {PMI_MIN_COUNT}
"""


@register("collocation_pmi", oracle=_PMI_ORACLE)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram collocations scored by pointwise mutual
    information — the classic phrase-mining statistic (word2vec's
    phrase pass, tokenizer-vocabulary merges, and template detection
    all rank candidate merges by exactly this ratio).

    Scale note: one bigram aggregation + one unigram aggregation (both
    partial-combined over the exploded stream), then two broadcast
    lookups of the unigram table and a broadcast 1-row totals join —
    the bigram stream itself is never re-shuffled after its groupBy.
    """
    d = load_table(spark, sf_dir, "documents")
    bgf = (
        _bigram_stream(d)
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_bigram"))
        .filter(F.col("n_bigram") >= PMI_MIN_COUNT)
    )
    unif = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    tot = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .agg(F.count("*").alias("n_uni_total"))
        .crossJoin(
            F.broadcast(
                _bigram_stream(d).agg(F.count("*").alias("n_bg_total"))
            )
        )
    )
    f1 = unif.select(F.col("word").alias("w1"), F.col("n").alias("n_w1"))
    f2 = unif.select(F.col("word").alias("w2"), F.col("n").alias("n_w2"))
    pmi = F.log(
        (F.col("n_bigram").cast("double") / F.col("n_bg_total"))
        / (
            (F.col("n_w1").cast("double") / F.col("n_uni_total"))
            * (F.col("n_w2").cast("double") / F.col("n_uni_total"))
        )
    )
    return (
        bgf.join(F.broadcast(f1), "w1")
        .join(F.broadcast(f2), "w2")
        .join(F.broadcast(tot))
        .select("w1", "w2", "n_bigram", "n_w1", "n_w2", F.round(pmi, 6).alias("pmi"))
    )


# -------------------------------------------- sparse tf-idf cosine pairs

TFIDF_DF_MIN = 2    # df=1 terms cannot produce pairs; prune before join
TFIDF_DF_MAX = 16   # prefix-filter analogue: drop hot terms from pairing
TFIDF_MIN_COS = 0.25
_TFIDF_PARTS_CACHE: dict = {}  # (sf_dir, mtime) -> pair-join partitions

_TFIDF_GRAMS_CTE = f"""
g AS (
    SELECT doc_id, unnest({_GRAMS_DUCK}) AS gram FROM documents
), tf AS (
    SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY doc_id, gram
), df AS (
    SELECT gram, count(*) AS df FROM tf GROUP BY gram
), nd AS (
    SELECT count(*) AS n_docs FROM documents
), w AS (
    SELECT tf.doc_id, tf.gram, df.df,
           tf.tf * round(ln(CAST(nd.n_docs AS DOUBLE) / df.df), 6) AS w
    FROM tf JOIN df USING (gram) CROSS JOIN nd
), norms AS (
    SELECT doc_id,
           sqrt(CAST(sum(CAST(round(w * w, 9) AS DECIMAL(28,9))) AS DOUBLE))
               AS norm
    FROM w GROUP BY doc_id
)
"""

_TFIDF_ORACLE = f"""
WITH {_TFIDF_GRAMS_CTE}
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       count(*) AS n_shared_terms,
       round(CAST(sum(CAST(round(a.w * b.w, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / (any_value(na.norm) * any_value(nb.norm)), 6) AS cos_sim
FROM w a
JOIN w b ON b.gram = a.gram AND a.doc_id < b.doc_id
JOIN norms na ON na.doc_id = a.doc_id
JOIN norms nb ON nb.doc_id = b.doc_id
WHERE a.df BETWEEN {TFIDF_DF_MIN} AND {TFIDF_DF_MAX}
GROUP BY a.doc_id, b.doc_id
HAVING round(CAST(sum(CAST(round(a.w * b.w, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / (any_value(na.norm) * any_value(nb.norm)), 6) >= {TFIDF_MIN_COS}
"""


@register("tfidf_cosine_pairs", oracle=_TFIDF_ORACLE)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine similarity pairs via an inverted index —
    the all-pairs similarity-join shape (Bayardo et al.: index terms,
    join postings lists, prune hot terms). Complements the dense-vector
    ANN family and the Jaccard-based dedup detectors.

    Scale note: pairing joins postings ON TERM (keyed, never a doc
    cross product); df=1 terms are pruned (cannot pair) and terms with
    df > {TFIDF_DF_MAX} are excluded from pairing (the prefix-filter
    move that caps per-term fan-out at df^2 — hot terms contribute
    little to tf-idf cosine anyway since idf -> 0). Norms still use the
    FULL vector. idf is rounded to 6 dp before use and dot/norm sums
    are decimal-exact, so both engines agree bit-for-bit despite
    summation-order differences.
    """
    def build_w() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        tf = gram_tf_df(spark, sf_dir)
        df_tbl = tf.groupBy("gram").agg(F.count("*").alias("df"))
        nd = d.agg(F.count("*").alias("n_docs"))
        return (
            tf.join(df_tbl, "gram")
            .join(F.broadcast(nd))
            .select(
                "doc_id",
                "gram",
                "df",
                (
                    F.col("tf")
                    * F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
                ).alias("w"),
            )
        )

    # one persisted postings build feeds all four consumers (index side a,
    # index side b, and both norm lookups) — without the barrier the plan
    # re-derives tf/df per consumer (measured: 12 scans -> 2)
    w = shared_stage(spark, sf_dir, "tfidf_postings", build_w)
    # r11 (the banded-family fix, guide §2.5/§2.2): the pair join's
    # reduce parallelism derives from the candidate bound
    # n_indexed_postings * DF_MAX / 2 — AQE coalesces on the narrow
    # map bytes and cannot see the df² fan-out (measured: explicit
    # gram repartition 4.95 -> 3.91 s same-session). The count runs
    # once per (session, dataset) against the persisted stage.
    from streams_prototyping_spark.data import (
        PAIRS_PER_TASK,
        dataset_cache_key,
        fanout_width,
    )

    pkey = dataset_cache_key(sf_dir, "documents")
    if pkey not in _TFIDF_PARTS_CACHE:
        n_idx = w.filter(
            F.col("df").between(TFIDF_DF_MIN, TFIDF_DF_MAX)
        ).count()
        _TFIDF_PARTS_CACHE[pkey] = fanout_width(
            spark, n_idx * TFIDF_DF_MAX // 2, PAIRS_PER_TASK
        )
    pair_parts = _TFIDF_PARTS_CACHE[pkey]
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.round(F.col("w") * F.col("w"), 9).cast("decimal(28,9)")).cast(
                "double"
            )
        ).alias("norm")
    )
    indexed = w.filter(F.col("df").between(TFIDF_DF_MIN, TFIDF_DF_MAX)).repartition(
        pair_parts, "gram"
    )
    a = indexed.select(
        F.col("doc_id").alias("doc1"), "gram", F.col("w").alias("w1")
    )
    b = indexed.select(
        F.col("doc_id").alias("doc2"), "gram", F.col("w").alias("w2")
    )
    na = norms.select(F.col("doc_id").alias("doc1"), F.col("norm").alias("norm1"))
    nb = norms.select(F.col("doc_id").alias("doc2"), F.col("norm").alias("norm2"))
    # aggregate the pair stream FIRST, then attach norms: the pre-agg
    # candidate stream has one row per shared term (the df<=16 fan-out),
    # the post-agg frame one row per distinct pair — joining norms after
    # the fold shuffles far fewer rows through the two doc-keyed joins
    # (guide §2.3 shuffle fewer bytes). The decimal dot sum and the
    # final divide are the identical expressions, just reordered around
    # the join, so cos_sim is bit-identical.
    # r12 (guide §2.5, same AQE-blindness as the join): the FOLD's own
    # exchange carries ~46 MB of pair rows, so byte-target coalescing
    # squeezed the decimal dot aggregation onto ~1 task — give it the
    # same candidate-bound width as the join (isolated A/B: fold 2.63 s
    # AQE vs 0.94 s at pair_parts).
    pairs = (
        a.join(b, "gram")
        .filter(F.col("doc1") < F.col("doc2"))
        .repartition(pair_parts, "doc1", "doc2")
        .groupBy("doc1", "doc2")
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.sum(
                F.round(F.col("w1") * F.col("w2"), 9).cast("decimal(28,9)")
            ).alias("_dot"),
        )
    )
    return (
        pairs.join(na, "doc1")
        .join(nb, "doc2")
        .select(
            "doc1",
            "doc2",
            "n_shared_terms",
            F.round(
                F.col("_dot").cast("double") / (F.col("norm1") * F.col("norm2")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= TFIDF_MIN_COS)
    )


# ---------------------------------------------- cached per-doc features

# Composition queries (source_quality_report, curation_pipeline_select,
# nll_decile_stats) consume the same per-doc feature frames; these
# helpers persist them once per session so each composition pays a
# cache read, not a recompute. The LEAF queries stay un-cached — their
# plans remain the narrow scan-speed projections the plan tests pin.


def gopher_features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_stage(
        spark, sf_dir, "gopher_features", lambda: gopher_quality_filter(spark, sf_dir)
    )


def unigram_features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_stage(
        spark, sf_dir, "unigram_features", lambda: unigram_logprob(spark, sf_dir)
    )


def boiler_features_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_stage(
        spark, sf_dir, "boiler_features", lambda: boilerplate_phrases(spark, sf_dir)
    )


# ------------------------------------------------- NLL decile calibration

N_DECILES = 10

_NLL_DECILE_ORACLE = f"""
WITH u AS (
    SELECT doc_id, mean_nll FROM ({_UNIGRAM_ORACLE})
), g AS (
    SELECT doc_id, passes FROM ({_GOPHER_ORACLE})
), ranked AS (
    -- cume_dist value tiles (integer arithmetic; NLL ties share a
    -- decile): decile = ceil(cum * N / n)
    SELECT u.doc_id, u.mean_nll, g.passes,
           CAST((count(*) OVER (ORDER BY u.mean_nll
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * {N_DECILES} + count(*) OVER () - 1)
                // count(*) OVER () AS BIGINT) AS decile
    FROM u JOIN g ON g.doc_id = u.doc_id
)
SELECT decile,
       count(*) AS n_docs,
       round(min(mean_nll), 6) AS min_nll,
       round(max(mean_nll), 6) AS max_nll,
       round(CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS gopher_pass_rate
FROM ranked
GROUP BY decile
"""


@register(
    "nll_decile_stats",
    oracle=_NLL_DECILE_ORACLE,
    bounded_window="quarter-nat NLL buckets of the two-level prefix sum",
)
def nll_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold calibration: documents bucketed into NLL deciles
    (cume_dist value tiles — decile = ceil(cum * 10 / n), integer
    arithmetic, docs tied on 6-dp NLL share a decile), each decile
    reporting its NLL range and the Gopher pass rate — the table you
    read to decide where to CUT the perplexity filter (CCNet keeps the
    head/middle deciles by exactly this kind of calibration).

    Scale design (round-6 lint): the inclusive cumulative count comes
    from operators/ranks.bucketed_row_cum (buckets = NLL coarsened to
    a 1/4-nat grid) — per-bucket offsets cumulate on the tiny grid
    table, interiors run under PARTITION BY bucket RANGE frames. The
    old global ntile single-partition-sorted every per-doc feature
    row.
    """
    from streams_prototyping_spark.operators.ranks import bucketed_row_cum

    u = unigram_features_df(spark, sf_dir).select("doc_id", "mean_nll")
    g = gopher_features_df(spark, sf_dir).select("doc_id", "passes")
    joined = u.join(g, "doc_id")
    cum = bucketed_row_cum(
        joined, "mean_nll", lambda v: F.floor(v * 4), "cum", ascending=True
    )
    n_tot = joined.agg(F.count(F.lit(1)).alias("n"))
    ranked = cum.crossJoin(F.broadcast(n_tot)).withColumn(
        "decile",
        F.expr(f"(cum * {N_DECILES} + n - 1) div n").cast("long"),
    )
    return ranked.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.round(F.min("mean_nll"), 6).alias("min_nll"),
        F.round(F.max("mean_nll"), 6).alias("max_nll"),
        F.round(
            F.sum(F.when(F.col("passes"), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("gopher_pass_rate"),
    )


# --------------------------------------------------- Zipf histogram

_ZIPF_ORACLE = """
WITH freq AS (
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
), tot AS (
    SELECT sum(n) AS total FROM freq
)
SELECT CAST(length(printf('%b', n)) - 1 AS BIGINT) AS log2_bucket,
       count(*) AS n_terms,
       CAST(sum(n) AS BIGINT) AS n_occurrences,
       round(CAST(sum(n) AS DOUBLE) / tot.total, 6) AS occurrence_share
FROM freq CROSS JOIN tot
GROUP BY log2_bucket, tot.total
"""


@register("zipf_token_histogram", oracle=_ZIPF_ORACLE)
def zipf_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health audit: term-frequency histogram on log2 buckets —
    a healthy natural-language corpus shows the Zipf line (each bucket
    roughly halving in term count); crawl corruption, dedup failures
    and template spam all bend it.

    Determinism: the bucket is the INTEGER bit length of the count
    (conv/printf-%b), not floor(log2(double)) — exact powers of two sit
    on a float boundary the two engines could round differently.

    Scale note: one partial-combined term count, then a re-aggregation
    of vocabulary-sized rows; the 1-row total broadcasts.
    """
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    tot = freq.agg(F.sum("n").alias("total"))
    bucket = (F.length(F.conv(F.col("n").cast("string"), 10, 2)) - 1).cast("long")
    return (
        freq.join(F.broadcast(tot))
        .groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("n").cast("long").alias("n_occurrences"),
            F.round(F.sum("n").cast("double") / F.first("total"), 6).alias(
                "occurrence_share"
            ),
        )
    )


# ------------------------------------------------------ bigram LM NLL

BIGRAM_ADD_K = 0.5  # add-k smoothing mass per continuation

_BIGRAM_LM_ORACLE = f"""
WITH bg AS (
    SELECT doc_id, b.w1, b.w2
    FROM documents, unnest({_BIGRAMS_DUCK}) AS t(b)
), bgf AS (
    SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
), ctx AS (
    SELECT w1, sum(c12) AS c1 FROM bgf GROUP BY w1
), vocab AS (
    SELECT count(DISTINCT w2) AS v FROM bgf
), scored AS (
    SELECT bg.doc_id,
           -round(ln((CAST(bgf.c12 AS DOUBLE) + {BIGRAM_ADD_K})
                     / (CAST(ctx.c1 AS DOUBLE) + {BIGRAM_ADD_K} * vocab.v)), 6)
               AS nll
    FROM bg
    JOIN bgf ON bgf.w1 = bg.w1 AND bgf.w2 = bg.w2
    JOIN ctx ON ctx.w1 = bg.w1
    CROSS JOIN vocab
)
SELECT doc_id,
       count(*) AS n_bigrams,
       -- mean in exact integer micro-nll units: (2s+n)//(2n) is
       -- round-half-up for s>=0, so no engine-specific double-division
       -- tie at the 6th decimal (8/50k docs flipped 1 ulp at sf1)
       CAST((2 * sum(CAST(CAST(nll AS DECIMAL(18,6)) * 1000000 AS BIGINT))
             + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS mean_nll,
       round(min(nll), 6) AS min_nll,
       round(max(nll), 6) AS max_nll
FROM scored GROUP BY doc_id
"""


@register("bigram_lm_nll", oracle=_BIGRAM_LM_ORACLE)
def bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    add-k-smoothed bigram LM — one modeling step up from
    unigram_logprob toward the KenLM-style perplexity filter (same
    plan shape as a 5-gram LM: n-gram count table joins + per-doc
    aggregate). Single-word documents have no bigrams and drop out,
    identically in both engines.

    Scale note: bigram and context-count tables are partial-combined
    aggregations of the exploded bigram stream; both lookups broadcast
    (a truncated LM table fits in one executor — production KenLM
    filters ship the model to workers the same way); the per-doc
    aggregate partial-combines on doc_id. The bigram stream shuffles
    once (its own groupBy), never again.
    """
    d = load_table(spark, sf_dir, "documents")
    bg = _bigram_stream(d, "doc_id").select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    # NOTE (r11, measured): a persist barrier on bgf + a precomputed
    # per-bigram NLL model table looked like it should remove the
    # re-derived bg subtrees the formatted plan shows (8 scans) — but
    # Spark's ReuseExchange already dedups those identical exchanges at
    # runtime, and the barrier variant measured SLOWER (1.24 s -> 1.43-
    # 1.67 s isolated at sf0.1). Plan-text subtree counts overstate
    # execution when ReuseExchange applies; left in the original shape.
    bgf = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = bgf.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = bgf.agg(F.count_distinct("w2").alias("v"))
    nll = -F.round(
        F.log(
            (F.col("c12").cast("double") + F.lit(BIGRAM_ADD_K))
            / (F.col("c1").cast("double") + F.lit(BIGRAM_ADD_K) * F.col("v"))
        ),
        6,
    )
    return (
        bg.join(F.broadcast(bgf), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            # exact integer micro-nll sum (each nll is a 6-dp value;
            # the decimal cast makes the *1e6 scale-up lossless)
            F.sum(
                (F.col("nll").cast("decimal(18,6)") * 1000000).cast("long")
            ).alias("_s_micro"),
            F.round(F.min("nll"), 6).alias("min_nll"),
            F.round(F.max("nll"), 6).alias("max_nll"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            # (2s+n) div (2n): round-half-up mean in pure int64 — no
            # engine-specific double-division tie at the 6th decimal
            (
                F.expr("(2 * _s_micro + n_bigrams) div (2 * n_bigrams)")
                .cast("double")
                / F.lit(1e6)
            ).alias("mean_nll"),
            "min_nll",
            "max_nll",
        )
    )


# --------------------------------------------- count-min heavy hitters

CMS_ROWS = 4      # hash rows
CMS_WIDTH = 64    # buckets per row
CMS_TOP_N = 20    # report the true top-N tokens with their estimates


def _cms_bucket_spark(r: int, word: str = "word") -> str:
    return (
        f"CAST(conv(substring(md5(concat('cms{r}:', {word})), 1, 15), 16, 10) "
        f"AS BIGINT) % {CMS_WIDTH}"
    )


def _cms_bucket_duck(r: int, word: str = "word") -> str:
    return (
        f"CAST('0x' || substr(md5('cms{r}:' || {word}), 1, 15) AS BIGINT) "
        f"% {CMS_WIDTH}"
    )


_CMS_ORACLE = f"""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
), wc AS (
    SELECT word, count(*) AS n FROM toks GROUP BY word
), wcb AS (
    SELECT word, n,
           unnest([{', '.join(
               "{'r': %d, 'bucket': %s}" % (r, _cms_bucket_duck(r))
               for r in range(CMS_ROWS))}]) AS rb
    FROM wc
), cells AS (
    SELECT rb.r AS r, rb.bucket AS bucket, sum(n) AS cell_n
    FROM wcb GROUP BY rb.r, rb.bucket
), topw AS (
    SELECT word, n AS exact_n,
           CAST(row_number() OVER (ORDER BY n DESC, word ASC) AS BIGINT) AS rnk
    FROM wc
    QUALIFY rnk <= {CMS_TOP_N}
), probes AS (
    SELECT word, exact_n, rnk,
           unnest([{', '.join(
               "{'r': %d, 'bucket': %s}" % (r, _cms_bucket_duck(r))
               for r in range(CMS_ROWS))}]) AS rb
    FROM topw
)
SELECT p.word, p.exact_n, p.rnk, min(c.cell_n) AS est_n,
       min(c.cell_n) - p.exact_n AS overestimate
FROM probes p JOIN cells c ON c.r = p.rb.r AND c.bucket = p.rb.bucket
GROUP BY p.word, p.exact_n, p.rnk
"""


@register("count_min_heavy_hitters", oracle=_CMS_ORACLE)
def count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation audited against truth:
    a {CMS_ROWS}x{CMS_WIDTH} CMS over the token stream, then the true
    top-{CMS_TOP_N} tokens with exact vs CMS-estimated counts (CMS
    never underestimates; the overestimate column shows the collision
    bias a pipeline owner sizes width against). Unlike HLL/KLL the
    sketch is plain md5 bucketing + integer sums, so both engines
    reproduce it bit-identically — a fully oracle-checked sketch.

    Scale note: the sketch build partial-combines to {CMS_ROWS}*
    {CMS_WIDTH} cells regardless of corpus size (THE point of a
    sketch: mergeable O(1) state — this is the same merge a streaming
    or cross-partition CMS does); estimation joins the tiny cell table
    broadcast. The exact side here is the audit and in production runs
    over a sampled slice only.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("word"))
    wc = toks.groupBy("word").agg(F.count("*").alias("n"))
    # one row per (word, hash-row): posexplode of the 4 bucket exprs
    buckets = F.array(
        *[F.expr(_cms_bucket_spark(r)) for r in range(CMS_ROWS)]
    )
    cells = (
        wc.select("n", F.posexplode(buckets).alias("r", "bucket"))
        .groupBy("r", "bucket")
        .agg(F.sum("n").alias("cell_n"))
    )
    from pyspark.sql import Window

    topw = (
        wc.select(
            "word",
            F.col("n").alias("exact_n"),
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("word").asc()))
            .cast("long")
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= CMS_TOP_N)
    )
    probes = topw.select(
        "word", "exact_n", "rnk", F.posexplode(buckets).alias("r", "bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("word", "exact_n", "rnk")
        .agg(F.min("cell_n").alias("est_n"))
        .select(
            "word",
            "exact_n",
            "rnk",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overestimate"),
        )
    )


# ------------------------------------------- cross-doc n-gram novelty

_TRIGRAMS_SPARK = """
CASE WHEN size(split(text, ' ')) >= 3
     THEN transform(sequence(1, size(split(text, ' ')) - 2),
          i -> concat_ws(' ', element_at(split(text, ' '), i),
                              element_at(split(text, ' '), i + 1),
                              element_at(split(text, ' '), i + 2)))
     ELSE CAST(array() AS ARRAY<STRING>) END
"""

_TRIGRAMS_DUCK = """
CASE WHEN len(string_split(text, ' ')) >= 3
     THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
          i -> (string_split(text, ' '))[i] || ' '
            || (string_split(text, ' '))[i + 1] || ' '
            || (string_split(text, ' '))[i + 2])
     ELSE [] END
"""

_NOVELTY_ORACLE = f"""
WITH pg AS (
    SELECT DISTINCT doc_id, g.gram
    FROM documents, unnest({_TRIGRAMS_DUCK}) AS g(gram)
), df AS (
    SELECT gram, count(*) AS gdf FROM pg GROUP BY gram
)
SELECT pg.doc_id,
       count(*) AS n_grams,
       count(*) FILTER (WHERE df.gdf = 1) AS n_novel,
       round(CAST(count(*) FILTER (WHERE df.gdf = 1) AS DOUBLE) / count(*), 6)
           AS novelty
FROM pg JOIN df USING (gram)
GROUP BY pg.doc_id
"""


@register("cross_doc_ngram_novelty", oracle=_NOVELTY_ORACLE)
def cross_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-corpus 3-gram novelty: the fraction of a
    document's DISTINCT word trigrams that appear in no other document
    (document frequency 1). The complement of the near-dup detectors:
    where MinHash/SimHash find documents that repeat the corpus,
    novelty scores what each document ADDS — low-novelty documents are
    boilerplate/template mass even when no single pair crosses a
    dedup threshold (the within-doc twin is repetition_stats; this is
    the across-doc axis). Docs under 3 words have no trigrams and drop
    out in both engines.

    Scale design: the postings pattern (same as tfidf_cosine_pairs) —
    explode distinct (doc, gram), one gram-keyed partial-combined
    aggregate for document frequency, one gram-keyed join back — the
    df side is gram-cardinality-sized, so no broadcast HINT is given:
    at production scale it shuffle-joins keyed on gram; at small SF
    Catalyst's stats legitimately elect a broadcast (observed in
    PLANS.md) — then one doc-keyed aggregate. All shuffles are keyed;
    nothing corpus-sized crosses a single task.
    """
    d = load_table(spark, sf_dir, "documents")
    # r11 (guide §4.1/§1.2 per-task work): project split(text) ONCE per
    # row before the trigram transform. The previous single-expression
    # form re-evaluated split() inside the lambda — 3 splits per trigram
    # position (no CSE inside interpreted higher-order lambdas), i.e.
    # O(words²) string splitting per document. Same grams, same output.
    words = (
        "CASE WHEN size(w) >= 3"
        " THEN transform(sequence(1, size(w) - 2),"
        " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),"
        " element_at(w, i + 2)))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    pg = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.explode(F.expr(words)).alias("gram"))
        .distinct()
    )
    df = pg.groupBy("gram").agg(F.count(F.lit(1)).alias("gdf"))
    return (
        pg.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("gdf") == 1, 1).otherwise(0)).cast("long").alias(
                "n_novel"
            ),
            F.round(
                F.sum(F.when(F.col("gdf") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )
