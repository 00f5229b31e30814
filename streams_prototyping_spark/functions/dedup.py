"""Deduplication operators for large-scale training-data pipelines.

Four families, all Spark-first and oracle-checkable (the MinHash /
SimHash "permutations" use the portable md5-based hash so the DuckDB
twin computes bit-identical signatures — see portable_hash.py):

- exact dedup: hash-groupBy on content
- MinHash + LSH: shingle -> k-permutation signature -> banded
  self-join -> candidate pairs with estimated Jaccard
- SimHash: per-token bit-vote fingerprint (Charikar 2002)
- n-gram Jaccard: exact shingle-set similarity on LSH candidates

Scale design (100 TB): every stage is a narrow projection or a keyed
shuffle. Signatures are O(1) per doc (k=8 longs); the LSH band join
shuffles on (band, band_key) — the whole point of banding is that only
near-identical docs collide, so the join fan-out stays tiny even at
billions of docs. Nothing ever computes an all-pairs product; exact
Jaccard runs only on LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_prototyping_spark.data import (
    PAIRS_PER_TASK,
    fanout_width,
    load_table,
    table_n,
    widen,
)
from streams_prototyping_spark.functions.portable_hash import (
    portable_hash64,
    portable_hash64_sql,
)
from streams_prototyping_spark.registry import register
from streams_prototyping_spark.stage_cache import shared_stage

K_PERMS = 8          # minhash signature length
LSH_ROWS_PER_BAND = 2  # -> 4 bands; P(collide) = 1-(1-j^2)^4
N_BANDS = K_PERMS // LSH_ROWS_PER_BAND
SIMHASH_BITS = 16        # floor width (= the width at the test SFs)
SIMHASH_MAX_BITS = 48    # vote-expression cost ceiling (60 hash bits exist)
SIMHASH_TARGET_CORPUS = 8192  # docs a 16-bit space can hold; +8 bits/doubling
EST_JACCARD_MIN = 0.25   # >= 2 of 8 signature positions agree
EXACT_JACCARD_MIN = 0.2

# ---------------------------------------------------------------- exact dedup

_EXACT_ORACLE = """
SELECT md5(text) AS text_md5,
       min(doc_id) AS doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY text
"""


@register("dedup_exact", oracle=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one surviving doc_id (the smallest) per distinct
    text, with the copy count.

    Scale note: grouping by md5(text) (128-bit) rather than the full
    text would shrink shuffle keys from document-size to 32 bytes —
    Spark's hash partitioning already only ships each group once, and
    we aggregate on text to stay collision-proof; the md5 in the
    output is projection only.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select(F.md5("text").alias("text_md5"), "doc_id", "n_copies")


# ------------------------------------------------------------------- minhash

# Spark SQL and DuckDB SQL expression fragments kept side by side so the
# two engines provably compute the same signature.
_WORDS_SPARK = "split(text, ' ')"
_WORDS_DUCK = "string_split(text, ' ')"

# Trigram shingles via two zip_withs over shifted slices — O(words) per
# row. (The index-based form `transform(sequence(...), i -> slice(words,
# i+1, 3))` re-evaluates the split() inside the lambda per element —
# O(words^2) — because codegen cannot hoist loop-invariant expressions
# out of a higher-order-function body.)
_SHINGLES_SPARK = f"""
CASE WHEN size({_WORDS_SPARK}) >= 3
     THEN array_distinct(
         zip_with(
             zip_with(slice({_WORDS_SPARK}, 1, size({_WORDS_SPARK}) - 2),
                      slice({_WORDS_SPARK}, 2, size({_WORDS_SPARK}) - 2),
                      (a, b) -> concat(a, ' ', b)),
             slice({_WORDS_SPARK}, 3, size({_WORDS_SPARK}) - 2),
             (ab, c) -> concat(ab, ' ', c)))
     ELSE array(text) END
"""

_SHINGLES_DUCK = f"""
CASE WHEN len({_WORDS_DUCK}) >= 3
     THEN list_distinct(list_transform(range(1, len({_WORDS_DUCK}) - 1),
                                       i -> array_to_string(({_WORDS_DUCK})[i:i+2], ' ')))
     ELSE [text] END
"""


def _sig_spark(j: int) -> str:
    return (
        "array_min(transform(shingles, s -> "
        f"CAST(conv(substring(md5(concat('perm{j}:', s)), 1, 15), 16, 10) AS BIGINT)))"
    )


def _sig_duck(j: int) -> str:
    return (
        "list_min(list_transform(shingles, s -> "
        f"CAST('0x' || substr(md5('perm{j}:' || s), 1, 15) AS BIGINT)))"
    )


_SIGS_CTE_DUCK = (
    "WITH shingled AS (\n"
    f"    SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM documents\n"
    "), sigs AS (\n"
    "    SELECT doc_id, "
    + ", ".join(f"{_sig_duck(j)} AS sig_{j}" for j in range(K_PERMS))
    + " FROM shingled\n)"
)


def shingled_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles) — persisted via shared_stage: each of the 8
    signature expressions (and the Jaccard verifier's two join sides)
    references the shingles column, and CollapseProject would otherwise
    inline the shingle construction into every consumer (measured 4x
    slower end-to-end). The persist is the DataFrame-API barrier; the
    cache makes it one computation per sf_dir per session instead of
    one per invocation (bench/parity sweeps previously stacked cached
    copies)."""
    return shared_stage(
        spark,
        sf_dir,
        "dedup/shingled",
        lambda: widen(load_table(spark, sf_dir, "documents")).select(
            "doc_id", F.expr(_SHINGLES_SPARK).alias("shingles")
        ),
    )


def minhash_signatures_df(
    spark: SparkSession, sf_dir: str, materialize: bool = False
) -> DataFrame:
    """k=8 signature per doc. ``materialize=True`` persists the computed
    signatures: Catalyst's CollapseProject would otherwise inline the
    shingle construction into every one of the 8 signature expressions
    AND into every downstream self-join branch, recomputing the md5
    pipeline ~6x. At production scale signatures are checkpointed to a
    table for exactly this reason (compute once, join many); in-session
    the shared_stage cache plays that role."""
    shingled = shingled_df(spark, sf_dir)
    sigs = shingled.select(
        "doc_id",
        *[F.expr(_sig_spark(j)).alias(f"sig_{j}") for j in range(K_PERMS)],
    )
    if materialize:
        sigs = shared_stage(spark, sf_dir, "dedup/minhash_sigs", lambda: sigs)
    return sigs


_MINHASH_SIG_ORACLE = _SIGS_CTE_DUCK + "\nSELECT * FROM sigs"


@register("minhash_signatures", oracle=_MINHASH_SIG_ORACLE)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over distinct 3-word shingles, k=8 salted
    md5 permutations (Broder 1997 resemblance sketch).

    Scale note: one narrow scan, no shuffle; cost is k md5 passes over
    the shingle set, all inside JVM codegen. Signature is 64 bytes/doc
    regardless of document size — the compression that makes
    billion-doc dedup feasible.
    """
    return minhash_signatures_df(spark, sf_dir)


def _lsh_bands_df(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — one row per band via a single explode
    (a 4-way union would re-evaluate the signature pipeline per branch).
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        f"sig_{b * LSH_ROWS_PER_BAND + r}"
                        for r in range(LSH_ROWS_PER_BAND)
                    ],
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def _bands_cte_duck() -> str:
    selects = []
    for b in range(N_BANDS):
        cols = [f"sig_{b * LSH_ROWS_PER_BAND + r}" for r in range(LSH_ROWS_PER_BAND)]
        key = " || ',' || ".join(cols)
        selects.append(f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sigs")
    return "bands AS (\n" + "\nUNION ALL\n".join(selects) + "\n)"


_LSH_PAIRS_ORACLE = (
    _SIGS_CTE_DUCK
    + ", "
    + _bands_cte_duck()
    + f""",
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       ({" + ".join(f"CASE WHEN sa.sig_{j} = sb.sig_{j} THEN 1 ELSE 0 END" for j in range(K_PERMS))})
           / CAST({K_PERMS} AS DOUBLE) AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.doc_a
JOIN sigs sb ON sb.doc_id = c.doc_b
WHERE ({" + ".join(f"CASE WHEN sa.sig_{j} = sb.sig_{j} THEN 1 ELSE 0 END" for j in range(K_PERMS))})
          / CAST({K_PERMS} AS DOUBLE) >= {EST_JACCARD_MIN}
"""
)


def minhash_lsh_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures_df(spark, sf_dir, materialize=True)
    bands = _lsh_bands_df(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.sig_{j}") == F.col(f"sb.sig_{j}"), 1).otherwise(0)
        for j in range(K_PERMS)
    )
    est = (matches / F.lit(float(K_PERMS))).alias("est_jaccard")
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", est)
        .filter(F.col("est_jaccard") >= EST_JACCARD_MIN)
    )


@register("minhash_lsh_pairs", oracle=_LSH_PAIRS_ORACLE)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate generation + signature-estimated Jaccard: band the
    8-long signature into 4 bands of 2, self-join on identical bands,
    keep pairs with >= 25% signature agreement.

    Scale note: the self-join shuffles on (band, band_key) — uniform
    128-bit-ish keys, so no skew unless true duplicates exist, which is
    exactly the data we want colliding. At billions of docs the
    candidate set is O(duplicate pairs), not O(n^2). A pathological
    band key (e.g. empty docs all hashing alike) would skew; salting
    the band_key with a doc_id prefix and re-joining is the standard
    counter, not needed for this data.
    """
    return minhash_lsh_pairs_df(spark, sf_dir)


# ------------------------------------------------------------------- simhash

_HASHES_SPARK = (
    "transform(array_distinct(split(text, ' ')), w -> "
    "CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT))"
)
_HASHES_DUCK = (
    "list_transform(list_distinct(string_split(text, ' ')), w -> "
    "CAST('0x' || substr(md5(w), 1, 15) AS BIGINT))"
)


def _simhash_spark(bits: int) -> str:
    terms = [
        f"(CASE WHEN aggregate(hashes, 0L, (acc, h) -> acc + "
        f"CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << j}L ELSE 0L END)"
        for j in range(bits)
    ]
    return " + ".join(terms)


def _simhash_duck(bits: int) -> str:
    terms = [
        f"(CASE WHEN list_sum(list_transform(hashes, h -> "
        f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    ]
    return " + ".join(terms)


# Corpus-adaptive fingerprint width (same design as the LSH index depth
# in similarity._lsh_bits): 16 bits saturate once the corpus outgrows
# the 65536-value space — at sf1 (50k docs) the densest 16-bit value
# held 1314 docs and Hamming<=2 "near pairs" exploded to 68M, almost
# all hash-space artifacts. +8 bits per doubling past 8192 docs keeps
# the space ahead of the corpus (measured at sf1: 40 bits -> 856k
# pairs, all genuine replica-structure near-dups). The oracle can't
# vary its expression count, so it always sums SIMHASH_MAX_BITS votes
# and masks with % (1 << bits) — the low `bits` bits are identical.

_SIMHASH_BITS_DUCK = (
    f"GREATEST({SIMHASH_BITS}, LEAST({SIMHASH_MAX_BITS}, {SIMHASH_BITS} + "
    f"8 * CAST(ceil(log2(count(*) / {SIMHASH_TARGET_CORPUS}.0)) AS BIGINT)))"
)

_SIMHASH_PARAMS_DUCK = (
    f"params AS MATERIALIZED (SELECT {_SIMHASH_BITS_DUCK} AS bits FROM documents)"
)


def _simhash_bits(spark: SparkSession, sf_dir: str) -> int:
    """Fingerprint width for sf_dir (cached corpus count). Mirrors
    _SIMHASH_BITS_DUCK exactly: both engines compute
    ceil(log2(n / target)) on the same IEEE doubles, and the test SFs
    sit nowhere near a power-of-two boundary."""
    import math

    n = table_n(spark, sf_dir, "documents")
    raw = (
        SIMHASH_BITS + 8 * math.ceil(math.log2(n / float(SIMHASH_TARGET_CORPUS)))
        if n
        else SIMHASH_BITS
    )
    return max(SIMHASH_BITS, min(SIMHASH_MAX_BITS, raw))


_SIMHASH_ORACLE = f"""
WITH {_SIMHASH_PARAMS_DUCK},
hashed AS (
    SELECT doc_id, {_HASHES_DUCK} AS hashes FROM documents
)
SELECT doc_id,
       CAST(({_simhash_duck(SIMHASH_MAX_BITS)})
            % (CAST(1 AS BIGINT) << p.bits) AS BIGINT) AS simhash
FROM hashed, params p
"""


@register("simhash_fingerprint", oracle=_SIMHASH_ORACLE)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (Charikar 2002): each distinct token votes +1/-1 per bit
    of its hash; the sign vector packed into a corpus-adaptive-width
    fingerprint ({SIMHASH_BITS} bits at the test SFs; +8 bits per
    corpus doubling past {SIMHASH_TARGET_CORPUS} docs, see
    _simhash_bits — a 16-bit space saturates below 50k docs).
    Near-duplicate docs differ in few bits (Hamming).

    Scale note: token hashes are computed ONCE into an array column,
    then the bit-votes fold over that array — 1 md5 per token, not
    one per bit. Pure codegen'd expressions, no shuffle.
    """
    # shared_stage = projection barrier: the bit-vote expressions all
    # reference `hashes`; without it CollapseProject inlines the md5
    # pass once per bit (same pathology as the minhash signatures).
    hashed = shared_stage(
        spark,
        sf_dir,
        "dedup/simhash_hashes",
        lambda: widen(load_table(spark, sf_dir, "documents")).select(
            "doc_id", F.expr(_HASHES_SPARK).alias("hashes")
        ),
    )
    bits = _simhash_bits(spark, sf_dir)
    return hashed.select(
        "doc_id", F.expr(_simhash_spark(bits)).cast("long").alias("simhash")
    )


# ------------------------------------------------------- exact n-gram Jaccard

_NGRAM_ORACLE = (
    _SIGS_CTE_DUCK
    + ", "
    + _bands_cte_duck()
    + f""",
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles)))
             AS jaccard
    FROM cand c
    JOIN shingled x ON x.doc_id = c.doc_a
    JOIN shingled y ON y.doc_id = c.doc_b
)
WHERE jaccard >= {EXACT_JACCARD_MIN}
"""
)


@register("ngram_jaccard_pairs", oracle=_NGRAM_ORACLE)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity, computed ONLY for LSH candidate
    pairs (never all-pairs): |A∩B| / (|A|+|B|-|A∩B|) over distinct
    shingle sets.

    Scale note: verification-on-candidates is the standard two-phase
    dedup (candidate recall from LSH, exact precision here); the join
    carries shingle arrays only for the candidate pairs, so the heavy
    payload moves O(candidates) times.
    """
    # joined twice (x/y sides) and shared with the signature pipeline
    shingled = shingled_df(spark, sf_dir)
    sigs = minhash_signatures_df(spark, sf_dir, materialize=True)
    bands = _lsh_bands_df(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = shingled.alias("x")
    y = shingled.alias("y")
    inter = F.size(F.array_intersect(F.col("x.shingles"), F.col("y.shingles")))
    union = F.size(F.col("x.shingles")) + F.size(F.col("y.shingles")) - inter
    return (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, F.col("y.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= EXACT_JACCARD_MIN)
    )


# ------------------------------------------- blocked edit-distance fuzzy match

FUZZY_TARGET_BLOCK = 128  # size-cap: oversized token blocks sub-split

_FUZZY_ORACLE = f"""
WITH named AS MATERIALIZED (
    SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS block FROM part
), sized AS (
    SELECT block, count(*) AS cnt FROM named GROUP BY block
), keyed AS MATERIALIZED (
    SELECT n.p_name, n.block,
           {{h}} % greatest(1, (s.cnt + {FUZZY_TARGET_BLOCK} - 1)
                               // {FUZZY_TARGET_BLOCK}) AS sub
    FROM named n JOIN sized s ON s.block = n.block
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM keyed a JOIN keyed b
  ON a.block = b.block AND a.sub = b.sub AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


@register(
    "fuzzy_name_pairs",
    oracle=_FUZZY_ORACLE.format(h=portable_hash64_sql("'fz:' || n.p_name")),
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance fuzzy matching — the string-level
    near-duplicate detector complementing the token-level family
    (minhash/simhash/jaccard): candidate pairs are generated only
    inside a blocking key (the name's second token), then scored with
    levenshtein. Both engines implement the same integer edit distance,
    so the pair set matches exactly.

    Scale note: blocking is the whole game — the join is an equi-join
    on the block key, so candidate count is sum(block_size²) not N².
    The token vocabulary is FIXED (~92 colors), so at sf10 the 2M-part
    blocks hit ~21k names each = 2e10 levenshtein pairs — the fixed-
    block quadratic trap (found when the sf10 sweep hung here for
    20+ min). Oversized blocks now sub-split by a deterministic name
    hash mod ceil(size/{FUZZY_TARGET_BLOCK}) — the FS-linkage size
    cap: candidates bounded at O(N * target) with the documented
    no-cross-sub-block recall tradeoff. At the driver's sf0.01 gate
    blocks are under the target, so nsub = 1 and the pair set is
    byte-identical to the uncapped version.
    """
    p = load_table(spark, sf_dir, "part").select("p_name").distinct()
    named = p.select(
        "p_name", F.element_at(F.split("p_name", " "), 2).alias("block")
    )
    sized = named.groupBy("block").agg(F.count(F.lit(1)).alias("cnt"))
    keyed = named.join(sized, "block").select(
        "p_name",
        "block",
        (
            portable_hash64(F.concat(F.lit("fz:"), F.col("p_name")))
            % F.greatest(
                F.lit(1),
                F.expr(
                    f"(cnt + {FUZZY_TARGET_BLOCK} - 1) div {FUZZY_TARGET_BLOCK}"
                ),
            )
        ).alias("sub"),
    )
    a = keyed.select(
        F.col("p_name").alias("name_a"),
        "block",
        F.col("sub").alias("sub_a"),
    )
    b = keyed.select(
        F.col("p_name").alias("name_b"),
        "block",
        F.col("sub").alias("sub_b"),
    )
    return (
        a.join(b, "block")
        .filter((F.col("sub_a") == F.col("sub_b")) & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
    )


# ------------------------------------------- skew-capped LSH candidates

BUCKET_CAP = 2  # max docs per band bucket (production ~10^3; small here
#                 so the defense is exercised on the synthetic corpus)

_CAPPED_PAIRS_ORACLE = (
    _SIGS_CTE_DUCK
    + ", "
    + _bands_cte_duck()
    + f""",
sized AS (
    SELECT band, band_key, count(*) AS n FROM bands GROUP BY band, band_key
),
kept AS (
    SELECT b.doc_id, b.band, b.band_key
    FROM bands b JOIN sized s
      ON s.band = b.band AND s.band_key = b.band_key
    WHERE s.n <= {BUCKET_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM kept a JOIN kept b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       ({" + ".join(f"CASE WHEN sa.sig_{j} = sb.sig_{j} THEN 1 ELSE 0 END" for j in range(K_PERMS))})
           / CAST({K_PERMS} AS DOUBLE) AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.doc_a
JOIN sigs sb ON sb.doc_id = c.doc_b
WHERE ({" + ".join(f"CASE WHEN sa.sig_{j} = sb.sig_{j} THEN 1 ELSE 0 END" for j in range(K_PERMS))})
          / CAST({K_PERMS} AS DOUBLE) >= {EST_JACCARD_MIN}
"""
)


@register("minhash_lsh_pairs_capped", oracle=_CAPPED_PAIRS_ORACLE)
def minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with the skew defense ENGAGED: band buckets
    holding more than {BUCKET_CAP} docs are dropped before the
    self-join. A pathological bucket (empty documents, boilerplate,
    adversarial content all hashing to one band key) otherwise turns
    the keyed self-join into an n² hot spot on one reducer; capping
    bounds per-bucket work at CAP², and a pair lost to one band's cap
    still collides in any of the other {N_BANDS - 1} bands (banding's
    built-in redundancy — the recall loss is only for docs hot in
    EVERY band, which is exactly the boilerplate we want gone).

    Scale note: bucket sizing is a tiny aggregate over (band,
    band_key); the hot-bucket list is orders of magnitude smaller than
    the corpus and broadcast into a filtering join, so the defense
    costs one cheap pre-pass, not a reshuffle of the data.
    """
    sigs = minhash_signatures_df(spark, sf_dir, materialize=True)
    bands = _lsh_bands_df(sigs)
    sized = bands.groupBy("band", "band_key").agg(F.count(F.lit(1)).alias("n"))
    hot = sized.filter(F.col("n") > BUCKET_CAP).select("band", "band_key")
    kept = bands.join(F.broadcast(hot), ["band", "band_key"], "left_anti").select(
        "doc_id", "band", "band_key"
    )
    a = kept.alias("a")
    b = kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.sig_{j}") == F.col(f"sb.sig_{j}"), 1).otherwise(0)
        for j in range(K_PERMS)
    )
    est = (matches / F.lit(float(K_PERMS))).alias("est_jaccard")
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", est)
        .filter(F.col("est_jaccard") >= EST_JACCARD_MIN)
    )


# --------------------------------------------------- LSH bucket audit

_LSH_BUCKET_ORACLE = (
    _SIGS_CTE_DUCK
    + ",\n"
    + _bands_cte_duck()
    + """
, buckets AS (
    SELECT band, band_key, count(*) AS n_docs
    FROM bands GROUP BY band, band_key
)
SELECT band,
       count(*) AS n_buckets,
       CAST(max(n_docs) AS BIGINT) AS max_bucket_size,
       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_colliding_buckets,
       CAST(sum(n_docs * (n_docs - 1) / 2) AS BIGINT) AS candidate_pairs
FROM buckets
GROUP BY band
"""
)


@register("lsh_bucket_stats", oracle=_LSH_BUCKET_ORACLE)
def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket audit: bucket counts, the largest bucket
    (the skew hot spot the capped variant defends against), and the
    exact candidate-pair workload sum(C(size, 2)) the band join will
    generate. This is the tuning/monitoring query behind the
    bands-vs-rows trade-off — run it BEFORE the pair join to predict
    its cost at any scale.

    Scale note: two partial-combined aggregations over the band index
    ((band, key) then band), output is N_BANDS rows — the audit never
    touches document text and costs one pass over the 4-row-per-doc
    band table.
    """
    bands = _lsh_bands_df(minhash_signatures_df(spark, sf_dir, materialize=True))
    buckets = bands.groupBy("band", "band_key").agg(F.count("*").alias("n_docs"))
    return buckets.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("n_docs").cast("long").alias("max_bucket_size"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_colliding_buckets"),
        F.sum(F.col("n_docs") * (F.col("n_docs") - 1) / 2)
        .cast("long")
        .alias("candidate_pairs"),
    )


# ------------------------------------------- asymmetric containment pairs

CONTAINMENT_MIN = 0.5  # max directional containment to report a pair

_CONTAINMENT_ORACLE = (
    _SIGS_CTE_DUCK
    + ", "
    + _bands_cte_duck()
    + f""",
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, n_inter, n_a, n_b, cont_a_in_b, cont_b_in_a FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS BIGINT) AS n_inter,
           CAST(len(x.shingles) AS BIGINT) AS n_a,
           CAST(len(y.shingles) AS BIGINT) AS n_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               / len(x.shingles) AS cont_a_in_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
               / len(y.shingles) AS cont_b_in_a
    FROM cand c
    JOIN shingled x ON x.doc_id = c.doc_a
    JOIN shingled y ON y.doc_id = c.doc_b
)
WHERE greatest(cont_a_in_b, cont_b_in_a) >= {CONTAINMENT_MIN}
"""
)


@register("ngram_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment on LSH candidates: |A∩B|/|A| and
    |A∩B|/|B| — the sub-document duplication detector (a short doc
    fully contained in a longer one scores near 1.0 in one direction
    while symmetric Jaccard stays low, which is exactly the case
    Jaccard-threshold dedup misses). Broder's containment measure,
    reported when either direction >= {CONTAINMENT_MIN}.

    Scale note: identical two-phase shape as ngram_jaccard_pairs —
    candidates from the banded LSH self-join (keyed, O(near-dup
    pairs)), shingle arrays moved only for candidates; at production
    scale a containment-biased candidate generator would band on the
    SHORTER doc's bottom-k sketch, a sketch change, not a plan change.
    """
    shingled = shingled_df(spark, sf_dir)
    sigs = minhash_signatures_df(spark, sf_dir, materialize=True)
    bands = _lsh_bands_df(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = shingled.alias("x")
    y = shingled.alias("y")
    inter = F.size(F.array_intersect(F.col("x.shingles"), F.col("y.shingles")))
    return (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, F.col("y.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("n_inter"),
            F.size("x.shingles").cast("long").alias("n_a"),
            F.size("y.shingles").cast("long").alias("n_b"),
            (inter.cast("double") / F.size("x.shingles")).alias("cont_a_in_b"),
            (inter.cast("double") / F.size("y.shingles")).alias("cont_b_in_a"),
        )
        .filter(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= CONTAINMENT_MIN
        )
    )


# --------------------------------------------- simhash near-dup pairs

SIMHASH_MAX_HAMMING = 2


def _simhash_blocks(bits: int) -> tuple:
    """Pigeonhole: 3 disjoint (shift, width) blocks covering the
    fingerprint — any pair within Hamming distance 2 agrees on at
    least one block. bits=16 -> (0,5),(5,5),(10,6)."""
    w = bits // 3
    return ((0, w), (w, w), (2 * w, bits - 2 * w))


# Oracle block keys: widths/shifts derive from the adaptive `bits`
# scalar (w = bits // 3); the top block needs no mod since fp < 2^bits.
# fp is MATERIALIZED — blocks is referenced twice by the self-join and
# DuckDB would otherwise inline (and re-run) the 48-vote fold per side.
_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_PARAMS_DUCK},
hashed AS (
    SELECT doc_id, {_HASHES_DUCK} AS hashes FROM documents
), fp AS MATERIALIZED (
    SELECT doc_id,
           CAST(({_simhash_duck(SIMHASH_MAX_BITS)})
                % (CAST(1 AS BIGINT) << p.bits) AS BIGINT) AS simhash
    FROM hashed, params p
), blocks AS (
    SELECT doc_id, simhash, 0 AS b,
           simhash % (CAST(1 AS BIGINT) << (p.bits // 3)) AS block_key
    FROM fp, params p
    UNION ALL
    SELECT doc_id, simhash, 1,
           (simhash // (CAST(1 AS BIGINT) << (p.bits // 3)))
               % (CAST(1 AS BIGINT) << (p.bits // 3))
    FROM fp, params p
    UNION ALL
    SELECT doc_id, simhash, 2,
           simhash // (CAST(1 AS BIGINT) << (2 * (p.bits // 3)))
    FROM fp, params p
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS fp_a,
                    b.doc_id AS doc_b, b.simhash AS fp_b
    FROM blocks a JOIN blocks b
      ON a.b = b.b AND a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {SIMHASH_MAX_HAMMING}
"""


@register("simhash_near_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs within Hamming distance
    {SIMHASH_MAX_HAMMING}: candidates via the pigeonhole block trick
    (3 disjoint fingerprint blocks — a pair within distance 2 must
    agree on at least one block), then exact bit_count verification.
    Completes the SimHash detector: fingerprinting alone
    (simhash_fingerprint) only becomes dedup once pairs fall out.

    Scale note: the same two-phase candidate shape as MinHash banding
    — the self-join is keyed on (block, block_key), so fan-out is
    per-bucket, never all-pairs; verification is a 1-instruction XOR
    popcount on the codes already in hand. The fingerprint width is
    corpus-adaptive (_simhash_bits): at sf1 the fixed 16-bit space
    saturated (50k docs over 65536 values -> 68M hash-artifact pairs);
    at the adaptive 40 bits the output is the corpus's genuine 856k
    replica-structure near-dups, and block keys widen with it so
    bucket fan-out stays bounded.
    """
    # r11 (guide §1.2 "don't compute things you throw away"): persist
    # the tiny (doc_id, simhash) table as a projection barrier. The
    # 3-block union is self-joined, so without the barrier the
    # {bits}-vote fold subtree is inlined SIX times (3 union branches x
    # 2 join sides) and the fingerprint pass dominates the query; the
    # oracle's fp CTE is MATERIALIZED for exactly the same reason.
    # Interleaved sf0.1 A/B against rebuilding the fingerprints inline
    # (the r10 shape): barrier 2.78 s vs inline 2.97 s (OPTIMIZATION_r12.md).
    fp = shared_stage(
        spark,
        sf_dir,
        "dedup/simhash_fp",
        lambda: simhash_fingerprint(spark, sf_dir),
    )
    bits = _simhash_bits(spark, sf_dir)
    blocks = None
    for bi, (shift, width) in enumerate(_simhash_blocks(bits)):
        part = fp.select(
            "doc_id",
            "simhash",
            F.lit(bi).alias("b"),
            ((F.col("simhash") / F.lit(1 << shift)).cast("long")
             % F.lit(1 << width)).alias("block_key"),
        )
        blocks = part if blocks is None else blocks.unionByName(part)
    # r12 (guide §2.5, the banded-family idiom): derive the self-join
    # reduce width from the uniform-hash candidate bound Σ n²/2^(w+1)
    # per block — the fingerprint rows are tiny (~16 B/doc), so with
    # byte-target AQE coalescing (session.py parallelismFirst=false)
    # the exchange collapses to ONE task while the join fans out
    # n²/2^w XOR-popcount verifications (measured: 3.4 s -> 6.6 s
    # without this). Clustered corpora exceed the bound inside single
    # hot keys, which partitioning cannot split anyway — AQE skew-join
    # handles those.
    n = table_n(spark, sf_dir, "documents")
    parts = fanout_width(
        spark,
        sum(n * n // (2 << width) for _, width in _simhash_blocks(bits)),
        PAIRS_PER_TASK,
    )
    blocks = blocks.repartition(parts, "b", "block_key")
    a = blocks.alias("a")
    b = blocks.alias("b")
    # r12 (guide §2.3/§2.5): verify hamming BEFORE the cross-block
    # distinct (the hamming of a pair is a function of its two
    # fingerprints, so filter and dedup commute — fewer and narrower
    # rows on the distinct's exchange: (doc_a, doc_b, hamming) instead
    # of two 64-bit fingerprints per survivor), and give the distinct
    # an explicit bound-derived width: its input is pair-fan-out-sized
    # (11.7M candidate rows at sf0.1) while its map-output BYTES look
    # small post-partial-agg, so byte-target AQE coalescing squeezed
    # it onto too few tasks (interleaved probe: 7.4 s -> 2.2 s).
    return (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)")
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .repartition(parts, "doc_a", "doc_b")
        .distinct()
    )


# ------------------------------------- cross-source near-duplicate matrix

_SRC_MATRIX_ORACLE = (
    _SIGS_CTE_DUCK
    + ", "
    + _bands_cte_duck()
    + f""",
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), dup AS (
    SELECT doc_a, doc_b FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                 / (len(x.shingles) + len(y.shingles)
                    - len(list_intersect(x.shingles, y.shingles))) AS jaccard
        FROM cand c
        JOIN shingled x ON x.doc_id = c.doc_a
        JOIN shingled y ON y.doc_id = c.doc_b
    ) WHERE jaccard >= {EXACT_JACCARD_MIN}
), labeled AS (
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b
    FROM dup
    JOIN documents da ON da.doc_id = dup.doc_a
    JOIN documents db ON db.doc_id = dup.doc_b
), sizes AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY source
)
SELECT l.source_a, l.source_b,
       count(*) AS n_dup_pairs,
       round(CAST(count(*) AS DOUBLE) /
             (CASE WHEN l.source_a = l.source_b
                   THEN sa.n_docs * (sa.n_docs - 1) / 2
                   ELSE sa.n_docs * sb.n_docs END), 8) AS pair_rate
FROM labeled l
JOIN sizes sa ON sa.source = l.source_a
JOIN sizes sb ON sb.source = l.source_b
GROUP BY 1, 2, sa.n_docs, sb.n_docs
"""
)


@register("near_dup_source_matrix", oracle=_SRC_MATRIX_ORACLE)
def near_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate matrix: the verified duplicate pairs
    (LSH candidates + exact Jaccard, same two-phase plan as
    ngram_jaccard_pairs) labeled by their sources and normalized by the
    possible-pair count — the dashboard that tells a curation team
    WHICH feeds are mirroring each other (cross-source mass) vs
    self-duplicating (diagonal mass), i.e. where dedup budget and
    crawler fixes should go.

    Scale note: everything downstream of the verified pair list is
    O(duplicate pairs); the source labels join through broadcast-able
    doc->source projections and the matrix is at most |sources|² rows.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    labeled = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    sizes = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    za = sizes.select(F.col("source").alias("source_a"), F.col("n_docs").alias("na"))
    zb = sizes.select(F.col("source").alias("source_b"), F.col("n_docs").alias("nb"))
    possible = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("na") * (F.col("na") - 1) / 2,
    ).otherwise(F.col("na") * F.col("nb"))
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_dup_pairs",
            F.round(F.col("n_dup_pairs").cast("double") / possible, 8).alias(
                "pair_rate"
            ),
        )
    )
