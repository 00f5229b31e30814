"""Deterministic k-means (Lloyd's iterations) over the embeddings table.

This is the centroid-training step the IVF index in similarity.py
points at: ann_ivf_topk uses "the first K data vectors" as its cells;
a real IVF index trains those cells with a few Lloyd iterations first.
kmeans_lloyd IS that training loop, expressed as a fixed unrolled
number of DataFrame iterations so it stays a pure batch query with an
exact DuckDB oracle.

Determinism across engines (the interesting part): a naive
``avg(double)`` centroid differs between Spark and DuckDB in the last
bits because summation order differs, and k-means AMPLIFIES that noise
into discrete assignment flips on the next iteration. So centroid
components are computed as an EXACT decimal sum (``sum(CAST(val AS
DECIMAL(25,10)))`` — order-independent) divided by the member count in
double, then rounded to 9 dp. Both engines therefore compute
bit-identical centroids, making every downstream distance, assignment
and inertia bit-identical too. Same trick for inertia: per-row rounded
distances summed as decimals.

Scale design (100 TB of embeddings): each Lloyd iteration is
  scan -> broadcast K centroids -> per-row argmin (narrow)
  -> partial-combined groupBy(cell, dim) sum/count (shuffle of K*D
     partial rows per task, NOT the data)
so the data is scanned once per iteration and never shuffled; only
K*D*n_tasks partial aggregates move. That is the canonical distributed
k-means (Spark MLlib's own shape). The K-row centroid table is always
broadcast — the vecs x centroids join is a BroadcastNestedLoopJoin
over a K-row side, never a real cartesian.

Reference parity: the reference repo has no ML operators; this extends
the engine per the LLM-pipeline mandate (SURVEY.md Part C'').
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_prototyping_spark.data import (
    PAIRS_PER_TASK,
    fanout_width,
    load_table,
    table_n,
)
from streams_prototyping_spark.registry import register
from streams_prototyping_spark.stage_cache import shared_stage

K_CELLS = 8     # minimum centroid count; init = vectors with vec_id < K
MAX_K_CELLS = 64       # depth cap for the adaptive K (see _k_cells)
TARGET_CELL_SIZE = 256  # target vectors per cell
N_ITERS = 2     # unrolled Lloyd centroid updates before the final assign
DIM = 64        # embedding dimensionality (asserted in tests)

# Adaptive K: clamp(ceil(n / TARGET_CELL_SIZE), K_CELLS, MAX_K_CELLS),
# identical in both engines. With K fixed, every within-cell self-join
# (semantic_dedup) is quadratic in corpus size — cell occupancy grows
# linearly with n, pairs quadratically. Scaling K with n keeps expected
# occupancy at TARGET_CELL_SIZE so per-cell pair work is bounded — the
# production K ~ N / target_cell_size rule the semantic_dedup docstring
# states, now actually implemented. At every driver-tested SF
# (embeddings <= 2000) the formula yields K_CELLS, so oracle results
# are unchanged; the sf1 upscale (20k vectors) trains 64 cells.
_K_EXPR_DUCK = (
    f"GREATEST({K_CELLS}, LEAST({MAX_K_CELLS}, "
    f"CAST(ceil(count(*) / {TARGET_CELL_SIZE}.0) AS BIGINT)))"
)


def _k_cells(spark: "SparkSession", sf_dir: str) -> int:
    """Driver-side twin of _K_EXPR_DUCK (on the cached corpus count)."""
    import math

    n = table_n(spark, sf_dir, "embeddings")
    return max(K_CELLS, min(MAX_K_CELLS, math.ceil(n / float(TARGET_CELL_SIZE))))

_SQD_SPARK = (
    "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)
_SQD_DUCK = (
    "list_sum(list_transform(range(1, len(q.v) + 1), "
    "i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])))"
)


def _assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: vec_id, v, cell, sqd (ties -> lowest cell).

    Argmin is min(struct(sqd, cell)) under a groupBy — struct ordering
    gives the deterministic tie-break, and map-side partial aggregation
    collapses the K candidate rows per vector BEFORE the shuffle (a
    row_number window would shuffle and sort N*K rows instead of N).
    first(v) is safe: v is functionally dependent on vec_id.
    """
    j = vecs.crossJoin(F.broadcast(cent))  # K-row broadcast side, never cartesian
    return (
        j.select("vec_id", "v", "cell", F.expr(_SQD_SPARK).alias("sqd"))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("sqd"), F.col("cell"))).alias("m"),
            F.first("v").alias("v"),
        )
        .select(
            "vec_id", "v", F.col("m.cell").alias("cell"), F.col("m.sqd").alias("sqd")
        )
    )


def _recenter(assign: DataFrame) -> DataFrame:
    """Exact-decimal per-dimension mean -> new centroid table (cell, cv)."""
    return (
        assign.select("cell", F.posexplode("v").alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(25,10)")).cast("double")
                / F.count("*"),
                9,
            ).alias("cval")
        )
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
    )


def _train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """THE k-means training loop (vecs, trained centroids after N_ITERS
    Lloyd updates) — single definition shared by the batch final-assign
    stage and trained_centroids (the streaming/serving artifact), so
    init/N_ITERS/rounding can never drift between the two paths."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    cent = vecs.filter(F.col("vec_id") < _k_cells(spark, sf_dir)).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    for _ in range(N_ITERS):
        cent = _recenter(_assign(vecs, cent))
    return vecs, cent


def _final_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage: assignment after N_ITERS Lloyd updates."""

    def build() -> DataFrame:
        vecs, cent = _train(spark, sf_dir)
        return _assign(vecs, cent)

    return shared_stage(spark, sf_dir, "kmeans_final_assign", build)


def _assign_cte(src: str, cent: str, out: str) -> str:
    return f"""{out} AS (
    SELECT vec_id, v, cell, sqd FROM (
        SELECT q.vec_id, q.v, c.cell, {_SQD_DUCK} AS sqd,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_SQD_DUCK} ASC, c.cell ASC) AS rn
        FROM {src} q CROSS JOIN {cent} c
    ) WHERE rn = 1
)"""


def _recenter_cte(src: str, out: str) -> str:
    return f"""{out} AS (
    SELECT cell, list(cval ORDER BY dim) AS cv FROM (
        SELECT cell, t.dim,
               round(CAST(sum(CAST(v[t.dim] AS DECIMAL(25,10))) AS DOUBLE)
                     / count(*), 9) AS cval
        FROM {src} CROSS JOIN range(1, {DIM} + 1) t(dim)
        GROUP BY cell, t.dim
    ) GROUP BY cell
)"""


def _lloyd_ctes() -> str:
    parts = [
        "vecs AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cell, v AS cv FROM vecs "
        f"WHERE vec_id < (SELECT {_K_EXPR_DUCK} FROM vecs))",
    ]
    for i in range(N_ITERS):
        parts.append(_assign_cte("vecs", f"c{i}", f"a{i}"))
        parts.append(_recenter_cte(f"a{i}", f"c{i + 1}"))
    parts.append(_assign_cte("vecs", f"c{N_ITERS}", "afinal"))
    return ",\n".join(parts)


_KMEANS_ORACLE = f"""
WITH {_lloyd_ctes()}
SELECT vec_id, cell, round(sqd, 6) AS sq_dist FROM afinal
"""


@register("kmeans_lloyd", oracle=_KMEANS_ORACLE)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cell assignment after {N_ITERS} deterministic Lloyd
    iterations (K corpus-adaptive via _k_cells, init = first K vectors
    by vec_id) — the IVF centroid-training loop as a batch query."""
    return _final_assign(spark, sf_dir).select(
        "vec_id", "cell", F.round("sqd", 6).alias("sq_dist")
    )


_PROFILE_ORACLE = f"""
WITH {_lloyd_ctes()}
SELECT cell,
       count(*) AS n_members,
       round(CAST(sum(CAST(round(sqd, 6) AS DECIMAL(25,6))) AS DOUBLE), 6)
           AS inertia,
       round(CAST(sum(CAST(round(sqd, 6) AS DECIMAL(25,6))) AS DOUBLE)
             / count(*), 6) AS mean_sq_dist
FROM afinal
GROUP BY cell
"""


@register("kmeans_cluster_profile", oracle=_PROFILE_ORACLE)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell cluster profile (size, inertia, mean squared distance)
    of the trained k-means — the balance check an IVF index build runs
    before accepting its cell layout. Shares the trained assignment
    stage with kmeans_lloyd (built once per session)."""
    a = _final_assign(spark, sf_dir)
    inertia = F.sum(F.round("sqd", 6).cast("decimal(25,6)")).cast("double")
    return a.groupBy("cell").agg(
        F.count("*").alias("n_members"),
        F.round(inertia, 6).alias("inertia"),
        F.round(inertia / F.count("*"), 6).alias("mean_sq_dist"),
    )


# ------------------------------------------------------- product quantization

M_SUB = 8           # subspaces
SUB_DIM = DIM // M_SUB
K_PQ = 16           # codewords per subspace; codebook = first K_PQ vectors

_SUB_SQD_SPARK = (
    "aggregate(zip_with(subvec, cw, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)
_SUB_SQD_DUCK = (
    "list_sum(list_transform(range(1, len(p.subvec) + 1), "
    "i -> (p.subvec[i] - c.cw[i]) * (p.subvec[i] - c.cw[i])))"
)

_PQ_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), subs AS (
    SELECT vec_id, t.m,
           v[(t.m * {SUB_DIM} + 1):(t.m * {SUB_DIM} + {SUB_DIM})] AS subvec
    FROM vecs CROSS JOIN range(0, {M_SUB}) t(m)
), codebook AS (
    SELECT m, vec_id AS cw_id, subvec AS cw FROM subs WHERE vec_id < {K_PQ}
), best AS (
    SELECT vec_id, m, cw_id, sqd FROM (
        SELECT p.vec_id, p.m, c.cw_id, {_SUB_SQD_DUCK} AS sqd,
               row_number() OVER (PARTITION BY p.vec_id, p.m
                                  ORDER BY {_SUB_SQD_DUCK} ASC, c.cw_id ASC) AS rn
        FROM subs p JOIN codebook c ON c.m = p.m
    ) WHERE rn = 1
)
SELECT vec_id,
       string_agg(cw_id, '-' ORDER BY m) AS pq_code,
       round(CAST(sum(CAST(round(sqd, 9) AS DECIMAL(25,9))) AS DOUBLE), 6)
           AS recon_sq_err
FROM best
GROUP BY vec_id
"""


def _pq_subs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, subvec) — every vector split into M_SUB subvectors."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    return vecs.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {M_SUB - 1}), m -> named_struct("
                f"'m', CAST(m AS INT), "
                f"'subvec', slice(v, m * {SUB_DIM} + 1, {SUB_DIM})))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.subvec").alias("subvec"))


def _pq_codebook(subs: DataFrame) -> DataFrame:
    return subs.filter(F.col("vec_id") < K_PQ).select(
        "m", F.col("vec_id").alias("cw_id"), F.col("subvec").alias("cw")
    )


def _pq_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared encoded table (vec_id, m, cw_id, sqd): nearest codeword
    per (vector, subspace) — the persisted PQ index both pq_encode and
    the ADC search consume. Same partial-combined argmin shape as
    _assign (see its docstring)."""

    def build() -> DataFrame:
        subs = _pq_subs(spark, sf_dir)
        codebook = _pq_codebook(subs)
        return (
            subs.join(F.broadcast(codebook), "m")
            .select(
                "vec_id",
                "m",
                F.struct(
                    F.expr(_SUB_SQD_SPARK).alias("sqd"), F.col("cw_id").alias("cw_id")
                ).alias("s"),
            )
            .groupBy("vec_id", "m")
            .agg(F.min("s").alias("s"))
            .select(
                "vec_id", "m", F.col("s.cw_id").alias("cw_id"), F.col("s.sqd").alias("sqd")
            )
        )

    return shared_stage(spark, sf_dir, "pq_best", build)


def _adc_from_codes(codes, lut, cand=None):
    """(query_id, vec_id, adc_sq_dist) by folding {M_SUB} LUT lookups
    over each candidate's code array against a broadcast per-query
    map of (m*{K_PQ}+cw_id) -> partial_d. `cand` (query_id, vec_id)
    restricts candidates (IVF routing); None means all-vs-all minus
    self. The fixed-order decimal(25,9) fold equals the decimal Sum
    aggregate it replaces bit-for-bit (8 terms never leave precision
    38)."""
    lutm = lut.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("m") * K_PQ + F.col("cw_id")).cast("int").alias("k"),
                    F.col("partial_d").alias("v"),
                )
            )
        ).alias("_lm")
    )
    if cand is None:
        paired = codes.crossJoin(F.broadcast(lutm)).filter(
            F.col("vec_id") != F.col("query_id")
        )
    else:
        paired = codes.join(F.broadcast(cand), "vec_id").join(
            F.broadcast(lutm), "query_id"
        )
    fold = (
        f"aggregate(transform(codes, (c, j) -> "
        f"element_at(_lm, CAST(j * {K_PQ} + c AS INT))), "
        "CAST(0 AS DECIMAL(25,9)), (acc, x) -> "
        "CAST(acc + CAST(x AS DECIMAL(25,9)) AS DECIMAL(25,9)))"
    )
    return paired.select(
        "query_id",
        "vec_id",
        F.round(F.expr(fold).cast("double"), 6).alias("adc_sq_dist"),
    )


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes, _sqd_sum) — per-vector PQ code ARRAY (cw_id by
    subspace order) plus the exact decimal reconstruction-error sum.
    r11: this is the actual shipped index layout (a code row per
    vector, not 8 rows) — pq_encode projects it, and the ADC searches
    fold LUT lookups over the array map-side instead of re-grouping
    the (vec, m) table per query execution."""

    def build() -> DataFrame:
        best = _pq_best(spark, sf_dir)
        return best.groupBy("vec_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cw_id"))),
                lambda s: s["cw_id"],
            ).alias("codes"),
            F.sum(F.round("sqd", 9).cast("decimal(25,9)")).alias("_sqd_sum"),
        )

    return shared_stage(spark, sf_dir, "pq_codes", build)


@register("pq_encode", oracle=_PQ_ORACLE)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each vector split into {M_SUB} subvectors
    of {SUB_DIM} dims; each subvector encoded as its nearest codeword id
    (codebook = the first {K_PQ} vectors' subvectors — deterministic,
    like the IVF cells). Output: the '-'-joined PQ code plus the exact
    reconstruction error. Together with kmeans_lloyd (coarse cells)
    this is the IVF-PQ index layout.

    Scale note: the codebook is {M_SUB}x{K_PQ} rows, always broadcast;
    the vector stream explodes M-fold, joins on subspace id (keyed,
    broadcast side), and the per-(vec, subspace) argmin partial-combines
    — the data shuffles once on vec_id for code assembly, nothing else.
    Reconstruction error uses decimal-exact summation so both engines
    agree bit-for-bit.
    """
    return _pq_codes(spark, sf_dir).select(
        "vec_id",
        F.array_join(
            F.transform(F.col("codes"), lambda c: c.cast("string")), "-"
        ).alias("pq_code"),
        F.round(F.col("_sqd_sum").cast("double"), 6).alias("recon_sq_err"),
    )


# --------------------------------------------------------- ADC search

PQ_N_QUERIES = 5   # query set: vec_id < 5 (matches the dense-ANN family)
PQ_TOP_K = 3

_LUT_SQD_DUCK = (
    "list_sum(list_transform(range(1, len(q.subvec) + 1), "
    "i -> (q.subvec[i] - c.cw[i]) * (q.subvec[i] - c.cw[i])))"
)

_ADC_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), subs AS (
    SELECT vec_id, t.m,
           v[(t.m * {SUB_DIM} + 1):(t.m * {SUB_DIM} + {SUB_DIM})] AS subvec
    FROM vecs CROSS JOIN range(0, {M_SUB}) t(m)
), codebook AS (
    SELECT m, vec_id AS cw_id, subvec AS cw FROM subs WHERE vec_id < {K_PQ}
), best AS (
    SELECT vec_id, m, cw_id FROM (
        SELECT p.vec_id, p.m, c.cw_id,
               row_number() OVER (PARTITION BY p.vec_id, p.m
                                  ORDER BY {_SUB_SQD_DUCK} ASC, c.cw_id ASC) AS rn
        FROM subs p JOIN codebook c ON c.m = p.m
    ) WHERE rn = 1
), lut AS (
    SELECT q.vec_id AS query_id, c.m, c.cw_id,
           round({_LUT_SQD_DUCK}, 9) AS partial_d
    FROM subs q JOIN codebook c ON c.m = q.m
    WHERE q.vec_id < {PQ_N_QUERIES}
), adc AS (
    SELECT l.query_id, b.vec_id,
           round(CAST(sum(CAST(l.partial_d AS DECIMAL(25,9))) AS DOUBLE), 6)
               AS adc_sq_dist
    FROM best b JOIN lut l ON l.m = b.m AND l.cw_id = b.cw_id
    WHERE b.vec_id <> l.query_id
    GROUP BY l.query_id, b.vec_id
)
SELECT query_id, vec_id, adc_sq_dist, rnk FROM (
    SELECT query_id, vec_id, adc_sq_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_sq_dist ASC, vec_id ASC) AS BIGINT)
               AS rnk
    FROM adc
) WHERE rnk <= {PQ_TOP_K}
"""


@register("pq_adc_topk", oracle=_ADC_ORACLE)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-{PQ_TOP_K} search over PQ codes
    (Jegou et al. 2011): each query precomputes a {M_SUB}x{K_PQ}
    lookup table of subspace distances to every codeword; a candidate's
    approximate distance is then just the SUM of {M_SUB} table lookups
    on its code — no candidate vector is ever touched at query time.
    This is the query path of the IVF-PQ index (kmeans_lloyd cells +
    pq_encode codes).

    Scale note: the LUT is Q*{M_SUB}*{K_PQ} rows and broadcasts; the
    encoded table (the shared pq_best stage) joins it keyed on
    (subspace, codeword) — each code row fans out to exactly Q rows —
    and the per-(query, candidate) sum partial-combines before its
    shuffle. Top-k is a per-query WindowGroupLimit. Decimal-exact sums
    of pre-rounded partials keep both engines bit-identical.
    """
    subs = _pq_subs(spark, sf_dir)
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
    # r11: the ADC sum is a MAP-SIDE fold over the per-vector code
    # array against a broadcast {M_SUB}x{K_PQ}-entry LUT map — the
    # former shape joined the 8-rows-per-vector best table to the LUT
    # and re-grouped Q*n rows by (query, vec) per execution. The
    # decimal(25,9) fold over 8 terms is the same exact sum as the
    # aggregate it replaces ((33,9) max precision — no scale loss),
    # in fixed subspace order.
    adc = _adc_from_codes(
        _pq_codes(spark, sf_dir).select("vec_id", "codes"), lut
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sq_dist").asc(), F.col("vec_id").asc()
    )
    return (
        adc.select(
            "query_id",
            "vec_id",
            "adc_sq_dist",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= PQ_TOP_K)
    )


# --------------------------------------------------------- semantic dedup

SEMDEDUP_MIN_COS = 0.30  # within-cell cosine above this => semantic duplicate


def _semdedup_oracle() -> str:
    from streams_prototyping_spark.functions.similarity import (
        _SPLIT_HASH_DUCK,
        cosine_duck,
    )

    _SPLIT_HASH_DUCK_SEM = _SPLIT_HASH_DUCK.format(id="vec_id")
    return f"""
WITH {_lloyd_ctes()},
van0 AS (
    SELECT vec_id, cell, v,
           list_sum(list_transform(v, e -> e * e)) AS sqnorm,
           count(*) OVER (PARTITION BY cell) AS cn
    FROM afinal
), van AS (
    -- deterministic sub-block size cap (the fs_recs / capped-LSH
    -- pattern): oversized cells split so pair work stays
    -- O(cell * TARGET); pairs across sub-blocks are not compared.
    -- The id is md5-hashed before the modulo (round-8 fix, see
    -- similarity._SPLIT_HASH_SPARK): raw-id residues are non-uniform
    -- for structured id assignments (key-shifted strides), which left
    -- sub-blocks unbalanced and the cap ineffective.
    SELECT vec_id, cell, v, sqnorm,
           {_SPLIT_HASH_DUCK_SEM}
               % greatest(1, CAST(ceil(cn / {TARGET_CELL_SIZE}.0) AS BIGINT))
               AS sub
    FROM van0
), pr AS (
    SELECT y.vec_id AS vec_id,
           {cosine_duck("x.v", "x.sqnorm", "y.v", "y.sqnorm")} AS cos_sim
    FROM van x JOIN van y
      ON x.cell = y.cell AND x.sub = y.sub AND x.vec_id < y.vec_id
), d AS (
    SELECT vec_id, count(*) AS n_near_below FROM pr
    WHERE cos_sim >= {SEMDEDUP_MIN_COS} GROUP BY vec_id
)
SELECT van.vec_id, van.cell,
       coalesce(d.n_near_below, CAST(0 AS BIGINT)) AS n_near_below,
       (d.vec_id IS NULL) AS keep
FROM van LEFT JOIN d ON d.vec_id = van.vec_id
"""


@register("semantic_dedup", oracle=_semdedup_oracle())
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: within each trained
    k-means cell, a vector with any LOWER-id cell-mate at cosine >=
    {SEMDEDUP_MIN_COS} is a semantic duplicate (keep = False). The
    keep-lowest-id policy is the deterministic stand-in for SemDeDup's
    keep-farthest-from-centroid; the cluster-bucketed candidate shape
    is the point.

    Scale note (round-6 fix): the pair join is keyed on (cell, sub).
    K adapts with the corpus (clamp(ceil(n / TARGET_CELL_SIZE),
    K_CELLS, MAX_K_CELLS), _k_cells — identical in the oracle) BUT is
    capped to bound k-means training cost, so past K*TARGET vectors
    the cells themselves grow — the round-6 sf10 sweep caught exactly
    that as alpha 2.04 (277 s at sf10: 819k vectors / 64 cells =
    12.8k-row cells, O(cell^2) pairs). The fix is the repo's standard
    deterministic sub-block size cap (fs_recs, capped LSH): oversized
    cells split into ceil(cell_n / {TARGET_CELL_SIZE}) sub-blocks by a
    hashed id (round-8: raw-id modulo is residue-biased for key-shifted
    upscale strides — see similarity._SPLIT_HASH_SPARK), pair
    work bounded at O(n * TARGET), with the documented recall trade —
    duplicates across sub-blocks of one cell are not compared. Shares
    the trained assignment stage with kmeans_lloyd (built once per
    session).
    """
    from streams_prototyping_spark.functions.similarity import (
        _SPLIT_HASH_SPARK,
        _SQNORM_SPARK,
        cosine,
    )

    a0 = _final_assign(spark, sf_dir).select(
        "vec_id",
        "cell",
        "v",
        F.expr(_SQNORM_SPARK.format(v="v")).alias("sqnorm"),
    )
    cn = a0.groupBy("cell").agg(F.count(F.lit(1)).alias("cn"))
    a = a0.join(F.broadcast(cn), "cell").select(
        "vec_id",
        "cell",
        "v",
        "sqnorm",
        (
            F.expr(_SPLIT_HASH_SPARK.format(id="vec_id"))
            % F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.col("cn") / float(TARGET_CELL_SIZE)),
            )
        ).alias("sub"),
    )
    # r12 (guide §2.5, the similarity-family rule): width the cell
    # self-join by the candidate bound n·TARGET_CELL_SIZE/2 — its map
    # bytes are tiny and byte-target AQE coalescing otherwise folds
    # the whole cosine-scoring fan-out onto one task.
    cand = table_n(spark, sf_dir, "embeddings") * TARGET_CELL_SIZE // 2
    a = a.repartition(fanout_width(spark, cand, PAIRS_PER_TASK), "cell", "sub")
    x = a.alias("x")
    y = a.alias("y")
    dups = (
        x.join(
            y,
            (F.col("x.cell") == F.col("y.cell"))
            & (F.col("x.sub") == F.col("y.sub"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("y.vec_id").alias("vec_id"),
            cosine("x.v", "x.sqnorm", "y.v", "y.sqnorm").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= SEMDEDUP_MIN_COS)
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_near_below"))
    )
    return a.join(dups.withColumnRenamed("n_near_below", "nnb"), "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(F.col("nnb"), F.lit(0).cast("long")).alias("n_near_below"),
        F.col("nnb").isNull().alias("keep"),
    )


# ------------------------------------------ nearest-centroid label audit

_NC_SQD_DUCK = (
    "list_sum(list_transform(range(1, len(x.v) + 1), "
    "i -> (x.v[i] - c.cv[i]) * (x.v[i] - c.cv[i])))"
)

_NC_ORACLE = f"""
WITH vecs AS (
    SELECT vec_id, label,
           list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
    FROM embeddings
), cent AS (
    SELECT label AS c_label, list(cval ORDER BY dim) AS cv FROM (
        SELECT label, t.dim,
               round(CAST(sum(CAST(v[t.dim] AS DECIMAL(25,10))) AS DOUBLE)
                     / count(*), 9) AS cval
        FROM vecs CROSS JOIN range(1, {DIM} + 1) t(dim)
        GROUP BY label, t.dim
    ) GROUP BY label
), assigned AS (
    SELECT vec_id, label AS true_label, c_label AS pred_label FROM (
        SELECT x.vec_id, x.label, c.c_label,
               row_number() OVER (PARTITION BY x.vec_id
                                  ORDER BY {_NC_SQD_DUCK} ASC, c.c_label ASC) AS rn
        FROM vecs x CROSS JOIN cent c
    ) WHERE rn = 1
)
SELECT true_label, pred_label, count(*) AS n,
       (true_label = pred_label) AS correct
FROM assigned GROUP BY true_label, pred_label
"""


@register("nearest_centroid_confusion", oracle=_NC_ORACLE)
def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit: assign every embedding to its nearest
    LABEL centroid (decimal-exact means, the kmeans discipline) and
    report the confusion matrix — off-diagonal mass flags mislabeled
    or inseparable classes before anyone trains on them.

    Scale note: centroid training is one partial-combined
    (label, dim) aggregate (K*D partial rows per task, data never
    shuffled); assignment broadcasts the K-row centroid table and
    argmins per row via min(struct) partial aggregation — the same
    canonical shape as the Lloyd iterations above.
    """
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, e -> CAST(e AS DOUBLE))").alias("v"),
    )
    cent = (
        vecs.select("label", F.posexplode("v").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(25,10)")).cast("double")
                / F.count("*"),
                9,
            ).alias("cval")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
        .select(F.col("label").alias("c_label"), "cv")
    )
    j = vecs.crossJoin(F.broadcast(cent))
    assigned = (
        j.select(
            "vec_id",
            F.col("label").alias("true_label"),
            "c_label",
            F.expr(_SQD_SPARK).alias("sqd"),
        )
        .groupBy("vec_id", "true_label")
        .agg(F.min(F.struct(F.col("sqd"), F.col("c_label"))).alias("m"))
        .select("true_label", F.col("m.c_label").alias("pred_label"))
    )
    return (
        assigned.groupBy("true_label", "pred_label")
        .agg(F.count("*").alias("n"))
        .select(
            "true_label",
            "pred_label",
            "n",
            (F.col("true_label") == F.col("pred_label")).alias("correct"),
        )
    )


# ----------------------------------------------- composed IVF-PQ search

IVFPQ_NPROBE = 3  # probe the 3 nearest trained cells per query


def _ivfpq_oracle() -> str:
    pq_ctes = f"""subs AS (
    SELECT vec_id, t.m,
           v[(t.m * {SUB_DIM} + 1):(t.m * {SUB_DIM} + {SUB_DIM})] AS subvec
    FROM vecs CROSS JOIN range(0, {M_SUB}) t(m)
), codebook AS (
    SELECT m, vec_id AS cw_id, subvec AS cw FROM subs WHERE vec_id < {K_PQ}
), best AS (
    SELECT vec_id, m, cw_id FROM (
        SELECT p.vec_id, p.m, c.cw_id,
               row_number() OVER (PARTITION BY p.vec_id, p.m
                                  ORDER BY {_SUB_SQD_DUCK} ASC, c.cw_id ASC) AS rn
        FROM subs p JOIN codebook c ON c.m = p.m
    ) WHERE rn = 1
), lut AS (
    SELECT q.vec_id AS query_id, c.m, c.cw_id,
           round({_LUT_SQD_DUCK}, 9) AS partial_d
    FROM subs q JOIN codebook c ON c.m = q.m
    WHERE q.vec_id < {PQ_N_QUERIES}
)"""
    return f"""
WITH {_lloyd_ctes()},
{_recenter_cte("afinal", "cfinal")},
{pq_ctes},
routed AS (
    SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cell,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_SQD_DUCK} ASC, c.cell ASC) AS rn
        FROM (SELECT vec_id, v FROM vecs WHERE vec_id < {PQ_N_QUERIES}) q
        CROSS JOIN cfinal c
    ) WHERE rn <= {IVFPQ_NPROBE}
),
cand AS (
    SELECT r.query_id, a.vec_id
    FROM routed r JOIN afinal a ON a.cell = r.cell
    WHERE a.vec_id <> r.query_id
),
adc AS (
    SELECT cd.query_id, cd.vec_id,
           round(CAST(sum(CAST(l.partial_d AS DECIMAL(25,9))) AS DOUBLE), 6)
               AS adc_sq_dist
    FROM cand cd
    JOIN best b ON b.vec_id = cd.vec_id
    JOIN lut l ON l.query_id = cd.query_id AND l.m = b.m AND l.cw_id = b.cw_id
    GROUP BY cd.query_id, cd.vec_id
)
SELECT query_id, vec_id, adc_sq_dist, rnk FROM (
    SELECT query_id, vec_id, adc_sq_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_sq_dist ASC, vec_id ASC) AS BIGINT)
               AS rnk
    FROM adc
) WHERE rnk <= {PQ_TOP_K}
"""


@register("ivf_pq_topk", oracle=_ivfpq_oracle())
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ query path (the FAISS IndexIVFPQ shape):
    route each query to its {IVFPQ_NPROBE} nearest TRAINED cells
    (centroids recentred from the final Lloyd assignment), then run
    ADC over PQ codes of vectors in the probed cells only — candidate
    vectors outside the probed cells are never touched, and candidate
    VECTORS are never touched at all (codes + a broadcast LUT suffice).

    Scale note: this is the plan that makes billion-vector search
    tractable — per query the work is K cell-distance rows (broadcast
    centroids), an {M_SUB}x{K_PQ} LUT (broadcast), and a keyed join
    over ~corpus/K * nprobe code rows; the code table shuffles on
    vec_id once at build time (shared stage with pq_encode /
    kmeans_lloyd). Recall tuning = nprobe, a constant, not a plan
    change.
    """
    from pyspark.sql import Window

    assign = _final_assign(spark, sf_dir)
    # the recentred routing-centroid table is part of the trained index
    # (a deployment persists it next to the codes); without the stage,
    # every execution re-ran the D-fold posexplode + (cell, dim)
    # aggregate over the full corpus just to rebuild K rows (r11)
    cent = shared_stage(
        spark, sf_dir, "ivfpq_routing_cent", lambda: _recenter(assign)
    )
    q = assign.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    routed = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "cell", F.expr(_SQD_SPARK).alias("rsqd"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("rsqd").asc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("rn") <= IVFPQ_NPROBE)
        .select("query_id", "cell")
    )
    cand = (
        assign.select("vec_id", "cell")
        .join(F.broadcast(routed), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    subs = _pq_subs(spark, sf_dir)
    codebook = _pq_codebook(subs)
    lut_sqd = (
        "aggregate(zip_with(qsub, cw, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    lut = (
        subs.filter(F.col("vec_id") < PQ_N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "m", F.col("subvec").alias("qsub"))
        .join(F.broadcast(codebook), "m")
        .select("query_id", "m", "cw_id", F.round(F.expr(lut_sqd), 9).alias("partial_d"))
    )
    # r11: map-side LUT-map fold over the per-vector code array (see
    # _adc_from_codes) replaces the 8-rows-per-candidate join + the
    # (query, vec) re-group each execution paid.
    adc = _adc_from_codes(
        _pq_codes(spark, sf_dir).select("vec_id", "codes"), lut, cand
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sq_dist").asc(), F.col("vec_id").asc()
    )
    return (
        adc.select(
            "query_id",
            "vec_id",
            "adc_sq_dist",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= PQ_TOP_K)
    )


# ------------------------------------------- cluster separation audit

_SILHOUETTE_ORACLE = f"""
WITH {{lloyd}},
od AS (
    SELECT q.vec_id, q.cell, q.sqd, min({_SQD_DUCK}) AS osqd
    FROM afinal q CROSS JOIN c{N_ITERS} c
    WHERE c.cell <> q.cell
    GROUP BY q.vec_id, q.cell, q.sqd
),
s AS (
    SELECT cell,
           CASE WHEN greatest(sqrt(sqd), sqrt(osqd)) = 0 THEN 0.0
                ELSE round((sqrt(osqd) - sqrt(sqd))
                           / greatest(sqrt(sqd), sqrt(osqd)), 6) END AS sil
    FROM od
)
SELECT cell, count(*) AS n_members,
       round(CAST(sum(CAST(sil AS DECIMAL(25,6))) AS DOUBLE) / count(*), 6)
           AS mean_silhouette
FROM s GROUP BY cell
"""


@register(
    "kmeans_silhouette",
    oracle=_SILHOUETTE_ORACLE.format(lloyd=_lloyd_ctes()),
)
def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell centroid silhouette of the trained k-means: for each
    vector, s = (d_other - d_own) / max(d_own, d_other) with d_own the
    distance to its own centroid and d_other the distance to the
    NEAREST OTHER centroid — the O(N*K) simplified silhouette (the
    classic O(N^2) form computes pairwise member distances; the
    centroid form is the standard audit at index-build scale). Mean s
    per cell ~ 1 means well-separated cells; ~ 0 means the cell
    boundary cuts through a dense region — exactly the condition under
    which semantic_dedup's within-cell candidate generation loses
    near-duplicate pairs across the boundary, so this is the
    trust-but-verify audit a SemDeDup deployment runs before acting on
    its dedup decisions.

    Scale design: the assignment stage is shared (built once per
    session, checkpointed table in production); the audit itself is a
    broadcast crossJoin against the K-row centroid table with map-side
    partial min (the _assign shape), so the corpus is read once and
    never shuffled at full width — O(N*K) compute, O(K) output. Both
    engines round the per-vector silhouette at 6 dp and aggregate the
    mean as exact decimals, so the oracle hash is stable.
    """
    a = _final_assign(spark, sf_dir)
    cent = trained_centroids(spark, sf_dir).select(
        F.col("cell").alias("c_cell"), "cv"
    )
    od = (
        a.crossJoin(F.broadcast(cent))
        .filter(F.col("c_cell") != F.col("cell"))
        .select(
            "vec_id",
            "cell",
            "sqd",
            F.expr(_SQD_SPARK).alias("osqd"),
        )
        .groupBy("vec_id")
        .agg(
            F.first("cell").alias("cell"),
            F.first("sqd").alias("sqd"),
            F.min("osqd").alias("osqd"),
        )
    )
    d_own = F.sqrt("sqd")
    d_other = F.sqrt("osqd")
    sil = F.when(F.greatest(d_own, d_other) == 0, F.lit(0.0)).otherwise(
        F.round((d_other - d_own) / F.greatest(d_own, d_other), 6)
    )
    return (
        od.select("cell", sil.alias("sil"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                F.sum(F.col("sil").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
        )
    )


def trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained IVF centroid table (cell, cv) after N_ITERS Lloyd
    updates — the artifact a production deployment persists and ships
    to serving/streaming consumers (see ivf_assign_stream, which loads
    it once and assigns arriving vectors statelessly). Delegates to the
    same _train loop as the batch assignment stage."""
    return _train(spark, sf_dir)[1]
