"""Record-level governance operators: probabilistic record linkage
(Fellegi & Sunter 1969 — the model behind Splink/dedupe.io) and a
k-anonymity / l-diversity privacy audit. Both treat the customer table
as the "records" corpus.

Scale design (100 TB): linkage candidate generation is BLOCKED — an
equi-join on a composite block key, so pair volume is
sum(block_size^2), never N^2 (the fuzzy_name_pairs pattern); the
field u-probabilities come from one global value-frequency aggregate
per field (tiny, broadcast as a 1-row cross join). The anonymity audit
is two keyed aggregates (group -> ladder level). Everything is exact
integer/decimal arithmetic until one final rounded division, so the
DuckDB twins hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streams_prototyping_spark.data import load_table, table_n
from streams_prototyping_spark.functions.portable_hash import (
    PORTABLE_HASH64_DUCK_TPL,
)
from streams_prototyping_spark.registry import register
from streams_prototyping_spark.stage_cache import release_local_checkpoint

# Sub-block split hash, oracle side (ADVICE r8: was a third inlined
# copy of the md5 idiom; now rendered from the single-home template —
# byte-identical output, so no oracle result changes).
_SPLIT_HASH_DUCK_REC = PORTABLE_HASH64_DUCK_TPL.format(
    expr="CAST(r.rec_id AS VARCHAR)"
)

# ------------------------------------------ Fellegi-Sunter linkage weights

# Comparison fields over blocked customer pairs. m = P(agree | match) is
# the usual hand-set prior (Splink's default starting point); u =
# P(agree | non-match) is ESTIMATED from the data as sum_v (n_v/N)^2 —
# the probability two random records agree on the field.
FS_FIELDS = (
    # (name, spark expr producing the compared value, m-probability)
    ("segment", "c_mktsegment", 0.95),
    ("bal_band", "CAST(floor(c_acctbal / 1000) AS BIGINT)", 0.90),
    ("id_digit", "c_custkey % 10", 0.80),
)
FS_T_MATCH = 4.0  # total log2-weight thresholds: >= -> match
FS_T_POSSIBLE = 0.0  # in [possible, match) -> clerical review

# Corpus-adaptive blocking (the LSH-depth lesson applied to linkage):
# a FIXED block key is quadratic — N records over a constant number of
# blocks means block sizes, and therefore candidate pairs, grow as N^2.
# The balance-band width shrinks with the corpus so the expected block
# size stays ~FS_TARGET_BLOCK: bands_needed = N div (nations * target),
# width = ACCTBAL_SPAN div bands_needed — pure int64 arithmetic, so the
# driver-side value and the oracle's scalar params CTE cannot fork.
FS_TARGET_BLOCK = 32
FS_N_NATIONS = 25
FS_ACCTBAL_SPAN = 11000  # c_acctbal ∈ [-999.99, 9999.99]


def _fs_block_width(spark: SparkSession, sf_dir: str) -> int:
    n = table_n(spark, sf_dir, "customer")
    bands = max(1, n // (FS_N_NATIONS * FS_TARGET_BLOCK))
    return max(1, FS_ACCTBAL_SPAN // bands)


_FS_BW_SQL = (
    f"greatest(1, {FS_ACCTBAL_SPAN} // greatest(1, "
    f"(SELECT count(*) FROM customer) // {FS_N_NATIONS * FS_TARGET_BLOCK}))"
)


def _fs_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared linkage record table: blocking keys + compared values —
    persisted through stage_cache.shared_stage (ADVICE r5: the linkage
    family triggers ~5 actions over it — recs.count(), one collect per
    FS field for the u-probabilities, plus each main query — which
    previously re-ran the customer scan + block-size join every time;
    the cache also gives release_all() lifetime management under the
    bench harness)."""
    from streams_prototyping_spark.stage_cache import shared_stage

    return shared_stage(
        spark, sf_dir, "fs_recs", lambda: _fs_recs_build(spark, sf_dir)
    )


def _fs_recs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the linkage record table (uncached form).

    Two-level blocking: (1) the adaptive band width bounds block count
    growth; (2) SUB-BLOCKING caps block SIZE — real columns clump on
    repeated values (the sf10 upscale has only ~15k distinct balances
    across 1.5M records, so width alone left 400-record blocks and 94M
    candidate pairs, alpha 1.3). Oversized blocks split deterministically
    into ceil(size / {FS_TARGET_BLOCK}) sub-blocks keyed by a hashed
    rec_id (round-8: raw-id modulo is residue-biased under key-shifted
    upscale strides — similarity._SPLIT_HASH_SPARK) — the standard ER
    block-size cap: candidates are bounded at O(N * target), the
    documented tradeoff being that pairs across sub-blocks of one clump
    are not compared (capped recall, like minhash_lsh_pairs_capped).
    """
    c = load_table(spark, sf_dir, "customer")
    bw = _fs_block_width(spark, sf_dir)
    recs0 = c.select(
        F.col("c_custkey").alias("rec_id"),
        F.col("c_nationkey").alias("blk_nation"),
        F.expr(f"CAST(floor(c_acctbal / {bw}) AS BIGINT)").alias("blk_bal"),
        F.expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").alias("bal_cents"),
        *[F.expr(expr).alias(f"v_{name}") for name, expr, _ in FS_FIELDS],
    )
    sized = recs0.groupBy("blk_nation", "blk_bal").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from streams_prototyping_spark.functions.similarity import _SPLIT_HASH_SPARK

    return recs0.join(sized, ["blk_nation", "blk_bal"]).select(
        recs0["*"],
        (
            F.expr(_SPLIT_HASH_SPARK.format(id="rec_id"))
            % F.greatest(
                F.lit(1).cast("long"),
                F.expr(
                    f"CAST((cnt + {FS_TARGET_BLOCK} - 1) div {FS_TARGET_BLOCK} AS BIGINT)"
                ),
            )
        ).alias("blk_sub"),
    )


def _fs_pairs(recs: DataFrame) -> DataFrame:
    """Blocked candidate pairs (a, b aliases) — the one corpus-sized
    join every linkage operator shares."""
    a = recs.alias("a")
    b = recs.alias("b")
    return a.join(
        b,
        (F.col("a.blk_nation") == F.col("b.blk_nation"))
        & (F.col("a.blk_bal") == F.col("b.blk_bal"))
        & (F.col("a.blk_sub") == F.col("b.blk_sub"))
        & (F.col("a.rec_id") < F.col("b.rec_id")),
    )


def _round_half_away(x: float, dp: int) -> float:
    """Driver-side rounding matching DuckDB's ALGORITHM, not just its
    rule: DuckDB rounds doubles as ``round(x * 10^dp) / 10^dp`` (C
    round = half away from zero on the SCALED double), so this helper
    must do the same multiply-then-round. Quantizing the exact binary
    value of the RAW double diverges at representation boundaries —
    e.g. 0.0000005 is exactly 4.999...e-7 in binary, so quantize gives
    0.0 while DuckDB's 0.0000005*10^6 = 0.5 (exact) rounds to 1e-6
    (ADVICE r6). Python's round() is banker's (half-even) and must
    never be used here either (ADVICE r5: fs_em_params E-step weights /
    fs_linkage_weights log2 weights). Decimal(scaled) is the exact
    binary value of the scaled double; quantize-to-integer HALF_UP on
    it is bit-for-bit C round()."""
    from decimal import ROUND_HALF_UP, Decimal

    power = 10.0 ** dp
    r = Decimal(x * power).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    return float(r) / power


def _fs_weight_sql(field: str, m: float) -> str:
    """Per-field agreement/disagreement log2 weight, rounded at 6 dp
    BEFORE summation (both engines sum exact decimals)."""
    return (
        f"CAST(round(CASE WHEN a_{field} = b_{field} "
        f"THEN log2({m} / u_{field}) "
        f"ELSE log2({1.0 - m} / (1 - u_{field})) END, 6) AS DECIMAL(18,6))"
    )


def _fs_u_sql(field: str) -> str:
    """u-probability: sum over values of (freq/N)^2, as one double
    division of exact int64 aggregates — NO intermediate rounding:
    Python round() is banker's, DuckDB's is half-away, so a rounded u
    could fork between the Spark (driver-computed) and oracle sides;
    the raw IEEE quotient of identical integers cannot."""
    return (
        f"CAST((SELECT sum(n * n) FROM (SELECT count(*) AS n "
        f"FROM recs GROUP BY v_{field})) AS DOUBLE) "
        f"/ ((SELECT CAST(count(*) AS DOUBLE) FROM recs) "
        f"* (SELECT CAST(count(*) AS DOUBLE) FROM recs))"
    )


def _fs_recs_cte() -> str:
    cols = ", ".join(
        f"{expr.replace('c_', 'c.c_')} AS v_{name}" for name, expr, _ in FS_FIELDS
    )
    return f"""
params AS (
    SELECT {_FS_BW_SQL} AS bw
), recs0 AS MATERIALIZED (
    SELECT c.c_custkey AS rec_id,
           c.c_nationkey AS blk_nation,
           CAST(floor(c.c_acctbal / p.bw) AS BIGINT) AS blk_bal,
           CAST(round(c.c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
           {cols}
    FROM customer c CROSS JOIN params p
), sized AS (
    SELECT blk_nation, blk_bal, count(*) AS cnt
    FROM recs0 GROUP BY blk_nation, blk_bal
), recs AS MATERIALIZED (
    SELECT r.*,
           {_SPLIT_HASH_DUCK_REC}
               % greatest(1, (s.cnt + {FS_TARGET_BLOCK} - 1)
                             // {FS_TARGET_BLOCK}) AS blk_sub
    FROM recs0 r JOIN sized s
      ON s.blk_nation = r.blk_nation AND s.blk_bal = r.blk_bal
)"""


def _fs_oracle() -> str:
    u_cols = ",\n           ".join(
        f"{_fs_u_sql(name)} AS u_{name}" for name, _, _ in FS_FIELDS
    )
    w_sum = " + ".join(_fs_weight_sql(name, m) for name, _, m in FS_FIELDS)
    a_cols = ", ".join(f"a.v_{name} AS a_{name}" for name, _, _ in FS_FIELDS)
    b_cols = ", ".join(f"b.v_{name} AS b_{name}" for name, _, _ in FS_FIELDS)
    return f"""
WITH {_fs_recs_cte()},
u AS (
    SELECT {u_cols}
), cand AS (
    SELECT a.rec_id AS id_a, b.rec_id AS id_b, {a_cols}, {b_cols}
    FROM recs a JOIN recs b
      ON a.blk_nation = b.blk_nation AND a.blk_bal = b.blk_bal
     AND a.blk_sub = b.blk_sub AND a.rec_id < b.rec_id
), scored AS (
    SELECT CAST({w_sum} AS DOUBLE) AS weight
    FROM cand CROSS JOIN u
)
SELECT CAST(floor(weight) AS BIGINT) AS weight_band,
       CASE WHEN weight >= {FS_T_MATCH} THEN 'match'
            WHEN weight >= {FS_T_POSSIBLE} THEN 'possible'
            ELSE 'non_match' END AS decision,
       count(*) AS n_pairs,
       round(min(weight), 6) AS min_weight,
       round(max(weight), 6) AS max_weight
FROM scored
GROUP BY weight_band, decision
"""


@register("fs_linkage_weights", oracle=_fs_oracle())
def fs_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over blocked
    customer pairs: each candidate pair gets a total log2 match weight
    — sum over comparison fields of log2(m/u) on agreement and
    log2((1-m)/(1-u)) on disagreement — with m hand-set priors and u
    (chance-agreement) estimated from global value frequencies.
    Output is the match-weight histogram (1-point bands) crossed with
    the three-way Fellegi-Sunter decision (match / possible /
    non_match), i.e. the threshold-setting artifact a linkage pipeline
    owner actually looks at.

    Scale design: blocking on (nation, acctbal band) makes the
    candidate join an equi-join, and the band width is
    CORPUS-ADAPTIVE (_fs_block_width — the LSH-depth lesson): a fixed
    block key would make pair volume sum(block^2) ~ N^2/consts, i.e.
    quadratic; shrinking the width to hold expected block size at
    ~{FS_TARGET_BLOCK} keeps candidates O(N). The width formula is
    pure int64 and mirrored as the oracle's scalar params CTE.
    u-probabilities are one aggregate per field over the record
    table (each a scalar, cross-joined as a broadcast 1-row literal);
    the weight sum is exact decimal arithmetic (per-field weights
    rounded at 6 dp, summed losslessly), so floor() banding cannot
    fork between engines. At production scale the m's come from the EM
    pass over the same comparison-vector counts this query already
    materializes.
    """
    recs = _fs_recs(spark, sf_dir)

    n = recs.count()
    # u per field: one tiny aggregate each — driver-side scalars, the
    # same shape as the adaptive-depth params elsewhere (bounded by the
    # field count, not the corpus).
    us = {}
    for name, _, _ in FS_FIELDS:
        sq = (
            recs.groupBy(f"v_{name}")
            .count()
            .agg(F.sum(F.col("count") * F.col("count")).alias("ss"))
            .collect()[0]["ss"]
        )
        us[name] = float(sq) / (float(n) * float(n))

    cand = _fs_pairs(recs)
    import math

    weight = None
    for name, _, m in FS_FIELDS:
        agree_w = _round_half_away(math.log2(m / us[name]), 6)
        disagree_w = _round_half_away(math.log2((1.0 - m) / (1.0 - us[name])), 6)
        term = (
            F.when(
                F.col(f"a.v_{name}") == F.col(f"b.v_{name}"), F.lit(agree_w)
            )
            .otherwise(F.lit(disagree_w))
            .cast("decimal(18,6)")
        )
        weight = term if weight is None else weight + term
    scored = cand.select(weight.cast("double").alias("weight"))
    return (
        scored.groupBy(
            F.floor("weight").cast("long").alias("weight_band"),
            F.when(F.col("weight") >= FS_T_MATCH, "match")
            .when(F.col("weight") >= FS_T_POSSIBLE, "possible")
            .otherwise("non_match")
            .alias("decision"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("weight"), 6).alias("min_weight"),
            F.round(F.max("weight"), 6).alias("max_weight"),
        )
    )


# ------------------------------------------------ k-anonymity / l-diversity

K_ANON_K = 5  # re-identification risk threshold

# Generalization ladder: progressively coarser quasi-identifier sets.
# Level 0 is the most specific (highest utility, worst k); each level
# drops/coarsens one QI — the Samarati/Sweeney generalization lattice
# walked as a single unpivoted query.
_QI_LADDER = (
    # (level, spark/duck expr for the composite QI key)
    (
        0,
        "CAST(c_nationkey AS STRING) || '|' || c_mktsegment || '|' "
        "|| CAST(CAST(floor(c_acctbal / 500) AS BIGINT) AS STRING)",
    ),
    (1, "CAST(c_nationkey AS STRING) || '|' || c_mktsegment"),
    (2, "c_mktsegment"),
)
# sensitive attribute for l-diversity: the account-balance decile
_SENSITIVE = "CAST(floor(c_acctbal / 1000) AS BIGINT)"


def _k_anon_oracle() -> str:
    levels = "\nUNION ALL\n".join(
        f"SELECT {lvl} AS level, {expr} AS qi, {_SENSITIVE} AS sens, "
        f"c_custkey FROM customer"
        for lvl, expr in _QI_LADDER
    )
    return f"""
WITH leveled AS (
    {levels}
), grouped AS (
    SELECT level, qi,
           count(*) AS k,
           count(DISTINCT sens) AS l
    FROM leveled GROUP BY level, qi
)
SELECT level,
       count(*) AS n_groups,
       min(k) AS min_k,
       min(l) AS min_l,
       CAST(sum(CASE WHEN k < {K_ANON_K} THEN k ELSE 0 END) AS BIGINT)
           AS n_records_below_k,
       round(CAST(sum(CASE WHEN k < {K_ANON_K} THEN k ELSE 0 END) AS DOUBLE)
             / sum(k), 6) AS frac_below_k
FROM grouped
GROUP BY level
"""


@register("k_anonymity_audit", oracle=_k_anon_oracle())
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    2007) across a generalization ladder: for each level of
    progressively coarser quasi-identifiers — (nation, segment,
    balance-band) -> (nation, segment) -> (segment) — report the group
    count, worst-case k (smallest equivalence class), worst-case l
    (fewest distinct sensitive values in a class), and how many
    records sit in classes below k={K_ANON_K} (the re-identifiable
    fraction). This is the table a privacy review reads to pick the
    cheapest generalization level that clears policy.

    Scale design: one union of narrow projections (the ladder is a
    constant-size lattice walk), one keyed aggregate per level on the
    QI key, one per-level rollup — two shuffles of key-sized rows
    regardless of corpus width. count(DISTINCT sens) per group is
    bounded by the sensitive attribute's cardinality, not the corpus.
    """
    c = load_table(spark, sf_dir, "customer")
    leveled = None
    for lvl, expr in _QI_LADDER:
        part = c.select(
            F.lit(lvl).cast("int").alias("level"),
            F.expr(expr).alias("qi"),
            F.expr(_SENSITIVE).alias("sens"),
        )
        leveled = part if leveled is None else leveled.unionAll(part)
    grouped = leveled.groupBy("level", "qi").agg(
        F.count(F.lit(1)).alias("k"),
        F.count_distinct("sens").alias("l"),
    )
    below = F.when(F.col("k") < K_ANON_K, F.col("k")).otherwise(F.lit(0))
    return grouped.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("k").alias("min_k"),
        F.min("l").alias("min_l"),
        F.sum(below).alias("n_records_below_k"),
        F.round(F.sum(below).cast("double") / F.sum("k"), 6).alias("frac_below_k"),
    )


# --------------------------------------- Fellegi-Sunter EM parameter fit

EM_ROUNDS = 3
EM_LAM0, EM_M0, EM_U0 = 0.01, 0.9, 0.1


def _em_round_ctes(r: int, prev: str) -> str:
    """One unrolled EM round over the (<=8-row) comparison-pattern
    table: E-step weights as exact DECIMAL(14,12), M-step parameter
    updates as double ratios of exact decimal sums."""
    names = [name for name, _, _ in FS_FIELDS]
    pm = " * ".join(
        f"(CASE WHEN g_{n} = 1 THEN p.m_{n} ELSE 1 - p.m_{n} END)" for n in names
    )
    pu = " * ".join(
        f"(CASE WHEN g_{n} = 1 THEN p.u_{n} ELSE 1 - p.u_{n} END)" for n in names
    )
    gcols = ", ".join(f"g_{n}" for n in names)
    m_up = ",\n           ".join(
        f"greatest(least(CAST(sum(n * w * g_{n}) AS DOUBLE) "
        f"/ greatest(CAST(sum(n * w) AS DOUBLE), 1e-30), 1 - 1e-6), 1e-6) AS m_{n}"
        for n in names
    )
    u_up = ",\n           ".join(
        f"greatest(least(CAST(sum(n * g_{n}) - sum(n * w * g_{n}) AS DOUBLE) "
        f"/ greatest(CAST(sum(n) - sum(n * w) AS DOUBLE), 1e-30), 1 - 1e-6), 1e-6)"
        f" AS u_{n}"
        for n in names
    )
    return f"""
e{r} AS (
    SELECT {gcols}, n,
           p.lam * {pm} AS pm,
           (1 - p.lam) * {pu} AS pu
    FROM pat CROSS JOIN {prev} p
), w{r} AS (
    SELECT {gcols}, n,
           CAST(round(pm / (pm + pu), 12) AS DECIMAL(14,12)) AS w
    FROM e{r}
), p{r} AS (
    SELECT greatest(least(CAST(sum(n * w) AS DOUBLE) / sum(n), 1 - 1e-6), 1e-6)
               AS lam,
           {m_up},
           {u_up}
    FROM w{r}
)"""


def _fs_em_oracle() -> str:
    names = [name for name, _, _ in FS_FIELDS]
    gammas = ", ".join(
        f"CASE WHEN a.v_{n} = b.v_{n} THEN 1 ELSE 0 END AS g_{n}" for n in names
    )
    init_cols = ", ".join(
        [f"CAST({EM_LAM0} AS DOUBLE) AS lam"]
        + [f"CAST({EM_M0} AS DOUBLE) AS m_{n}" for n in names]
        + [f"CAST({EM_U0} AS DOUBLE) AS u_{n}" for n in names]
    )
    rounds = "".join(
        "," + _em_round_ctes(r, f"p{r - 1}" if r > 1 else "p0")
        for r in range(1, EM_ROUNDS + 1)
    )
    last = f"p{EM_ROUNDS}"
    out = [f"SELECT 'lambda' AS param, round(lam, 9) AS value FROM {last}"]
    for n in names:
        out.append(f"SELECT 'm_{n}', round(m_{n}, 9) FROM {last}")
        out.append(f"SELECT 'u_{n}', round(u_{n}, 9) FROM {last}")
    unpivot = "\nUNION ALL ".join(out)
    return f"""
WITH {_fs_recs_cte()},
cand AS (
    SELECT {gammas}
    FROM recs a JOIN recs b
      ON a.blk_nation = b.blk_nation AND a.blk_bal = b.blk_bal
     AND a.blk_sub = b.blk_sub AND a.rec_id < b.rec_id
), pat AS (
    SELECT {", ".join(f"g_{n}" for n in names)}, count(*) AS n
    FROM cand GROUP BY {", ".join(f"g_{n}" for n in names)}
), p0 AS (
    SELECT {init_cols}
){rounds}
{unpivot}
"""


@register("fs_em_params", oracle=_fs_em_oracle())
def fs_em_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised EM fit of the Fellegi-Sunter parameters (the core
    of Splink / Winkler's method): over the blocked pairs' agreement
    patterns (2^3 = 8 comparison vectors), {EM_ROUNDS} EM rounds
    estimate lambda (match proportion) and per-field m/u
    probabilities. E-step: P(match | pattern) from the current
    params; M-step: weighted MLE updates. Emits the fitted parameter
    vector — the data-driven replacement for fs_linkage_weights'
    hand-set m priors.

    Scale design: the corpus-sized work is ONE aggregation — blocked
    pairs folded to <=8 pattern counts (map-side combinable). EM then
    runs driver-side on those 8 integers (the markov_attribution
    absorbing-solve precedent: a constant-size model fold, not a data
    fold). At 100 TB nothing changes: the pattern table is still 8
    rows.

    Determinism: E-step weights are snapped to exact DECIMAL(14,12)
    grid points in both engines under the SAME rounding rule —
    DuckDB's round() is half-away-from-zero, so the Python side
    quantizes with ROUND_HALF_UP (_round_half_away), never Python's
    banker's round(). Every M-step sum is then exact decimal
    arithmetic; the double ratio/clamp chains use the same operation
    order on both sides.
    """
    from decimal import ROUND_HALF_UP, Decimal

    names = [name for name, _, _ in FS_FIELDS]
    cand = _fs_pairs(_fs_recs(spark, sf_dir)).select(
        *[
            F.when(F.col(f"a.v_{n}") == F.col(f"b.v_{n}"), 1)
            .otherwise(0)
            .alias(f"g_{n}")
            for n in names
        ]
    )
    pats = [
        (tuple(int(row[f"g_{n}"]) for n in names), int(row["n"]))
        for row in cand.groupBy(*[f"g_{n}" for n in names])
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]

    lam = EM_LAM0
    m = {n: EM_M0 for n in names}
    u = {n: EM_U0 for n in names}
    for _ in range(EM_ROUNDS):
        weighted = []
        for gs, n in pats:
            pm = lam
            pu = 1 - lam
            for i, f in enumerate(names):
                pm = pm * (m[f] if gs[i] == 1 else 1 - m[f])
                pu = pu * (u[f] if gs[i] == 1 else 1 - u[f])
            w = Decimal(pm / (pm + pu)).quantize(
                Decimal("1e-12"), rounding=ROUND_HALF_UP
            )
            weighted.append((gs, n, w))
        s = sum((n * w for _, n, w in weighted), Decimal(0))
        t = sum(n for _, n, _ in weighted)
        new_m, new_u = {}, {}
        for i, f in enumerate(names):
            sg = sum((n * w for gs, n, w in weighted if gs[i] == 1), Decimal(0))
            ng = sum(n for gs, n, _ in weighted if gs[i] == 1)
            new_m[f] = max(min(float(sg) / max(float(s), 1e-30), 1 - 1e-6), 1e-6)
            new_u[f] = max(
                min(
                    float(Decimal(ng) - sg) / max(float(Decimal(t) - s), 1e-30),
                    1 - 1e-6,
                ),
                1e-6,
            )
        lam = max(min(float(s) / t, 1 - 1e-6), 1e-6)
        m, u = new_m, new_u

    rows = [("lambda", _round_half_away(lam, 9))]
    for n in names:
        rows.append((f"m_{n}", _round_half_away(m[n], 9)))
        rows.append((f"u_{n}", _round_half_away(u[n], 9)))
    return spark.createDataFrame(rows, "param string, value double")


# ------------------------------------- greedy one-to-one match assignment

MATCH_ROUNDS = 3


def _match_oracle() -> str:
    """Unrolled greedy mutual-best matching (the MMR-unroll pattern):
    each round keeps pairs that are rank-1 for BOTH endpoints, then
    removes every pair touching a matched record."""
    rounds = []
    prev = "p0"
    outs = []
    for r in range(1, MATCH_ROUNDS + 1):
        rounds.append(f"""
d{r} AS (
    SELECT id_a AS u, id_b AS v, score FROM {prev}
    UNION ALL
    SELECT id_b AS u, id_a AS v, score FROM {prev}
), best{r} AS MATERIALIZED (
    SELECT u, v, score FROM (
        SELECT u, v, score,
               row_number() OVER (PARTITION BY u
                                  ORDER BY score DESC, v) AS rn
        FROM d{r}
    ) WHERE rn = 1
), m{r} AS MATERIALIZED (
    SELECT x.u AS id_a, x.v AS id_b, x.score
    FROM best{r} x JOIN best{r} y ON y.u = x.v AND y.v = x.u
    WHERE x.u < x.v
), x{r} AS (
    SELECT id_a AS rec FROM m{r} UNION SELECT id_b FROM m{r}
), p{r} AS MATERIALIZED (
    SELECT p.id_a, p.id_b, p.score FROM {prev} p
    LEFT JOIN x{r} ta ON p.id_a = ta.rec
    LEFT JOIN x{r} tb ON p.id_b = tb.rec
    WHERE ta.rec IS NULL AND tb.rec IS NULL
)""")
        outs.append(
            f"SELECT id_a, id_b, score, CAST({r} AS BIGINT) AS round FROM m{r}"
        )
        prev = f"p{r}"
    return f"""
WITH {_fs_recs_cte()},
p0 AS MATERIALIZED (
    SELECT a.rec_id AS id_a, b.rec_id AS id_b,
           -abs(a.bal_cents - b.bal_cents) AS score
    FROM recs a JOIN recs b
      ON a.blk_nation = b.blk_nation AND a.blk_bal = b.blk_bal
     AND a.blk_sub = b.blk_sub AND a.rec_id < b.rec_id
),{",".join(rounds)}
{" UNION ALL ".join(outs)}
"""


@register("greedy_match_assign", oracle=_match_oracle())
def greedy_match_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-one record assignment by greedy mutual-best matching —
    the resolution step after pair scoring (fs_linkage_weights ranks
    pairs; THIS decides who marries whom): within the adaptive blocks,
    each round keeps every pair that is the highest-scoring partner
    for BOTH of its endpoints (score = balance proximity in exact
    integer cents, ties by id), removes the matched records, and
    repeats {MATCH_ROUNDS} rounds. Greedy mutual-best is the classic
    distributed 1/2-approximation of maximum-weight matching — each
    round symmetrizes the surviving pairs into directed edges, ranks
    each record's full neighborhood in ONE window, mirror-joins the
    rank-1 edges, then anti-joins matched records out; all keyed,
    O(pairs).

    Determinism: scores are exact int64 (cents deltas), every rank
    tie-breaks on ids, and the round count is fixed — both engines
    walk the identical elimination sequence.

    Scale design: pair volume is O(N) by adaptive blocking; per round
    the windows shuffle on endpoint ids and the matched-record
    anti-join is a keyed semi-join. Round results are persisted and
    the survivor set re-derived, never re-scored; lineage stays
    bounded because the loop is a fixed {MATCH_ROUNDS}-round unroll.
    """
    pairs = _fs_pairs(_fs_recs(spark, sf_dir)).select(
        F.col("a.rec_id").alias("id_a"),
        F.col("b.rec_id").alias("id_b"),
        (-F.abs(F.col("a.bal_cents") - F.col("b.bal_cents"))).alias("score"),
    )
    from pyspark.sql import Window

    # Every round checkpoints all three tables: an r12 same-session A/B
    # against checkpointing only every 2nd round (lineage doubles,
    # blocking actions halve) read 2.27 s med vs 6.77 s med
    # (OPTIMIZATION_r12.md).
    out = None
    p = pairs
    for r in range(1, MATCH_ROUNDS + 1):
        # Symmetrize BEFORE ranking: pairs are stored ordered
        # (id_a < id_b), so a record's candidate neighborhood is split
        # across the two columns — per-column windows let one record
        # win twice in a round (caught by the one-to-one invariant
        # test; the cross-engine oracle alone could not see it, both
        # engines computed the same wrong thing). Rank each record's
        # FULL directed neighborhood instead.
        d = p.select(
            F.col("id_a").alias("u"), F.col("id_b").alias("v"), "score"
        ).unionAll(
            p.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"), "score")
        )
        wu = Window.partitionBy("u").orderBy(F.col("score").desc(), F.col("v"))
        # Only each record's SINGLE best edge is ever consumed, so the
        # rank-1 filter runs BEFORE the checkpoint (rn=1 plans as a
        # WindowGroupLimit: per-partition top-1 pre-prune, and the
        # stored block is O(records), not O(2*pairs)). best feeds both
        # sides of the mirror join and p feeds the next symmetrize
        # TWICE — a >1-fan-out iterative loop, so the LOGICAL plan
        # quadruples per round and Catalyst analysis dominates wall
        # clock (the cc_star lesson: persist() caches blocks but never
        # truncates the plan). localCheckpoint cuts lineage to a leaf;
        # the oracle twin uses AS MATERIALIZED for the same reason
        # (DuckDB inlines plain CTEs once per reference). Each
        # generation's blocks are released as soon as their consumers
        # are materialized via release_local_checkpoint — Dataset
        # .unpersist() is a NO-OP for localCheckpoint blocks (ADVICE
        # r5: it only consults the SQL cache manager); at sf10 three
        # live generations of 40M-row rank tables OOM'd the heap.
        best = (
            d.select("u", "v", "score", F.row_number().over(wu).alias("rn"))
            .filter(F.col("rn") == 1)
            .select("u", "v", "score")
            .localCheckpoint()
        )
        x = best.alias("x")
        y = best.alias("y")
        m = (
            x.join(
                y,
                (F.col("y.u") == F.col("x.v")) & (F.col("y.v") == F.col("x.u")),
            )
            .filter(F.col("x.u") < F.col("x.v"))
            .select(
                F.col("x.u").alias("id_a"),
                F.col("x.v").alias("id_b"),
                F.col("x.score").alias("score"),
            )
        )
        m = m.localCheckpoint()
        release_local_checkpoint(best)
        tagged = m.select("id_a", "id_b", "score", F.lit(r).cast("long").alias("round"))
        out = tagged if out is None else out.unionAll(tagged)
        matched = (
            m.select(F.col("id_a").alias("rec"))
            .union(m.select(F.col("id_b").alias("rec")))
        )
        p_next = (
            p.join(matched.withColumnRenamed("rec", "id_a"), "id_a", "left_anti")
            .join(matched.withColumnRenamed("rec", "id_b"), "id_b", "left_anti")
            .select("id_a", "id_b", "score")
            .localCheckpoint()
        )
        if r > 1:  # round-0 pairs is plain lineage, nothing to free
            release_local_checkpoint(p)
        p = p_next
    return out


# ------------------------------------------------------- t-closeness audit

T_CLOSE_THRESHOLD = 0.2  # groups with EMD above this flag the level


def _t_closeness_oracle() -> str:
    levels = "\nUNION ALL\n".join(
        f"SELECT {lvl} AS level, {expr} AS qi, {_SENSITIVE} AS sens, "
        f"c_custkey FROM customer"
        for lvl, expr in _QI_LADDER
    )
    return f"""
WITH leveled AS MATERIALIZED (
    {levels}
), cell AS (
    SELECT level, qi, sens, count(*) AS c FROM leveled GROUP BY level, qi, sens
), gt AS (
    SELECT level, qi, count(*) AS gtot FROM leveled GROUP BY level, qi
), gdist AS (
    SELECT level, sens, count(*) AS g FROM leveled GROUP BY level, sens
), tot AS (
    SELECT level, count(*) AS n, count(DISTINCT sens) AS m
    FROM leveled GROUP BY level
), grid AS (
    SELECT q.level, q.qi, s.sens, coalesce(cell.c, 0) AS c0,
           q.gtot, s.g, s.n, s.m
    FROM gt q
    JOIN (SELECT gdist.level, gdist.sens, gdist.g, tot.n, tot.m
          FROM gdist JOIN tot ON tot.level = gdist.level) s
      ON s.level = q.level
    LEFT JOIN cell ON cell.level = q.level AND cell.qi = q.qi
                  AND cell.sens = s.sens
), runs AS (
    SELECT level, qi, m,
           row_number() OVER (PARTITION BY level, qi ORDER BY sens) AS i,
           sum(CAST(c0 AS DOUBLE) / gtot - CAST(g AS DOUBLE) / n)
               OVER (PARTITION BY level, qi ORDER BY sens
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
    FROM grid
), tq AS (
    SELECT level, qi,
           round(CAST(sum(CAST(round(abs(run), 12) AS DECIMAL(16,12)))
                      AS DOUBLE) / greatest(max(m) - 1, 1), 9) AS t
    FROM runs WHERE i < m GROUP BY level, qi
)
SELECT level,
       count(*) AS n_groups,
       max(t) AS max_t,
       CAST(sum(CASE WHEN t > {T_CLOSE_THRESHOLD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_groups_above,
       round(CAST(sum(CAST(t AS DECIMAL(12,9))) AS DOUBLE) / count(*), 6)
           AS avg_t
FROM tq GROUP BY level
"""


@register("t_closeness_audit", oracle=_t_closeness_oracle())
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) over the
    same quasi-identifier generalization ladder as k_anonymity_audit:
    per equivalence class, the ordinal earth-mover's distance between
    the class's sensitive-attribute distribution and the global one —
    EMD = mean of |cumulative(Q - P)| over the ordered sensitive
    values. k/l-diversity miss skew ATTACKS (a class can be 5-anonymous
    and 3-diverse yet 90% one sensitive value); t-closeness is the
    metric that catches them. Reports worst-case t, the count of
    classes above t={T_CLOSE_THRESHOLD}, and the mean per level.

    Determinism: the running cumulative is an ORDERED window (both
    engines fold in sensitive-value order); per-class EMD sums the
    12-dp-rounded |cumulatives| as exact decimals; per-level mean sums
    9-dp t values as exact decimals. Zero-count cells are restored by
    a (class x sensitive-value) grid join so Q's support matches P's.

    Scale design: three keyed aggregates plus one window over the
    (classes x sensitive-cardinality) grid — the grid is corpus-row
    bounded times a small constant (sensitive cardinality), never a
    pair join.
    """
    leveled = None
    c = load_table(spark, sf_dir, "customer")
    for lvl, expr in _QI_LADDER:
        part = c.select(
            F.lit(lvl).cast("int").alias("level"),
            F.expr(expr).alias("qi"),
            F.expr(_SENSITIVE).alias("sens"),
        )
        leveled = part if leveled is None else leveled.unionAll(part)
    leveled = leveled.persist()
    cell = leveled.groupBy("level", "qi", "sens").agg(F.count(F.lit(1)).alias("c"))
    gt = leveled.groupBy("level", "qi").agg(F.count(F.lit(1)).alias("gtot"))
    glob = leveled.groupBy("level", "sens").agg(F.count(F.lit(1)).alias("g"))
    tot = leveled.groupBy("level").agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("sens").alias("m")
    )
    svals = glob.join(tot, "level").select("level", "sens", "g", "n", "m")
    grid = (
        gt.join(svals, "level")
        .join(cell, ["level", "qi", "sens"], "left")
        .select(
            "level",
            "qi",
            "sens",
            F.coalesce("c", F.lit(0)).alias("c0"),
            "gtot",
            "g",
            "n",
            "m",
        )
    )
    from pyspark.sql import Window

    wq = Window.partitionBy("level", "qi").orderBy("sens")
    runs = grid.select(
        "level",
        "qi",
        "m",
        F.row_number().over(wq).alias("i"),
        F.sum(
            F.col("c0").cast("double") / F.col("gtot")
            - F.col("g").cast("double") / F.col("n")
        )
        .over(wq.rowsBetween(Window.unboundedPreceding, 0))
        .alias("run"),
    )
    tq = (
        runs.filter(F.col("i") < F.col("m"))
        .groupBy("level", "qi")
        .agg(
            F.round(
                F.sum(F.round(F.abs("run"), 12).cast("decimal(16,12)")).cast(
                    "double"
                )
                / F.greatest(F.max("m") - 1, F.lit(1)),
                9,
            ).alias("t")
        )
    )
    return tq.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.max("t").alias("max_t"),
        F.sum(F.when(F.col("t") > T_CLOSE_THRESHOLD, 1).otherwise(0))
        .cast("long")
        .alias("n_groups_above"),
        F.round(
            F.sum(F.col("t").cast("decimal(12,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_t"),
    )
