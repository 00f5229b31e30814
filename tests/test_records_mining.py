"""Round-5c operator tests: margin-based pair mining (independent
Python differential), Fellegi-Sunter linkage invariants (pair
conservation, threshold/band consistency), k-anonymity ladder
monotonicity — plus plan pins (no cartesians anywhere; the margin
all-pairs stage must be a broadcast nested-loop, not a shuffle)."""

import math
from decimal import Decimal

import pyspark.sql.functions as F

from streams_prototyping_spark import registry
from streams_prototyping_spark.data import load_table
from streams_prototyping_spark.functions.portable_hash import portable_hash64_py
from streams_prototyping_spark.plans.introspect import plan_facts

registry.load_all()


# ------------------------------------------------------ margin mining

def _py_margin_reference(spark, sf_dir):
    """Independent reimplementation of margin_knn_mining with plain
    Python floats, mirroring the engine's fold order and rounding."""
    from streams_prototyping_spark.functions.similarity import (
        MARGIN_K,
        MARGIN_SIDE,
    )

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 2 * MARGIN_SIDE)
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    sqn = {i: sum(x * x for x in v) for i, v in vecs.items()}
    xs = sorted(i for i in vecs if i % 2 == 0)
    ys = sorted(i for i in vecs if i % 2 == 1)
    cos = {}
    for xi in xs:
        for yi in ys:
            acc = 0.0
            for a, b in zip(vecs[xi], vecs[yi]):
                acc += a * b
            cos[(xi, yi)] = round(acc / (math.sqrt(sqn[xi]) * math.sqrt(sqn[yi])), 6)

    def knn_sum(ids, other_ids, key):
        out = {}
        for i in ids:
            top = sorted(
                ((cos[key(i, j)], j) for j in other_ids),
                key=lambda t: (-t[0], t[1]),
            )[:MARGIN_K]
            s = sum(Decimal(f"{c:.6f}") for c, _ in top)
            out[i] = float(s)
        return out

    sx = knn_sum(xs, ys, lambda i, j: (i, j))
    sy = knn_sum(ys, xs, lambda i, j: (j, i))
    margin = {
        (xi, yi): round(c * 2 * MARGIN_K / (sx[xi] + sy[yi]), 6)
        for (xi, yi), c in cos.items()
    }
    best_y = {
        xi: min(((-margin[(xi, yi)], yi) for yi in ys))[1] for xi in xs
    }
    best_x = {
        yi: min(((-margin[(xi, yi)], xi) for xi in xs))[1] for yi in ys
    }
    return {
        xi: (
            best_y[xi],
            cos[(xi, best_y[xi])],
            margin[(xi, best_y[xi])],
            best_x[best_y[xi]] == xi,
        )
        for xi in xs
    }


def test_margin_mining_matches_python_reference(spark, sf_dir):
    got = {
        r.x_id: (r.y_id, r.cos_sim, r.margin, r.mutual)
        for r in registry.QUERIES["margin_knn_mining"](spark, sf_dir).collect()
    }
    want = _py_margin_reference(spark, sf_dir)
    assert set(got) == set(want)
    for xi in want:
        assert got[xi] == want[xi], f"x_id={xi}: {got[xi]} != {want[xi]}"


def test_margin_mining_shape_and_plan(spark, sf_dir):
    from streams_prototyping_spark.functions.similarity import MARGIN_SIDE

    df = registry.QUERIES["margin_knn_mining"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) == MARGIN_SIDE  # exactly one best y per x
    assert all(r.x_id % 2 == 0 and r.y_id % 2 == 1 for r in rows)
    # mutual pairs are one-to-one: no y repeats among mutual winners
    mut = [r.y_id for r in rows if r.mutual]
    assert len(mut) == len(set(mut))
    facts = plan_facts(df)
    assert not facts.has_cartesian


# ------------------------------------------------------ Fellegi-Sunter

def test_fs_linkage_pair_conservation(spark, sf_dir):
    """sum(n_pairs) over the report equals the blocked-pair count
    computed independently: sum over blocks of C(size, 2)."""
    rows = registry.QUERIES["fs_linkage_weights"](spark, sf_dir).collect()
    total = sum(r.n_pairs for r in rows)
    want = sum(c * (c - 1) // 2 for c in _sub_block_sizes(spark, sf_dir).values())
    assert total == want


def _sub_block(rid, nsub):
    """The engine's sub-block key (records._fs_recs_build): the portable
    hash of the id, then Spark's % (the sign follows the dividend,
    unlike Python's)."""
    h = portable_hash64_py(str(rid))
    r = abs(h) % nsub
    return -r if h < 0 else r


def _sub_block_sizes(spark, sf_dir):
    """Independent recomputation of the two-level blocking (adaptive
    band width + size-cap sub-blocking): (nation, band, sub) -> size."""
    from streams_prototyping_spark.functions.records import (
        FS_TARGET_BLOCK,
        _fs_block_width,
    )

    bw = _fs_block_width(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"),
        F.col("c_nationkey").alias("nat"),
        F.expr(f"CAST(floor(c_acctbal / {bw}) AS BIGINT)").alias("bb"),
    ).collect()
    blocks = {}
    for r in c:
        blocks.setdefault((r.nat, r.bb), []).append(r.rid)
    sizes = {}
    for (nat, bb), rids in blocks.items():
        nsub = max(1, (len(rids) + FS_TARGET_BLOCK - 1) // FS_TARGET_BLOCK)
        for rid in rids:
            k = (nat, bb, _sub_block(rid, nsub))
            sizes[k] = sizes.get(k, 0) + 1
    return sizes


def test_fs_linkage_bands_and_decisions_consistent(spark, sf_dir):
    from streams_prototyping_spark.functions.records import (
        FS_T_MATCH,
        FS_T_POSSIBLE,
    )

    rows = registry.QUERIES["fs_linkage_weights"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.weight_band == math.floor(r.min_weight)
        assert r.weight_band == math.floor(r.max_weight)
        assert r.min_weight <= r.max_weight
        if r.decision == "match":
            assert r.min_weight >= FS_T_MATCH
        elif r.decision == "possible":
            assert FS_T_POSSIBLE <= r.min_weight and r.max_weight < FS_T_MATCH
        else:
            assert r.max_weight < FS_T_POSSIBLE


def test_fs_linkage_no_cartesian(spark, sf_dir):
    facts = plan_facts(registry.QUERIES["fs_linkage_weights"](spark, sf_dir))
    assert not facts.has_cartesian


# ------------------------------------------------------ k-anonymity

def test_k_anonymity_ladder_monotone(spark, sf_dir):
    """Coarsening quasi-identifiers merges equivalence classes, so
    min_k is non-decreasing and n_groups non-increasing up the ladder;
    l-diversity never exceeds class size."""
    rows = {
        r.level: r
        for r in registry.QUERIES["k_anonymity_audit"](spark, sf_dir).collect()
    }
    assert set(rows) == {0, 1, 2}
    for lo, hi in ((0, 1), (1, 2)):
        assert rows[hi].min_k >= rows[lo].min_k
        assert rows[hi].n_groups <= rows[lo].n_groups
    c = load_table(spark, sf_dir, "customer").count()
    for r in rows.values():
        assert 0 <= r.frac_below_k <= 1
        assert r.min_l >= 1
        assert r.n_records_below_k <= c


def test_fs_em_params_valid_and_deterministic(spark, sf_dir):
    rows = {
        r.param: r.value
        for r in registry.QUERIES["fs_em_params"](spark, sf_dir).collect()
    }
    from streams_prototyping_spark.functions.records import FS_FIELDS

    names = [n for n, _, _ in FS_FIELDS]
    assert set(rows) == {"lambda"} | {f"m_{n}" for n in names} | {
        f"u_{n}" for n in names
    }
    for k, v in rows.items():
        assert 0 < v < 1, (k, v)
    # EM on a fixed pattern table is deterministic across invocations
    again = {
        r.param: r.value
        for r in registry.QUERIES["fs_em_params"](spark, sf_dir).collect()
    }
    assert rows == again


def test_greedy_match_is_one_to_one_and_mutual_best(spark, sf_dir):
    """Matching invariants: (1) no record appears in more than one
    matched pair across all rounds (one-to-one); (2) a round-1 match
    really is mutual-best — no other round-1-eligible pair involving
    either endpoint has a strictly better (score, tie-break) key."""
    rows = registry.QUERIES["greedy_match_assign"](spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.id_a not in seen and r.id_b not in seen, r
        seen.add(r.id_a)
        seen.add(r.id_b)
    # recompute round-1 candidate pairs independently (two-level
    # blocking: adaptive band width + size-cap sub-blocking)
    from streams_prototyping_spark.functions.records import (
        FS_TARGET_BLOCK,
        _fs_block_width,
    )

    bw = _fs_block_width(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"),
        F.col("c_nationkey").alias("nat"),
        F.expr(f"CAST(floor(c_acctbal / {bw}) AS BIGINT)").alias("bb"),
        F.expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").alias("cents"),
    ).collect()
    best = {}  # rid -> best (score, partner) seen among all blocked pairs
    coarse = {}
    for r in c:
        coarse.setdefault((r.nat, r.bb), []).append(r)
    by_block = {}
    for (nat, bb), grp in coarse.items():
        nsub = max(1, (len(grp) + FS_TARGET_BLOCK - 1) // FS_TARGET_BLOCK)
        for r in grp:
            by_block.setdefault((nat, bb, _sub_block(r.rid, nsub)), []).append(r)
    for grp in by_block.values():
        grp.sort(key=lambda r: r.rid)
        for i in range(len(grp)):
            for j in range(i + 1, len(grp)):
                a, b = grp[i], grp[j]
                s = -abs(a.cents - b.cents)
                # rank key mirrors the window: score desc, partner asc
                if best.get(a.rid) is None or (-s, b.rid) < best[a.rid][0]:
                    best[a.rid] = ((-s, b.rid), b.rid)
                if best.get(b.rid) is None or (-s, a.rid) < best[b.rid][0]:
                    best[b.rid] = ((-s, a.rid), a.rid)
    for r in rows:
        if r.round == 1:
            assert best[r.id_a][1] == r.id_b, r
            assert best[r.id_b][1] == r.id_a, r


def test_t_closeness_monotone_and_bounded(spark, sf_dir):
    """EMD t is in [0,1]; coarsening the ladder merges classes toward
    the global distribution, so worst-case t is non-increasing."""
    rows = {
        r.level: r
        for r in registry.QUERIES["t_closeness_audit"](spark, sf_dir).collect()
    }
    assert set(rows) == {0, 1, 2}
    for r in rows.values():
        assert 0 <= r.avg_t <= r.max_t <= 1
        assert 0 <= r.n_groups_above <= r.n_groups
    assert rows[2].max_t <= rows[1].max_t <= rows[0].max_t
    # group counts must agree with the k-anonymity ladder
    k_rows = {
        r.level: r
        for r in registry.QUERIES["k_anonymity_audit"](spark, sf_dir).collect()
    }
    for lvl in rows:
        assert rows[lvl].n_groups == k_rows[lvl].n_groups


def test_pps_ht_estimates_close_and_reproducible(spark, sf_dir):
    r = registry.QUERIES["pps_horvitz_thompson"](spark, sf_dir).collect()[0]
    # realized sample size within 4 sd of Poisson expectation
    import math

    sd = math.sqrt(r.n_expected)
    assert abs(r.n_sampled - r.n_expected) <= 4 * sd
    # PPS-optimal revenue estimate: relative error well under the
    # count estimate's (pi proportional to the estimand)
    rev_err = abs(r.ht_total - r.exact_total) / r.exact_total
    cnt_err = abs(r.ht_count - r.n_pop) / r.n_pop
    assert rev_err < 0.05
    assert cnt_err < 0.05
    # at the test SFs n_target is a large fraction of the population
    # (most pi cap at 1 -> near-census), so the PPS-optimality ordering
    # rev_err <= cnt_err only shows at real scale; here both are tiny
    again = registry.QUERIES["pps_horvitz_thompson"](spark, sf_dir).collect()[0]
    assert again == r


def test_isotonic_calibration_matches_pav_reference(spark, sf_dir):
    """The minimax closed form must equal classic sequential
    pool-adjacent-violators, independently implemented; the fit is
    monotone; pooled blocks preserve the weighted mean."""
    rows = sorted(
        registry.QUERIES["isotonic_calibration"](spark, sf_dir).collect(),
        key=lambda r: r.bin,
    )
    # sequential PAV with exact fractions
    from fractions import Fraction

    blocks = [
        [Fraction(r.pos, r.n), r.n, r.pos] for r in rows
    ]  # [rate, weight, pos]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] > blocks[i + 1][0]:
            a, b = blocks[i], blocks[i + 1]
            merged = [
                Fraction(a[2] + b[2], a[1] + b[1]),
                a[1] + b[1],
                a[2] + b[2],
            ]
            blocks[i : i + 2] = [merged]
            i = max(i - 1, 0)
        else:
            i += 1
    # expand block rates back over their member bins by weight order
    expanded = []
    bi = 0
    consumed = 0
    for r in rows:
        rate, w, _ = blocks[bi]
        expanded.append(round(float(rate), 6))
        consumed += r.n
        if consumed >= w:
            bi += 1
            consumed = 0
    assert [r.iso_rate for r in rows] == expanded
    # monotone non-decreasing
    iso = [r.iso_rate for r in rows]
    assert all(a <= b for a, b in zip(iso, iso[1:]))


def test_split_conformal_coverage_guarantee(spark, sf_dir):
    """Conformal coverage on the held-out test split must sit near the
    nominal level (finite-sample: within binomial noise), qhat must be
    positive, and the hash splits must partition the corpus."""
    r = registry.QUERIES["split_conformal_audit"](spark, sf_dir).collect()[0]
    n = load_table(spark, sf_dir, "events").count()
    assert r.n_train + r.n_cal + r.n_test == n
    assert r.qhat_cents > 0
    import math

    sd = math.sqrt(r.target_coverage * (1 - r.target_coverage) / r.n_test)
    assert abs(r.test_coverage - r.target_coverage) <= 5 * sd + 1.0 / r.n_cal


def test_community_modularity_identities(spark, sf_dir):
    """Graph identities: sum of community degree masses = 2m, total
    intra edges <= m, Q within [-0.5, 1], and the reported global Q
    equals the decimal fold of per-community contributions."""
    from decimal import Decimal

    rows = registry.QUERIES["community_modularity"](spark, sf_dir).collect()
    assert rows
    from streams_prototyping_spark.functions.graph_ml import copurchase_und_df

    m = copurchase_und_df(spark, sf_dir).count()
    assert sum(r.degree_sum for r in rows) == 2 * m
    assert sum(r.intra_edges for r in rows) <= m
    q = rows[0].modularity
    assert all(r.modularity == q for r in rows)
    assert -0.5 <= q <= 1.0
    refold = round(float(sum(Decimal(f"{r.contribution:.12f}") for r in rows)), 6)
    assert refold == q
