"""Banded near-dup detector pins (oracle parity itself is covered by
test_oracle_parity's auto-parametrization over the registry).

What needs pinning beyond the hash-match:
- the cross-engine exactness of the integer CASE ladder that replaces
  float log2 for the extra-split depth (the fork hazard sits exactly
  on power-of-two boundaries);
- the plane-sign formula agreeing between the Spark literal build and
  the DuckDB inline build (a silent drift would desync index and
  oracle at a bucket level the small-SF hash check may not trip);
- the recall claim the variant exists for: banded recall must beat the
  single-table detector's on the same data;
- the audit's structural invariants (n_extra = 0, n_hit ≤ n_true,
  recall ∈ [0, 1]);
- the probe → score → rank contract of similarity.probe_topk (and its
  DuckDB template) that every exact/ANN top-k query shares.
"""

import duckdb
import pytest

from pyspark.sql import functions as F

from streams_prototyping_spark import registry
from streams_prototyping_spark.functions import similarity_banded as sb
from streams_prototyping_spark.functions.similarity import NEAR_DUP_MIN_COS

registry.load_all()


def test_e_ladder_boundaries_cross_engine(spark):
    """e = ceil(log2(c/128)) clamped [0,8], as pure integer CASE — pin
    the boundary values in Spark AND DuckDB against the closed form."""
    import math

    cases = [1, 64, 128, 129, 255, 256, 257, 512, 513, 16384, 16385, 10**7]
    want = [
        min(
            sb.NEAR_DUP_EXTRA_BITS,
            max(0, math.ceil(math.log2(c / 128.0))) if c > 128 else 0,
        )
        for c in cases
    ]
    got_spark = [
        spark.sql(f"SELECT {sb._E_LADDER.format(c=c)} AS e").first()["e"]
        for c in cases
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {sb._E_LADDER.format(c=c)} AS e").fetchone()[0]
        for c in cases
    ]
    assert got_spark == want, (cases, got_spark, want)
    assert got_duck == want, (cases, got_duck, want)


def test_adaptive_bands_ladder_cross_engine(spark):
    """B(bits) — the n^0.22 amplification law, floored at the measured
    B=20 — must be identical in Python, Spark SQL, and DuckDB (the
    Python dict is the single source; both SQL ladders transcribe its
    integers). Also pin the law itself: monotone non-decreasing, floor
    binds exactly through depth 12, model recall at the tabulated B
    reaches the target at every depth."""
    import math

    for r, b in sb.NEAR_DUP_BANDS_BY_BITS.items():
        model = 1.0 - (1.0 - sb._P_PLANE**r) ** b
        assert model >= sb.NEAR_DUP_MODEL_RECALL - 1e-12, (r, b, model)
        if r <= 12:
            assert b == sb.NEAR_DUP_BANDS_MIN, (r, b)
        else:
            assert b > sb.NEAR_DUP_BANDS_MIN, (r, b)
    bs = [sb.NEAR_DUP_BANDS_BY_BITS[r] for r in sorted(sb.NEAR_DUP_BANDS_BY_BITS)]
    assert bs == sorted(bs)
    # the floor is exactly the round-9 measured configuration and the
    # law grows ∝ n^0.22: one extra band per ~1/p ≈ 1.17x corpus growth
    assert math.isclose(
        math.log(sb.NEAR_DUP_BANDS_BY_BITS[24] / sb.NEAR_DUP_BANDS_BY_BITS[14])
        / math.log(2**24 / 2**14),
        math.log2(1 / sb._P_PLANE),
        rel_tol=0.08,
    )
    con = duckdb.connect()
    for nb in sorted(sb.NEAR_DUP_BANDS_BY_BITS):
        got_duck = con.execute(
            f"SELECT {sb._NBANDS_LADDER_DUCK} FROM (SELECT {nb} AS nb)"
        ).fetchone()[0]
        got_spark = spark.sql(
            f"SELECT {sb._NBANDS_LADDER_DUCK} AS b FROM (SELECT {nb} AS nb)"
        ).first()["b"]
        assert got_duck == got_spark == sb.NEAR_DUP_BANDS_BY_BITS[nb], nb


def test_plane_signs_match_duckdb_inline():
    """The Spark side bakes plane signs as literals via
    _plane_sign_py; the oracle evaluates the md5 formula inline. Pin
    their agreement on a sample of (band, pidx, is_x, j)."""
    con = duckdb.connect()
    for band, pidx, is_x in [(0, 0, False), (3, 7, False), (19, 2, True), (7, 0, True)]:
        pfx = "ndx" if is_x else "ndh"
        got = con.execute(
            f"SELECT list_transform(range(1, {sb.EMB_DIM + 1}), j -> "
            f"CASE WHEN {sb._PLANE_HASH_DUCK} % 2 = 0 THEN CAST(1.0 AS DOUBLE)"
            f" ELSE CAST(-1.0 AS DOUBLE) END) "
            f"FROM (SELECT {band} AS band, {pidx} AS pidx, {is_x} AS is_x)"
        ).fetchone()[0]
        want = [
            sb._plane_sign_py(pfx, band, pidx, j)
            for j in range(1, sb.EMB_DIM + 1)
        ]
        assert got == want, (band, pidx, is_x)


def test_banded_pairs_invariants(spark, sf_dir):
    rows = registry.QUERIES["embedding_near_dup_pairs_banded"](
        spark, sf_dir
    ).collect()
    assert rows, "detector found no pairs at test SF"
    seen = set()
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert r["cos_sim"] >= NEAR_DUP_MIN_COS
        key = (r["vec_a"], r["vec_b"])
        assert key not in seen, f"duplicate pair {key}"
        seen.add(key)


def test_banded_recall_beats_single_table(spark, sf_dir):
    """The variant's reason to exist: at the registered threshold, the
    banded audit's recall must strictly beat the single-table audit's
    (0.985 vs 0.22 at driver SFs), with the n_extra = 0 precision
    invariant intact on both."""
    banded = {
        r["thr_label"]: r
        for r in registry.QUERIES["near_dup_banded_recall_audit"](
            spark, sf_dir
        ).collect()
    }
    single = registry.QUERIES["near_dup_recall_audit"](spark, sf_dir).first()
    reg = banded["registered"]
    assert reg["n_extra"] == 0 and single["n_extra"] == 0
    assert reg["n_hit"] <= reg["n_true"]
    assert 0.0 <= reg["recall"] <= 1.0
    assert reg["recall"] > single["recall"], (reg["recall"], single["recall"])
    assert reg["recall"] >= 0.9, reg["recall"]
    prod = banded["production"]
    assert prod["n_extra"] == 0
    # driver data has no production-threshold pairs — the row must say
    # so honestly rather than fabricate a recall
    if prod["n_true"] == 0:
        assert prod["n_found"] == 0 and prod["recall"] == 0.0


def test_banded_index_bounds_group_size(spark, sf_dir):
    """The cap contract: a (band, bucket, ext) group of size c2 splits
    into ceil(c2/T) hash sub-blocks, so EXPECTED sub size ≤ T — but
    the split is probabilistic, so a hard max-≤-2T pin can flake on a
    skewed mega-bucket (ADVICE r9). Pin the statistical shape instead:
    p99 of sub sizes ≤ 2T (the expectation bound with slack) and a
    loose hard ceiling of 4T that a broken split (e.g. a constant sub
    key) would still blow through."""
    from streams_prototyping_spark.functions.similarity import TARGET_BUCKET_OCC

    idx = sb._banded_index(spark, sf_dir)
    sizes = idx.groupBy("band", "bucket", "ext", "sub").agg(
        F.count(F.lit(1)).alias("n")
    )
    row = sizes.agg(
        F.max("n").alias("mx"),
        F.expr("percentile_approx(n, 0.99)").alias("p99"),
    ).first()
    assert row["p99"] <= 2 * TARGET_BUCKET_OCC, (row["p99"], row["mx"])
    assert row["mx"] <= 4 * TARGET_BUCKET_OCC, row["mx"]


def test_adaptive_sample_ladder_cross_engine():
    """The corpus-adaptive truth-sample ladder (VERDICT r10 item 2)
    must agree between the Python resolver the Spark query uses and
    the DuckDB CASE the oracle embeds — including exactly on rung
    boundaries — and must implement sqrt-n growth: doubling per 4x
    corpus, base rung covering every driver SF and sf1."""
    import duckdb as _duck

    con = _duck.connect()
    probe = [
        1, 500, 2000, 20000,                       # driver SFs + sf1
        sb.NDB_SAMPLE_REF_N, sb.NDB_SAMPLE_REF_N + 1,   # first boundary
        200_000, 512_000, 512_001,                 # sf10 rung + boundary
        1_048_576, 2_048_000, 2_048_001,           # sweep ends B/C
        sb.NDB_SAMPLE_LADDER[-1][0],               # last tabulated rung
        sb.NDB_SAMPLE_LADDER[-1][0] + 1,           # beyond the ladder
    ]
    for n in probe:
        py = sb.ndb_sample_for(n)
        # the oracle CASE is written over count(*); evaluate it over a
        # table with exactly n... too slow — substitute the count
        sql = sb._NDB_SAMPLE_CASE_DUCK.replace("count(*)", str(n))
        duck = con.execute(f"SELECT {sql} AS s").fetchone()[0]
        assert float(py) == float(duck), (n, py, duck)
    # sqrt-n law: each rung doubles the sample per 4x corpus
    for (n0, s0), (n1, s1) in zip(sb.NDB_SAMPLE_LADDER, sb.NDB_SAMPLE_LADDER[1:]):
        assert n1 == 4 * n0 and s1 == 2 * s0
    # base rung unchanged from rounds 9/10 at every driver SF and sf1
    for n in (500, 2000, 20000, 128_000):
        assert sb.ndb_sample_for(n) == sb.NDB_SAMPLE == 4096
    # expected truth-pair mass is non-decreasing along the ladder:
    # pairs ~ s^2/n, and s^2/n doubles per rung by construction
    masses = [s * s / n for n, s in sb.NDB_SAMPLE_LADDER]
    assert all(b >= a for a, b in zip(masses, masses[1:]))


def test_sq8_carry_output_identical(spark, monkeypatch):
    """The SQ8 carry (SPARK_GRAFT_NEAR_DUP_CARRY=sq8) must produce
    EXACTLY the float carry's rows: its inline prefilter is an
    analytically exact superset (|cos - s_a*s_b*qdot| <= 4s_a + 4s_b +
    16*s_a*s_b, plus _SQ8_SLACK for the 6dp-rounded final compare),
    and survivors are re-scored with the SAME exact-cosine expression
    the float path and the oracle use. sf0.01 has pairs near the 0.35
    threshold (max cos ~0.51), so the boundary is exercised."""
    fn = registry.QUERIES["embedding_near_dup_pairs_banded"]
    sf = "/root/testdata/sf0.01"
    monkeypatch.delenv("SPARK_GRAFT_NEAR_DUP_CARRY", raising=False)
    base = {tuple(r) for r in fn(spark, sf).collect()}
    monkeypatch.setenv("SPARK_GRAFT_NEAR_DUP_CARRY", "sq8")
    got = {tuple(r) for r in fn(spark, sf).collect()}
    assert len(base) > 0
    assert got == base


def test_sq8_quantization_bound_holds(spark):
    """Per-vector check at sf0.01: the reconstructed normalized vector
    must sit within s/2 per coordinate (the premise of the prefilter
    bound), and qs within [1/(127*sqrt(64)), 1/127] for unit vectors."""
    from streams_prototyping_spark.functions.similarity_banded import (
        _sq8_vectors,
    )
    from streams_prototyping_spark.functions.similarity import _vectors

    sf = "/root/testdata/sf0.01"
    qv = _sq8_vectors(spark, sf).join(_vectors(spark, sf), "vec_id")
    bad = qv.filter(
        F.expr(
            "exists(zip_with(q, v, (qi, vi) ->"
            " abs(vi / sqrt(sqnorm) - qi * qs) > qs / 2 + 1e-12), x -> x)"
        )
    ).count()
    assert bad == 0
    rng = qv.agg(F.min("qs"), F.max("qs")).first()
    assert rng[0] >= 1.0 / (127 * 8) - 1e-12
    assert rng[1] <= 1.0 / 127 + 1e-12


# vec 0 is the query (bucket 1); 2 and 4 are the same vector, an exact
# cosine tie; 5 is the query's own direction but in another bucket.
_SKELETON_ROWS = [
    (0, [1.0, 0.0], 1),
    (1, [0.0, 1.0], 1),
    (2, [2.0, 2.0], 1),
    (3, [3.0, 1.0], 1),
    (4, [2.0, 2.0], 1),
    (5, [1.0, 0.0], 2),
]


def test_probe_topk_contract(spark):
    """Self excluded, only key-matching rows scored, ties broken toward
    the smaller vec_id, rnk gap-free up to k — in Spark and in the
    DuckDB oracle template. Random test data never pins the tie-break."""
    from streams_prototyping_spark.functions.similarity import (
        _probe_topk_oracle,
        _queries,
        probe_topk,
    )

    rows = [(i, v, sum(x * x for x in v), b) for i, v, b in _SKELETON_ROWS]
    index = spark.createDataFrame(
        rows, "vec_id long, v array<double>, sqnorm double, bucket long"
    )
    q = _queries(index.filter(F.col("vec_id") == 0), F.col("bucket").alias("probe"))

    def ranked(key, k):
        return [
            (r.vec_id, r.cos_sim, r.rnk)
            for r in probe_topk(index, q, key, k).orderBy("rnk").collect()
        ]

    keyed = [(3, 0.948683, 1), (2, 0.707107, 2), (4, 0.707107, 3)]
    assert ranked("bucket", 3) == keyed
    assert ranked("bucket", 2) == keyed[:2]
    assert ranked("bucket", 10) == keyed + [(1, 0.0, 4)]
    # the exact scan (no key) also scores the other bucket's vector
    assert ranked(None, 3) == [(5, 1.0, 1), (3, 0.948683, 2), (2, 0.707107, 3)]

    con = duckdb.connect()
    con.execute("CREATE TABLE idx (vec_id BIGINT, v DOUBLE[], sqnorm DOUBLE, bucket BIGINT)")
    con.executemany("INSERT INTO idx VALUES (?, ?, ?, ?)", rows)
    sql = _probe_topk_oracle(
        "vecs AS (SELECT * FROM idx)",
        "q AS (SELECT vec_id AS query_id, v, sqnorm, bucket FROM vecs WHERE vec_id = 0)",
        "vecs",
        "c.bucket = q.bucket",
        3,
    )
    got = con.execute(f"SELECT vec_id, cos_sim, rnk FROM ({sql}) ORDER BY rnk").fetchall()
    assert got == keyed
