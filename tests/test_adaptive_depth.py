"""The adaptive index-depth formulas (LSH bits, k-means K) exist in
two engines: a Python driver-side computation and a DuckDB scalar
subquery inside the oracle CTEs. If they ever disagree for some corpus
size, the Spark query and its oracle would build different indexes and
the hash check would fail confusingly far from the cause — so pin the
cross-engine agreement here, Spark-free, across boundary values
(powers of two, off-by-ones, the clamp edges)."""

import math

import duckdb

from streams_prototyping_spark.functions import clustering, similarity

NS = [1, 2, 100, 127, 128, 129, 200, 255, 256, 257, 1000, 2000, 2047,
      2048, 2049, 16384, 20000, 100000, 524288, 10**6, 10**7]


def _duck_eval(expr_template: str, n: int) -> int:
    """Evaluate the oracle's depth expression against a fake vecs CTE
    of n rows (count(*) is all the expression reads)."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"WITH vecs AS (SELECT * FROM range({n})) "
            f"SELECT {expr_template} FROM vecs"
        ).fetchone()[0]
    finally:
        con.close()


def _py_lsh_bits(n: int) -> int:
    raw = math.ceil(math.log2(n / float(similarity.TARGET_BUCKET_OCC))) if n else 0
    return max(similarity.LSH_BITS, min(similarity.MAX_LSH_BITS, raw))


def _py_k_cells(n: int) -> int:
    return max(
        clustering.K_CELLS,
        min(clustering.MAX_K_CELLS, math.ceil(n / float(clustering.TARGET_CELL_SIZE))),
    )


def test_lsh_bits_formula_matches_oracle_expression():
    for n in NS:
        assert _py_lsh_bits(n) == _duck_eval(similarity._NB_EXPR_DUCK, n), n


def test_k_cells_formula_matches_oracle_expression():
    for n in NS:
        assert _py_k_cells(n) == _duck_eval(clustering._K_EXPR_DUCK, n), n


def test_depths_are_pinned_at_driver_tested_sfs():
    """All committed correctness artifacts were produced at embeddings
    counts <= 2000 — the formulas MUST yield the historical constants
    there, or old artifacts would stop being reproducible."""
    for n in (200, 2000):  # sf0.01, sf0.1
        assert _py_lsh_bits(n) == similarity.LSH_BITS
        assert _py_k_cells(n) == clustering.K_CELLS


def test_adaptive_depth_cross_engine_at_sf1(spark):
    """End-to-end proof that BOTH engines build the SAME deepened
    index on a corpus large enough to trigger the adaptive formulas:
    at the sf1 upscale (20k vectors -> 8 LSH bits) the Spark query and
    its DuckDB oracle still hash-match. Skipped when the sf1 dataset
    is absent (regenerate with `python scripts/make_sf1.py`)."""
    import os

    import pytest

    from streams_prototyping_spark import registry
    from tests.oracle_check import compare_to_oracle

    sf1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
    if not os.path.exists(os.path.join(sf1, "_SUCCESS_SF1")):
        pytest.skip("sf1 upscale not generated (scripts/make_sf1.py)")
    registry.load_all()
    for name in ("ann_lsh_topk_multiprobe", "knn_label_eval"):
        compare_to_oracle(
            spark, registry.QUERIES[name], registry.ORACLES[name], sf1
        )


def test_depths_grow_on_upscale():
    """At the sf1 upscale (20k vectors) both indexes deepen, which is
    the whole point: bucket/cell occupancy stays near target instead of
    growing 10x (measured: knn_label_eval alpha 1.15 -> 0.13)."""
    assert _py_lsh_bits(20000) == 8
    assert _py_k_cells(20000) > clustering.K_CELLS
    # occupancy near target at both scales
    for n in (2000, 20000, 10**6):
        occ = n / 2 ** _py_lsh_bits(n)
        assert occ <= 2 * similarity.TARGET_BUCKET_OCC or (
            _py_lsh_bits(n) == similarity.MAX_LSH_BITS
        )


# ------------------------------------------------- adaptive SimHash width


def _py_simhash_bits(n: int) -> int:
    from streams_prototyping_spark.functions import dedup

    raw = (
        dedup.SIMHASH_BITS
        + 8 * math.ceil(math.log2(n / float(dedup.SIMHASH_TARGET_CORPUS)))
        if n
        else dedup.SIMHASH_BITS
    )
    return max(dedup.SIMHASH_BITS, min(dedup.SIMHASH_MAX_BITS, raw))


def test_simhash_bits_formula_matches_oracle_expression():
    from streams_prototyping_spark.functions import dedup

    for n in NS:
        assert _py_simhash_bits(n) == _duck_eval(dedup._SIMHASH_BITS_DUCK, n), n


def test_simhash_bits_pinned_at_driver_tested_sfs():
    """Documents counts at the committed-artifact SFs (500 / 5000) must
    keep the historical 16-bit fingerprint, and the sf1 corpus (50000)
    must deepen to 40 — the measured point where Hamming<=2 output is
    the corpus's genuine near-dup structure, not hash-space saturation
    (16 bits at 50k docs: 68M artifact pairs; 40 bits: 856k)."""
    from streams_prototyping_spark.functions import dedup

    assert _py_simhash_bits(500) == dedup.SIMHASH_BITS
    assert _py_simhash_bits(5000) == dedup.SIMHASH_BITS
    assert _py_simhash_bits(50000) == 40


def test_simhash_blocks_partition_every_width():
    """The 3 pigeonhole blocks must exactly tile [0, bits) at every
    width the formula can produce (Hamming<=2 correctness: a pair
    within distance 2 must agree on at least one of 3 disjoint
    blocks covering all bits)."""
    from streams_prototyping_spark.functions import dedup

    for bits in range(dedup.SIMHASH_BITS, dedup.SIMHASH_MAX_BITS + 1):
        blocks = dedup._simhash_blocks(bits)
        assert len(blocks) == 3
        covered = 0
        for shift, width in blocks:
            assert width >= 1
            assert shift == covered  # contiguous, disjoint
            covered += width
        assert covered == bits
    assert dedup._simhash_blocks(16) == ((0, 5), (5, 5), (10, 6))


# ------------------------------------------ fan-out width and row counts


def test_fanout_width_floor_ceil_and_cap():
    """data.fanout_width: ceil(est / per_task), never below the core
    count, never above 65536 tasks."""
    from types import SimpleNamespace

    from streams_prototyping_spark.data import PAIRS_PER_TASK, fanout_width

    spark = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4))
    # floor: a tiny (or empty) estimate still uses every core
    assert fanout_width(spark, 0, PAIRS_PER_TASK) == 4
    assert fanout_width(spark, 1, PAIRS_PER_TASK) == 4
    assert fanout_width(spark, 4 * PAIRS_PER_TASK, PAIRS_PER_TASK) == 4
    # ceil division: an exact multiple adds no task, one row more does
    assert fanout_width(spark, 10 * PAIRS_PER_TASK, PAIRS_PER_TASK) == 10
    assert fanout_width(spark, 10 * PAIRS_PER_TASK + 1, PAIRS_PER_TASK) == 11
    assert fanout_width(spark, 600_001, 50_000) == 13
    # cap: absurd estimates stop at 65536 tasks
    assert fanout_width(spark, 65536 * 50_000, 50_000) == 65536
    assert fanout_width(spark, 10**18, PAIRS_PER_TASK) == 65536


def test_one_count_per_table(spark, sf_dir, tmp_path):
    """The LSH depth and the k-means K both derive from the embeddings
    row count, and data.table_n is its one memo: on a fresh dataset
    key, resolving both costs exactly the jobs of ONE load + count()
    (a parquet load infers its schema with a job of its own, and the
    count runs as AQE stages, so one count is more than one job)."""
    import shutil

    from streams_prototyping_spark.data import load_table
    from streams_prototyping_spark.functions import clustering, similarity

    sc = spark.sparkContext

    def jobs(tag, fn):
        d = tmp_path / tag
        d.mkdir()
        shutil.copy(f"{sf_dir}/embeddings.parquet", d / "embeddings.parquet")
        group = f"one-count-{tmp_path.name}-{tag}"
        sc.setJobGroup(group, "table_n memo")
        try:
            fn(str(d))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one_count = jobs("ref", lambda d: load_table(spark, d, "embeddings").count())
    both = jobs(
        "memo",
        lambda d: (similarity._lsh_bits(spark, d), clustering._k_cells(spark, d)),
    )
    assert one_count > 0
    assert both == one_count
