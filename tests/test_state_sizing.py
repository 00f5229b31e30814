"""State-partition auto-sizing (VERDICT r5 item 4): the round-5 A/B
proved stateful-query throughput is per-batch state-COMMIT-bound — 8
state partitions ~2x the throughput of 32 on the same workload; the
round-13 4-core A/B found counts below 8 winning or tying too, with a
stream-stream join wanting one partition per ~25k state rows/s. These
tests pin the rule that turns those findings into code."""

from streams_prototyping_spark.streaming.state_sizing import (
    MAX_PARTITIONS,
    configure_stateful_shuffle,
    estimate_join_state_rows,
    recommended_state_partitions,
)

# The round-13 A/B cells were measured on a 4-core box.
AB_CORES = 4


def test_estimate_join_state_rows():
    # 100k rows/s per side, 60 s watermark + 60 s join window, 2 sides
    assert estimate_join_state_rows(100_000, 60, 60) == 100_000 * 120 * 2
    # windowed aggregate: single side, no join window
    assert estimate_join_state_rows(1000, 30, 0, n_sides=1) == 30_000


def test_small_state_gets_the_ab_winner_not_the_core_count():
    """No floor: zero or tiny state commits one state store per batch,
    not 8 and not the core count. The reference AVG (500 rows/s, 10 s
    watermark -> 5k rows) and join (100 rows/s per side, 70 s horizon
    -> 14k rows) both land on 1; so does the r5 A/B's ~2M resident
    rows (128 MiB, under one 256 MiB partition) sized by volume alone."""
    assert recommended_state_partitions(0, 64, cores=AB_CORES) == 1
    assert recommended_state_partitions(
        5_000, 64, rows_per_second=500, n_sides=1, cores=AB_CORES
    ) == 1
    assert recommended_state_partitions(
        14_000, 64, rows_per_second=100, n_sides=2, cores=AB_CORES
    ) == 1
    assert recommended_state_partitions(2_000_000, 64, cores=AB_CORES) == 1


def test_partitions_scale_with_state_volume():
    # 1e10 rows x 64 B = 640 GiB -> 2560 partitions, clamped to the cap
    assert recommended_state_partitions(10**10, 64, cores=AB_CORES) == MAX_PARTITIONS
    # 8 GiB of state -> 32 partitions of 256 MiB each
    assert recommended_state_partitions((8 << 30) // 64, 64, cores=AB_CORES) == 32


def _ab_join(join_rows_per_s, n_sides, cores=AB_CORES):
    """The join A/B workload at a given offered join rate (both sides
    summed), passed per side, 60 s watermark + 60 s join window."""
    per_side = join_rows_per_s / 2
    est = estimate_join_state_rows(per_side, 60, 60, n_sides=2)
    return recommended_state_partitions(
        est, 64, rows_per_second=per_side, n_sides=n_sides, cores=cores
    )


def test_tuned_ab_workload_picks_the_measured_winner():
    """The --tuned A/B join workload, round-13 4-core A/B (BASELINE.md,
    medians of 4 samples): at 26.7k join rows/s offered 2 partitions
    won (42k rows/s vs 26k on 1, 34k on 4, 28k on 8); at 107k offered
    2, 4 and 8 tied at ~107k and 1 trailed (76-85k). 26.7k/25k -> 2;
    107k -> 5, capped at the 4 cores (the volume term, 12.8M rows x
    64 B = 4 partitions, agrees)."""
    assert _ab_join(26_667, n_sides=2) == 2
    assert _ab_join(106_667, n_sides=2) == 4
    # the per-row term never exceeds the core count...
    assert _ab_join(26_667, n_sides=2, cores=1) == 1
    # ...but does not cap the volume term
    assert _ab_join(106_667, n_sides=2, cores=2) == 4


def test_aggregate_gets_volume_term_only():
    """Aggregates partially aggregate before the state exchange, so the
    same rates add no per-row term (the AVG at 1M rows/s held 1-2 state
    rows and sustained 2.5M rows/s on 1 partition vs 1.0-2.1M on 8)."""
    for rate in (26_667, 106_667):
        est = estimate_join_state_rows(rate / 2, 60, 60, n_sides=2)
        assert _ab_join(rate, n_sides=1) == recommended_state_partitions(
            est, 64, cores=AB_CORES
        )
    assert _ab_join(26_667, n_sides=1) == 1


def test_monotone_in_state_size():
    prev = 0
    for rows in (0, 10**5, 10**7, 10**8, 10**9, 10**10):
        n = recommended_state_partitions(rows, 64, cores=AB_CORES)
        assert n >= prev
        prev = n


def test_monotone_in_join_rate():
    for rows in (0, 10**6, 10**8):
        prev = 0
        for rate in (0, 100, 10_000, 30_000, 100_000, 10**6):
            n = recommended_state_partitions(
                rows, 64, rows_per_second=rate, n_sides=2, cores=AB_CORES
            )
            assert n >= prev
            prev = n


def test_configure_sets_shuffle_partitions(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = configure_stateful_shuffle(spark, 2_000_000, 64)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_start_stateful_pins_sized_partitions_at_checkpoint(spark, sf_dir, tmp_path):
    """VERDICT r6 item 1: the production pipeline path itself must land
    on the A/B-winning partition count. Start ads_with_clicks_stream
    through start_stateful() on a FRESH checkpoint and verify the count
    that got PINNED INTO THE CHECKPOINT (state/0/<partition-id> dirs —
    the on-disk fact Spark replays forever after, and the conf recorded
    in offsets/0) equals the sizing rule's recommendation, while the
    caller's session keeps the value it had before the call."""
    import pyspark.sql.functions as F

    from streams_prototyping_spark.data import load_table
    from streams_prototyping_spark.streaming.pipelines import (
        ads_with_clicks_stream,
        windowed_avg_stream,
    )
    from streams_prototyping_spark.streaming.sources import create_stream
    from streams_prototyping_spark.streaming.state_sizing import start_stateful

    before = spark.conf.get("spark.sql.shuffle.partitions")
    ev = load_table(spark, sf_dir, "events").limit(200)
    imp = ev.select(
        F.col("event_id").alias("impression_id"),
        F.col("ts").alias("imp_ts"),
        "user_id",
        (F.col("user_id") % 10).cast("long").alias("ad_id"),
    )
    clk = ev.select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("c_user_id"),
    )
    ipath, cpath = str(tmp_path / "imp"), str(tmp_path / "clk")
    imp.write.parquet(ipath)
    clk.write.parquet(cpath)
    s_imp = create_stream(spark, "imp", imp.schema, transport="file", path=ipath)
    s_clk = create_stream(spark, "clk", clk.schema, transport="file", path=cpath)

    # A 300k rows/s-per-side production estimate -> ~4.6 GiB of state ->
    # NOT 1 and NOT the session default: proves the value flowed
    # through the rule, not either constant.
    expected = recommended_state_partitions(
        estimate_join_state_rows(300_000, 60, 60, n_sides=2),
        rows_per_second=300_000,
        n_sides=2,
        cores=spark.sparkContext.defaultParallelism,
    )
    assert expected != 1 and str(expected) != before
    q = start_stateful(
        ads_with_clicks_stream(s_imp, s_clk, watermark="60 seconds"),
        rows_per_second=300_000,
        watermark_seconds=60,
        join_window_seconds=60,
        n_sides=2,
        format="memory",
        output_mode="append",
        query_name="ssj_sized",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    q.processAllAvailable()
    q.stop()
    assert _pinned_state_partitions(tmp_path / "ckpt") == expected
    assert _offset_conf(tmp_path / "ckpt")["spark.sql.shuffle.partitions"] == str(
        expected
    )

    # Tiny-state aggregate: the reference AVG's facts (500 rows/s,
    # 10 s watermark) pin exactly ONE state store, not a floor.
    ev = load_table(spark, sf_dir, "events").select("ts", "value").limit(50)
    epath = str(tmp_path / "ev")
    ev.write.parquet(epath)
    s_ev = create_stream(spark, "ev", ev.schema, transport="file", path=epath)
    q = start_stateful(
        windowed_avg_stream(s_ev, watermark="10 seconds"),
        rows_per_second=500,
        watermark_seconds=10,
        format="memory",
        output_mode="update",
        query_name="wavg_sized",
        checkpoint_dir=str(tmp_path / "ckpt_avg"),
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    q.processAllAvailable()
    q.stop()
    assert _pinned_state_partitions(tmp_path / "ckpt_avg") == 1
    assert _offset_conf(tmp_path / "ckpt_avg")["spark.sql.shuffle.partitions"] == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _pinned_state_partitions(ckpt) -> int:
    """state/0/<partition-id> dirs the first stateful operator wrote."""
    return sum(1 for p in (ckpt / "state" / "0").iterdir() if p.name.isdigit())


def _offset_conf(ckpt) -> dict:
    """The session conf the query recorded in its first offset-log entry."""
    import json

    lines = (ckpt / "offsets" / "0").read_text().splitlines()
    return json.loads(lines[1])["conf"]


def test_mem_str_parsing():
    from streams_prototyping_spark.streaming.state_sizing import _mem_str_bytes

    assert _mem_str_bytes("8g") == 8 << 30
    assert _mem_str_bytes("512m") == 512 << 20
    assert _mem_str_bytes("24576k") == 24576 << 10
    assert _mem_str_bytes("1073741824") == 1 << 30
    assert _mem_str_bytes("1.5g") == int(1.5 * (1 << 30))
    # Spark also accepts two-letter suffixes (ADVICE r7: '512mb' read
    # as the 1g fallback would overestimate the heap and hold the HDFS
    # provider in the JVM-death regime the flip exists to avoid)
    assert _mem_str_bytes("512mb") == 512 << 20
    assert _mem_str_bytes("8GB") == 8 << 30
    assert _mem_str_bytes("24576kb") == 24576 << 10


def test_heap_fallback_warns():
    """An unparseable heap string must not SILENTLY become 1 GiB.
    spark.driver.memory is a static conf, so drive the fallback path
    through a stub session rather than mutating the live one."""
    import warnings as _w

    from streams_prototyping_spark.streaming.state_sizing import (
        executor_heap_bytes,
    )

    class _Conf:
        def get(self, key, default=None):
            return "local[4]" if key == "spark.master" else "not-a-size"

    class _Stub:
        conf = _Conf()

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        assert executor_heap_bytes(_Stub()) == 1 << 30
    assert any("state_sizing" in str(c.message) for c in caught)


def test_provider_crossover_rule():
    """BASELINE.md soak rule: HDFS under half-heap RESIDENT state,
    RocksDB at/past it (3.5 GiB state on a 3 GiB heap killed the JVM;
    RocksDB ran healthy at 10x). Round 9: the decision inflates the
    width estimate by the measured HDFS resident factor (~5× — the
    keeping-up A/B's HDFS cell died at 8.6M × 64B-estimated rows on a
    3 GiB heap with actual residency 316 B/row), so the flip fires at
    half-heap of RESIDENT bytes, not serialized bytes."""
    from streams_prototyping_spark.streaming.state_sizing import (
        HDFS_RESIDENT_BYTES_PER_WIDTH_BYTE,
        recommend_state_provider,
    )

    heap = 3 << 30
    f = HDFS_RESIDENT_BYTES_PER_WIDTH_BYTE
    # the r6 soak's fatal HDFS cell: 3.6M rows x 512B ~ 1.8 GiB > half
    assert recommend_state_provider(3_600_000, 512, heap) == "rocksdb"
    # the r5 A/B regime: 2M x 64B = 128 MiB serialized (~640 MiB
    # resident) on an 8 GiB heap -> HDFS wins
    assert recommend_state_provider(2_000_000, 64, 8 << 30) == "hdfs"
    # the r9 keeping-up A/B's fatal cell: est 12.96M x 64B = 791 MiB
    # serialized looked safe under the old rule, actual residency
    # crossed half-heap at 140 s and OOM'd — must now flip
    assert recommend_state_provider(12_960_000, 64, heap) == "rocksdb"
    # boundary in resident bytes: exactly half the heap flips
    rows_at_half = int((heap // 2) / (64 * f))
    assert recommend_state_provider(rows_at_half + 1, 64, heap) == "rocksdb"
    assert recommend_state_provider(rows_at_half - 1, 64, heap) == "hdfs"


def test_start_stateful_auto_flips_provider(spark, sf_dir, tmp_path):
    """A state estimate past half the executor heap must start the
    query on the RocksDB provider (and a small one must start on — or
    return to — HDFS), because the HDFS ceiling is JVM death and the
    provider pins at the first checkpoint like the partition count."""
    import pyspark.sql.functions as F

    from streams_prototyping_spark.data import load_table
    from streams_prototyping_spark.streaming.pipelines import windowed_avg_stream
    from streams_prototyping_spark.streaming.sources import create_stream
    from streams_prototyping_spark.streaming.state_sizing import (
        executor_heap_bytes,
        start_stateful,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    events = load_table(spark, sf_dir, "events").select("ts", "value").limit(50)
    path = str(tmp_path / "ev")
    events.write.parquet(path)
    heap = executor_heap_bytes(spark)
    big = (heap // 2) // 64 + 1  # rows such that est state > half heap
    for est, want in ((big, "RocksDB"), (1000, "HDFS")):
        stream = create_stream(spark, "ev", events.schema, transport="file", path=path)
        ckpt = tmp_path / f"ckpt_{want}"
        q = start_stateful(
            windowed_avg_stream(stream),
            est_state_rows=est,
            format="memory",
            output_mode="complete",
            query_name=f"wavg_{want}",
            checkpoint_dir=str(ckpt),
        )
        q.processAllAvailable()
        q.stop()
        assert want in _offset_conf(ckpt)[key]
        assert spark.conf.get(key, None) == before
