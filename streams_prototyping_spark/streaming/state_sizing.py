"""State-partition sizing for stateful streaming queries.

The round-5 A/B (scripts/join_throughput_ab.py, table in BASELINE.md)
proved the stream-stream join was state-COMMIT-bound, not
state-op-bound: every micro-batch commits EVERY partition's state
store (snapshot/delta write + fsync), so per-batch overhead scales
with the partition count while per-row work does not. 8 state
partitions sustained ~268k rows/s where 32 (the core count — the
default everyone picks) managed ~142k.

This module turns that rule into code: pick
``spark.sql.shuffle.partitions`` for a stateful query from the
ESTIMATED STATE VOLUME and, for a stream-stream join, from the rate at
which rows enter state — never from a fixed floor or the core count.

The sizing rule
---------------
    volume  = ceil(est_state_rows x row_width / TARGET_PARTITION_BYTES)
    per_row = min(cores, ceil(rows_per_second x n_sides
                              / JOIN_STATE_ROWS_PER_S_PER_PARTITION))
              (stream-stream joins, n_sides == 2, only; else 0)
    partitions = clamp(max(volume, per_row, 1), 1, MAX_PARTITIONS)

- ``est_state_rows`` = estimated resident state rows. For a
  watermarked aggregate, rows ~ open windows x keys; for a
  stream-stream join, rows ~ (watermark + join window) seconds x input
  rows/second summed over both sides (symmetric-hash keeps both).
- ``TARGET_PARTITION_BYTES`` (256 MiB): err LOW on partition count.
  The round-6 --tuned measurement showed the commit-cost curve is much
  steeper than a naive bytes-per-partition model — at ~2M resident
  rows, 16 partitions measured 140k rows/s (per-batch commit 12.4 s
  summed) vs 8 partitions at 221k (2.7 s): halving partitions quartered
  commit cost.
- The per-row term exists because every join row is inserted into AND
  probed against state inside the state partitions: a fast join wants
  more than one core even when its state is small. Round-13 A/B on
  4 cores (BASELINE.md, HDFS provider, median of 4 samples): at 26.7k
  join rows/s offered, 1 partition sustained ~26k rows/s, 2 -> 42k,
  4 -> 34k, 8 -> 28k; at 107k offered, 1 -> 76-85k, 2 -> 107k,
  4 -> 108k, 8 -> 107k. 25k state rows/s per partition, capped at the
  core count, picks 2 and 4: the winner at 26.7k, and a tie with 2 and
  8 (inside the 96-118k run-to-run spread) at 107k.
- Aggregates get NO per-row term: they partially aggregate before the
  state exchange, so state sees one row per (window x key) per task,
  not one per input row. The windowed AVG at 1M rows/s offered held
  1-2 state rows and sustained 2.5M rows/s on 1 partition, 3.0-3.3M
  on 2 and 1.0-2.1M on 8.

There is no parallelism floor. The old floor of 8 gave the reference
AVG 8 state stores for 1-2 state rows: ~9 s of summed state commit
over 6 triggers, all of it fixed per-partition cost (1 partition:
~0.5 s).

CAVEAT (fixed-at-first-checkpoint): Spark pins the state partition
count at the FIRST checkpoint of a query; changing
``spark.sql.shuffle.partitions`` later does nothing for an existing
checkpoint. Call :func:`configure_stateful_shuffle` BEFORE
``writeStream.start()`` on a fresh checkpoint, and treat the choice as
part of the checkpoint's identity. AQE never re-plans stateful
exchanges, so this knob is the only control there is.
"""

from __future__ import annotations

import math
import warnings
from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

TARGET_PARTITION_BYTES = 256 << 20  # 256 MiB of state per partition
MAX_PARTITIONS = 512
# State rows (inserted + probed) per second one join state partition
# keeps up with; from the round-13 4-core A/B in the module docstring.
JOIN_STATE_ROWS_PER_S_PER_PARTITION = 25_000

# Provider crossover (BASELINE.md, round-6 soak): the HDFS-backed
# provider is ~2x faster while resident state sits safely under the
# executor heap, and a CLIFF past it — GCLocker thrash then JVM death
# at ~heap-sized state (3.5 GiB state on a 3 GiB heap was fatal,
# 1.8 GiB fine). RocksDB kept running at 10x that state volume. So:
# flip to RocksDB when estimated state bytes approach half the heap.
PROVIDER_FLIP_HEAP_FRACTION = 0.5
# The flip compares est_rows × row_width against the heap, but the
# HDFS provider's RESIDENT footprint per row is JVM objects (versioned
# hash maps of UnsafeRow pairs), not the serialized width. The round-9
# keeping-up A/B measured it directly: at est 12.96M rows × 64 B
# (791 MiB, "safely" under half of a 3 GiB heap) the HDFS cell's
# actual resident state hit 2592 MiB at 8.6M rows — 316 B/row, 4.9×
# the width estimate — crossed half-heap at 140 s and died of heap
# OOM, while RocksDB held 242 MiB (23 B/row, native memory) at the
# same volume and kept up. The decision therefore inflates the
# HDFS-side estimate by this measured factor; RocksDB sizing keeps
# using the serialized width (its resident cost measured BELOW width).
HDFS_RESIDENT_BYTES_PER_WIDTH_BYTE = 5.0
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def _mem_str_bytes(s: str) -> int:
    """'8g' / '512m' / '512mb' / '24576k' / plain bytes -> bytes (Spark
    accepts both single-letter JVM suffixes and two-letter 'mb'/'gb'
    forms)."""
    s = s.strip().lower()
    if s.endswith("b") and len(s) >= 2 and s[-2].isalpha():
        s = s[:-1]  # '512mb' -> '512m'; plain '...b' bytes stays numeric
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def executor_heap_bytes(spark: SparkSession) -> int:
    """The heap that holds HDFS-backed state: executor memory on a
    cluster, driver memory in local mode (executors run in-process).
    A parse failure falls back to Spark's 1g default LOUDLY — an
    overestimate here can keep the HDFS provider in exactly the
    over-half-heap JVM-death regime the auto-flip exists to avoid."""
    master = spark.conf.get("spark.master", "")
    key = "spark.driver.memory" if master.startswith("local") else "spark.executor.memory"
    try:
        return _mem_str_bytes(spark.conf.get(key))
    except Exception:
        warnings.warn(
            f"state_sizing: could not read/parse {key}; assuming the 1g "
            "Spark default for the provider-flip heap estimate",
            stacklevel=2,
        )
        return 1 << 30  # Spark's 1g default


def recommend_state_provider(
    est_state_rows: int,
    row_width_bytes: int = 64,
    heap_bytes: int = 1 << 30,
    flip_fraction: float = PROVIDER_FLIP_HEAP_FRACTION,
    hdfs_resident_factor: float = HDFS_RESIDENT_BYTES_PER_WIDTH_BYTE,
) -> str:
    """'hdfs' while estimated RESIDENT state stays under
    ``flip_fraction`` of the executor heap, else 'rocksdb' — the
    measured crossover rule (BASELINE.md: HDFS is ~2x faster well
    inside the heap and dies rather than degrades past it; RocksDB
    runs healthy at 10x that volume on native memory + disk).

    Round-9 fix from the keeping-up A/B: the HDFS provider's resident
    bytes/row measured ~5× the serialized width (see
    HDFS_RESIDENT_BYTES_PER_WIDTH_BYTE) — comparing raw
    rows × width against the heap left HDFS in the OOM regime at
    volumes the old rule called safe. The decision now inflates the
    estimate by the measured resident factor."""
    state_bytes = max(0, est_state_rows) * row_width_bytes * hdfs_resident_factor
    return "rocksdb" if state_bytes >= heap_bytes * flip_fraction else "hdfs"


def estimate_join_state_rows(
    rows_per_second: float,
    watermark_seconds: float,
    join_window_seconds: float = 0.0,
    n_sides: int = 2,
) -> int:
    """Resident state rows for a watermarked stateful query.

    Each side of a stream-stream join buffers (watermark + join
    window) seconds of input; a windowed aggregate keeps one row per
    open (window x key), which the same horizon x rate bound covers
    conservatively. ``rows_per_second`` is the PER-SIDE input rate.
    """
    horizon = watermark_seconds + join_window_seconds
    return int(math.ceil(rows_per_second * horizon * n_sides))


def recommended_state_partitions(
    est_state_rows: int,
    row_width_bytes: int = 64,
    *,
    rows_per_second: float = 0.0,
    n_sides: int = 1,
    cores: int,
) -> int:
    """State partition count: the larger of the volume term (each
    partition holds at most ~TARGET_PARTITION_BYTES of state) and, for
    a stream-stream join (``n_sides == 2``), the per-row term
    (``rows_per_second`` PER SIDE x ``n_sides`` state rows/s over
    JOIN_STATE_ROWS_PER_S_PER_PARTITION, capped at ``cores``). See the
    module docstring for the measurements behind both."""
    state_bytes = max(0, est_state_rows) * row_width_bytes
    volume = math.ceil(state_bytes / TARGET_PARTITION_BYTES)
    per_row = 0
    if n_sides == 2 and rows_per_second > 0:
        per_row = min(
            cores,
            math.ceil(
                rows_per_second * n_sides / JOIN_STATE_ROWS_PER_S_PER_PARTITION
            ),
        )
    return min(MAX_PARTITIONS, max(volume, per_row, 1))


def configure_stateful_shuffle(
    spark: SparkSession,
    est_state_rows: int,
    row_width_bytes: int = 64,
    rows_per_second: float = 0.0,
    n_sides: int = 1,
) -> int:
    """Set ``spark.sql.shuffle.partitions`` for a stateful query about
    to start on a FRESH checkpoint (see module caveat) and return the
    chosen count. The per-row term is capped at the session's
    ``defaultParallelism``."""
    n = recommended_state_partitions(
        est_state_rows,
        row_width_bytes,
        rows_per_second=rows_per_second,
        n_sides=n_sides,
        cores=spark.sparkContext.defaultParallelism,
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


def start_stateful(
    df: DataFrame,
    *,
    est_state_rows: Optional[int] = None,
    rows_per_second: Optional[float] = None,
    watermark_seconds: float = 0.0,
    join_window_seconds: float = 0.0,
    n_sides: int = 1,
    row_width_bytes: int = 64,
    provider: Optional[str] = "auto",
    format: str = "noop",
    output_mode: str = "update",
    query_name: Optional[str] = None,
    checkpoint_dir: Optional[str] = None,
    processing_time: Optional[str] = None,
    options: Optional[dict] = None,
) -> "StreamingQuery":
    """THE production entry point for a stateful streaming pipeline:
    size the state partitions from the estimated state volume and, for
    a stream-stream join, the per-row state rate (module docstring),
    THEN start the query — so pipelines never start on whatever the
    session default happens to be, pinned forever at the first
    checkpoint.

    State estimate: pass ``est_state_rows`` directly, or the workload
    facts (``rows_per_second`` PER SIDE + ``watermark_seconds`` [+
    ``join_window_seconds``, ``n_sides=2`` for a stream-stream join])
    and the helper derives it via :func:`estimate_join_state_rows`.
    ``rows_per_second`` with ``n_sides=2`` also drives the join's
    per-row term, even when ``est_state_rows`` is given.

    The same estimate also drives the state-store PROVIDER choice
    (``provider="auto"``, the default): HDFS-backed under half-heap
    state (~2x faster there), RocksDB past it (the HDFS ceiling is JVM
    death — BASELINE.md soak). ``provider="hdfs"``/``"rocksdb"`` forces
    a side; ``provider=None`` leaves the session conf untouched.

    The chosen count is pinned at the query's FIRST checkpoint (module
    caveat), so this must run against a FRESH ``checkpoint_dir``; on
    an existing checkpoint Spark ignores the conf and keeps the
    pinned count — correct, and exactly why sizing belongs here, at
    query start, not mid-flight.

    NOTE ``output_mode`` defaults to ``"update"`` (right for keyed
    aggregates, the common stateful case); stream-stream JOINS are
    append-only in Spark — pass ``output_mode="append"`` for them or
    micro-batch 0 fails analysis (found by the round-8 crossover soak,
    scripts/start_stateful_join_soak.py).

    The caller's session keeps its own ``spark.sql.shuffle.partitions``
    and provider: ``start()`` copies the session conf into the stream,
    whose first offset-log entry records both, so they are restored as
    soon as it returns.
    """
    if est_state_rows is None:
        if rows_per_second is None:
            raise ValueError(
                "pass est_state_rows or rows_per_second(+watermark_seconds)"
            )
        est_state_rows = estimate_join_state_rows(
            rows_per_second, watermark_seconds, join_window_seconds, n_sides
        )
    spark = df.sparkSession
    prior = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.shuffle.partitions", _PROVIDER_KEY)
    }
    configure_stateful_shuffle(
        spark, est_state_rows, row_width_bytes, rows_per_second or 0.0, n_sides
    )
    # Provider crossover (BASELINE.md rule, engine behavior as of r7):
    # 'auto' picks HDFS under half-heap state and RocksDB past it —
    # the HDFS ceiling is JVM death, not degradation, so the flip must
    # happen at start, where the provider (like the partition count)
    # becomes part of the checkpoint's identity. Pass provider=None to
    # leave the session's configured provider untouched.
    if provider == "auto":
        provider = recommend_state_provider(
            est_state_rows, row_width_bytes, executor_heap_bytes(spark)
        )
    if provider is not None:
        spark.conf.set(
            _PROVIDER_KEY,
            _ROCKSDB_PROVIDER if provider == "rocksdb" else _HDFS_PROVIDER,
        )
    writer = df.writeStream.format(format).outputMode(output_mode)
    if query_name:
        writer = writer.queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    try:
        return writer.start()
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
