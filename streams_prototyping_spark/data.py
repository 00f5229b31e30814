"""Table loading for the driver testdata (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. Loading
is a plain ``spark.read.parquet`` scan so Catalyst keeps predicate
pushdown / column pruning / partition pruning — do NOT cache or
materialize here; operators decide what (if anything) to persist.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# region=5 rows, nation=25 rows always; supplier/part/customer grow with
# sf). Join code uses this set to apply explicit broadcast hints.
BROADCAST_TABLES = frozenset({"region", "nation"})


def ensure_session_defaults(spark: SparkSession) -> None:
    """Make any SparkSession (including one the driver harness built
    without our session factory) safe for this engine's queries:

    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS), which the
      reader otherwise rejects outright;
    - UTC session timezone: epoch outputs (unix_timestamp over NTZ
      columns) are interpreted in the session timezone — anything but
      UTC would shift every window/epoch result relative to the DuckDB
      oracle.

    Both are runtime-settable SQL confs; setting them is idempotent.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    ensure_session_defaults(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS); with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as epoch-nanos
        # long. Truncate to microseconds (integer div — a double round-trip
        # would lose precision at 2^63 nanos) and restore TimestampType so
        # windows/watermarks apply.
        from pyspark.sql import functions as F  # local: keep module import light
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # Naive-micros parquet arrives as TIMESTAMP_NTZ under Spark 4's
            # inferTimestampNTZ default. The events pipeline (windows,
            # watermarks, epoch casts) is built against TIMESTAMP: with the
            # session timezone pinned to UTC (ensure_session_defaults) this
            # cast reinterprets the naive value as the same UTC instant the
            # DuckDB oracle's epoch(ts) sees.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def dataset_cache_key(sf_dir: str, table: str) -> tuple:
    """Cache key for per-dataset derived scalars (adaptive index
    depths, Bloom bitmaps): (sf_dir, table, mtime signature).

    Keying on the parquet's mtime (max over part files for Spark-
    written directories) means a dataset regenerated mid-session
    (e.g. make_sf1.py rebuilding /tmp/spark_graft_sf1) invalidates
    the cached depth automatically, instead of the Spark side keeping
    a stale value while the DuckDB oracle recomputes from the actual
    data — a cross-engine mismatch far from its cause."""
    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(p):
            sig = max(
                (os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)),
                default=0.0,
            )
        else:
            sig = os.path.getmtime(p)
    except OSError:
        sig = 0.0
    return (sf_dir, table, sig)


_TABLE_N_CACHE: dict = {}


def table_n(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Row count of a base table, cached per dataset signature: one
    count() job per (session, dataset, table) — the only row-count memo
    in the engine. Adaptive index depths, blocking widths and
    fanout_width estimates are plain arithmetic on it; mtime keying
    invalidates on dataset rebuild."""
    key = dataset_cache_key(sf_dir, table)
    if key not in _TABLE_N_CACHE:
        _TABLE_N_CACHE[key] = load_table(spark, sf_dir, table).count()
    return _TABLE_N_CACHE[key]


# Candidate pairs per task for the similarity-family self-joins (r11,
# measured on the banded detector): ~2M scored pairs ≈ 1-2 s of fold
# CPU per task.
PAIRS_PER_TASK = 2_000_000


def fanout_width(spark: SparkSession, est_rows: int, rows_per_task: int) -> int:
    """Reduce width for a compute-dense stage whose map-output BYTES
    are too small for AQE's byte-target coalescing to size (guide §2.5:
    AQE cannot see per-row fan-out or fold cost, and collapsed such
    stages onto one task). ceil(est_rows / rows_per_task), floored at
    defaultParallelism so every core works, capped at 65536 tasks — a
    bound only absurd sizes reach (2B vectors · 123 bands still need
    ~16k tasks at PAIRS_PER_TASK). An explicit width is a
    REPARTITION_BY_NUM, which AQE never coalesces."""
    dp = spark.sparkContext.defaultParallelism
    return max(dp, min(-(-est_rows // rows_per_task), 65536))


def widen(df: DataFrame) -> DataFrame:
    """Repartition to the cluster's parallelism ahead of a CPU-heavy
    narrow stage (hashing, regex, Python decode).

    Small single-file inputs scan as ONE partition, serializing the
    expensive stage onto one core; at 100 TB the scan is naturally
    wide, but a pre-compute repartition is still correct whenever
    input partitions < cores (the shuffle moves raw rows once, the
    compute then uses every core)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    return df.repartition(target)


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose all tables as temp views so ``spark.sql`` queries run
    against the same names the DuckDB oracle uses."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
