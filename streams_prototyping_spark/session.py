"""SparkSession factory tuned for this engine.

Defaults target the driver's local[N] harness but every knob is chosen
for cluster scale: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), Arrow on (vectorized Python interchange for the
Pandas-UDF extension operators), UTC session timezone (deterministic
timestamp semantics vs the DuckDB oracle and across clusters).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB / 1000 executors, shuffle partitions should be sized so each
# post-shuffle partition is ~100-200 MB; AQE coalesces down from this
# initial value at runtime, so a high initial number is cheap. Locally
# the driver runs local[$SPARK_GRAFT_CPUS]; we default the *initial*
# partition count to 2x cores and let AQE coalesce.
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "streams-prototyping-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale notes (100 TB design):
    - AQE enabled: coalesces shuffle partitions, converts sort-merge to
      broadcast joins at runtime, and splits skewed partitions — the
      three biggest win levers on real clusters.
    - ``spark.sql.shuffle.partitions`` is only the *initial* value; on a
      1000-executor cluster set it ~2-3x total cores and let AQE shrink.
    - Arrow execution makes the Pandas-UDF path (extensions) batch-
      vectorized instead of row-at-a-time pickling.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{_DEFAULT_CPUS}]")
    parts = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * _DEFAULT_CPUS))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 (guide §2.2 "fewer, larger reduce partitions"): coalesce
        # to the advisory TARGET SIZE, not merely down to core count —
        # parallelismFirst=true (the Spark default) stops coalescing at
        # defaultParallelism, leaving byte-starved reduce stages at 32+
        # near-empty tasks whose launch overhead dominates at low data
        # volumes; Spark's own SQL performance-tuning guide recommends
        # false ("respect the configured target size"). Scale-adaptive
        # by construction: at production volumes the advisory size
        # yields thousands of partitions and every core stays busy;
        # compute-dense low-byte stages (the banded/knn/tfidf fan-out
        # joins) keep their explicit candidate-bound repartitions,
        # which AQE never coalesces (REPARTITION_BY_NUM). A/B evidence
        # in OPTIMIZATION_r12.md; SPARK_GRAFT_EXTRA_CONF (applied last)
        # overrides this and the next conf for a probe.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # r12: let AQE coalesce the plan that gets CACHED — persisted
        # shared stages (word_tf, tfidf_postings, banded_index, ...)
        # otherwise freeze their pre-AQE 2x-cores partition layout, and
        # every downstream stage over the cache pays one near-empty map
        # task per cached partition (measured: a 2-stage agg over the
        # 116k-row word_tf cache cost 1.4 s; probe in
        # OPTIMIZATION_r12.md).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # r11 NOTE (measured, guide §3.1): preferSortMergeJoin=false
        # (shuffled-hash when sizes allow) was tried and REJECTED —
        # isolated A/B over 10 join-heavy queries read uniformly slower
        # (bm25_topk 2.95->5.54 s, naive_bayes 2.02->2.51 s, greedy
        # match 1.96->2.32 s): most of this engine's joins feed
        # per-key windows/aggregates that reuse SMJ's sorted output,
        # so skipping the sort just moves it downstream.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: vectorized reader + pushdown are on by default;
        # pin them explicitly so a misconfigured cluster can't regress us.
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark's reader rejects; read it as raw long and data.py
        # converts to a microsecond TimestampType column.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # warehouse for bucketed/managed tables (co-located join path)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        # local mode: keep the UI off and the driver light; progress bars
        # off so harness stdout tails stay parseable (BENCH_r02 lesson)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # diagnostics passthrough (r12): SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    # lets probes enable event logging / GC logging without editing the
    # factory; empty by default, never set by the bench itself.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
