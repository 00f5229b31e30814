"""A/B the stateful pipelines' throughput over state-partition counts
(VERDICT r4 item 6; round-13 4-core re-run).

The agg pipeline's throughput grew round-over-round (964k rows/s) while
ads_with_clicks_stream sat at ~140k rows/s. This probe isolates the two
knobs that could move a symmetric-hash join bound on a single node:

  - state-store provider: HDFS-backed (default, on-heap map + file
    snapshot) vs RocksDB (native, off-heap);
  - shuffle partitions (= state store partitions at first run): 1, 2,
    4, ... up to twice the core count.

Each cell runs the identical sparse-match workload from
throughput_probe.py (wide user_id key space: per-row cost is state
insert + probe + watermark eviction, not match fan-out) in a FRESH
query with a fresh (temp) checkpoint, since both knobs are fixed at
first query start. ``--rate`` is the probe's base rate: impressions
arrive at rate/5 and clicks at rate/15, so the default 100k and 400k
offer 26.7k and 107k join rows/s. ``--pipeline=avg`` runs the windowed
AVG at the full rate instead of the join.

Usage: python scripts/join_throughput_ab.py [--secs=45]
           [--rate=100000,400000] [--provider=hdfs,rocksdb]
           [--pipeline=join|avg] [--tuned]
Prints one JSON line per cell + a markdown table for BASELINE.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import os

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

from pyspark.sql import functions as F

from streams_prototyping_spark.session import get_spark
from streams_prototyping_spark.streaming.pipelines import (
    ads_with_clicks_stream,
    windowed_avg_stream,
)


def _arg(name: str, default: str) -> str:
    return next(
        (a.split("=", 1)[1] for a in sys.argv if a.startswith(f"--{name}=")), default
    )


SECS = int(_arg("secs", "45"))
RATES = [int(r) for r in _arg("rate", "100000,400000").split(",")]
PROVIDERS = _arg("provider", "hdfs,rocksdb").split(",")
PIPELINE = _arg("pipeline", "join")

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"


def _rate_events(spark, rate):
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 1000).cast("double").alias("value"),
            F.col("value").alias("event_id"),
            (F.col("value") % 10_000_000).alias("user_id"),
        )
    )


def _sustained(progress):
    rates = [
        p["processedRowsPerSecond"]
        for p in progress
        if p.get("processedRowsPerSecond") and p["numInputRows"] > 0
    ]
    rates = rates[2:] or rates
    rates.sort()
    return rates[len(rates) // 2] if rates else 0.0


def _grid(cores: int) -> list[int]:
    """1, 2, 4, ... up to twice the core count."""
    return [1 << i for i in range((2 * cores).bit_length())]


def _join(spark, rate: int):
    imps = _rate_events(spark, rate // 5).select(
        F.col("ts").alias("imp_ts"),
        F.col("event_id").alias("impression_id"),
        F.col("user_id"),
        (F.col("event_id") % 10).alias("ad_id"),
    )
    clicks = _rate_events(spark, rate // 15).select(
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
    )
    return ads_with_clicks_stream(imps, clicks, watermark="60 seconds")


def run_cell(spark, provider: str, partitions: int, rate: int, label: str = "") -> dict:
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    if PIPELINE == "avg":
        out, mode, offered = windowed_avg_stream(_rate_events(spark, rate)), "update", rate
    else:
        out, mode, offered = _join(spark, rate), "append", rate // 5 + rate // 15
    q = (
        out.writeStream.format("noop")
        .outputMode(mode)
        .trigger(processingTime="2 seconds")
        .start()
    )
    deadline = time.time() + SECS
    while time.time() < deadline:
        done = [
            d
            for d in (json.loads(p.json) for p in q.recentProgress)
            if d["numInputRows"] > 0
        ]
        if len(done) >= 8:
            break
        time.sleep(1.0)
    progress = [json.loads(p.json) for p in q.recentProgress]
    # per-batch state metrics from the last full progress, for the
    # "where does the time go" explanation
    state = {}
    for p in reversed(progress):
        ops = p.get("stateOperators") or []
        if ops:
            state = {
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "commit_ms": sum(
                    o.get("commitTimeMs", 0) for o in ops
                ),
            }
            break
    q.stop()
    rec = {
        "pipeline": PIPELINE,
        "offered_rows_per_sec": offered,
        "provider": "rocksdb" if provider == ROCKSDB else "hdfs",
        "shuffle_partitions": partitions,
        "sustained_rows_per_sec": round(_sustained(progress)),
        "batches": len(progress),
        **({"label": label} if label else {}),
        **state,
    }
    print(json.dumps(rec), flush=True)
    return rec


def tuned_cells(spark, rate: int) -> list:
    """--tuned mode: validate the state-sizing helper's pick for the join
    at this rate against the core-count default and the old rule's
    floor of 8, passing the workload facts the way start_stateful gets
    them (rows_per_second PER SIDE, n_sides=2)."""
    from streams_prototyping_spark.streaming.state_sizing import (
        estimate_join_state_rows,
        recommended_state_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    per_side = (rate // 5 + rate // 15) / 2
    pick = recommended_state_partitions(
        estimate_join_state_rows(per_side, 60, 60, n_sides=2),
        rows_per_second=per_side,
        n_sides=2,
        cores=cores,
    )
    labels: dict[int, list[str]] = {}
    for n, label in ((cores, "core count"), (8, "old rule (floor 8)"), (pick, "state_sizing pick")):
        labels.setdefault(n, []).append(label)
    return [
        run_cell(spark, HDFS, n, rate, label=" = ".join(ls)) for n, ls in labels.items()
    ]


def main() -> None:
    spark = get_spark("join-ab")
    spark.sparkContext.setLogLevel("ERROR")
    if "--tuned" in sys.argv:
        cells = [c for rate in RATES for c in tuned_cells(spark, rate)]
        print("\n| offered rows/s | config | partitions | sustained rows/s | state rows | commit ms |")
        print("|---|---|---|---|---|---|")
        for c in cells:
            print(
                f"| {c['offered_rows_per_sec']:,} | {c.get('label')} | {c['shuffle_partitions']} "
                f"| {c['sustained_rows_per_sec']:,} | {c.get('state_rows', '-')} "
                f"| {c.get('commit_ms', '-')} |"
            )
        print(json.dumps({"metric": "join_tuning_ab", "cells": cells}))
        spark.stop()
        return
    providers = {"hdfs": HDFS, "rocksdb": ROCKSDB}
    cells = [
        run_cell(spark, providers[p], parts, rate)
        for rate in RATES
        for p in PROVIDERS
        for parts in _grid(spark.sparkContext.defaultParallelism)
    ]
    print("\n| pipeline | offered rows/s | provider | shuffle.partitions | sustained rows/s | state rows | commit ms |")
    print("|---|---|---|---|---|---|---|")
    for c in cells:
        print(
            f"| {c['pipeline']} | {c['offered_rows_per_sec']:,} | {c['provider']} "
            f"| {c['shuffle_partitions']} | {c['sustained_rows_per_sec']:,} "
            f"| {c.get('state_rows', '-')} | {c.get('commit_ms', '-')} |"
        )
    print(json.dumps({"metric": "join_throughput_ab", "cells": cells}))
    spark.stop()


if __name__ == "__main__":
    main()
