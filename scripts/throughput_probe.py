"""Single-node streaming throughput probe for the two reference
pipelines (SURVEY §6: the reference publishes NO numbers, so these
measurements set the record to match-or-beat).

Drives each pipeline from the rate source at an offered load high
enough to saturate, lets it run for --secs, and reports the sustained
processedRowsPerSecond from StreamingQueryProgress (excluding the
first warm-up batches).

Usage: python scripts/throughput_probe.py [--secs=60] [--rate=500000]
(flags must use the --name=value form)
Prints one JSON line per pipeline plus a combined summary line.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import os

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")  # join state is heap-resident

from pyspark.sql import functions as F

from streams_prototyping_spark.session import get_spark
from streams_prototyping_spark.streaming.pipelines import (
    ads_with_clicks_stream,
    windowed_avg_stream,
)

SECS = int(next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--secs=")), "60"))
RATE = int(
    next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--rate=")), "500000")
)


def _rate_events(spark, rate):
    """rate source -> the orders/events shape the pipelines expect."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 1000).cast("double").alias("value"),
            F.col("value").alias("event_id"),
            # wide key space: per-key join fan-out must stay O(1) — a
            # narrow modulus turns the stream-stream join quadratic
            (F.col("value") % 10_000_000).alias("user_id"),
        )
    )


def _sustained(progress: list[dict]) -> float:
    """Median processedRowsPerSecond over the post-warm-up batches."""
    rates = [
        p["processedRowsPerSecond"]
        for p in progress
        if p.get("processedRowsPerSecond") and p["numInputRows"] > 0
    ]
    rates = rates[2:] or rates  # drop warm-up batches
    rates.sort()
    return rates[len(rates) // 2] if rates else 0.0


def probe(
    name: str,
    out_df,
    min_batches: int = 6,
    output_mode: str = "update",
    sizing: dict | None = None,
) -> dict:
    if sizing is not None:
        # the PRODUCTION path (r6 verdict item 1): state partitions are
        # sized from the estimated state volume inside start_stateful,
        # not by whatever the session default happens to be
        from streams_prototyping_spark.streaming.state_sizing import start_stateful

        q = start_stateful(
            out_df,
            format="noop",
            output_mode=output_mode,
            query_name=name,
            processing_time="2 seconds",
            **sizing,
        )
    else:
        q = (
            out_df.writeStream.format("noop")
            .outputMode(output_mode)
            .trigger(processingTime="2 seconds")
            .queryName(name)
            .start()
        )
    deadline = time.time() + SECS
    while time.time() < deadline:
        done = [
            d
            for d in (json.loads(p.json) for p in q.recentProgress)
            if d["numInputRows"] > 0
        ]
        if len(done) >= min_batches:
            break
        time.sleep(1.0)
    progress = [json.loads(p.json) for p in q.recentProgress]
    spark = out_df.sparkSession
    q.stop()
    sustained = _sustained(progress)
    rec = {
        "pipeline": name,
        "sustained_rows_per_sec": round(sustained),
        "offered_rows_per_sec": RATE,
        "secs": SECS,
        "batches": len(progress),
    }
    if sizing is not None:
        rec["state_partitions"] = int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        prov = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", ""
        )
        rec["provider"] = "rocksdb" if "RocksDB" in prov else "hdfs"
    print(json.dumps(rec), flush=True)
    return rec


def main() -> None:
    spark = get_spark("throughput-probe")
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    # App 1: windowed AVG aggregation (Aggregations.java topology) —
    # sized via the production start_stateful path (state here is one
    # row per open 30 s window, but the conservative rate-x-horizon
    # estimate counts every input row, so the volume term alone picks
    # the count)
    results.append(
        probe(
            "windowed_avg_stream",
            windowed_avg_stream(_rate_events(spark, RATE)),
            sizing={
                "rows_per_second": RATE,
                "watermark_seconds": 60,
                "n_sides": 1,
            },
        )
    )

    # App 2: stream-stream windowed left join (StreamStreamJoin.java).
    # Sparse-match workload BY DESIGN: the wide user_id key space means
    # almost every impression emits null-extended after its watermark —
    # the probe measures the join MACHINERY (state insert + probe +
    # watermark eviction per row), which is rate-bound, not the match
    # fan-out, which is data-dependent (and quadratic if keys are
    # narrow — see the user_id modulus note in _rate_events).
    # join offered load below the agg's: every row is symmetric-hash
    # state (insert + probe + watermark eviction), the heaviest per-row
    # work in the engine; a 60 s watermark bounds buffered state to
    # ~2 min of stream on each side.
    # State partitions are sized from estimated state volume and the
    # per-row state rate, not core count (see streaming/state_sizing.py)
    # — via start_stateful, the same call path production pipelines
    # use, so this probe row IS the evidence the engine lands on the
    # winning cell by itself (the probe row records the count it
    # pinned). Rates are passed PER SIDE, as start_stateful expects
    # for n_sides=2.
    imps = _rate_events(spark, RATE // 5).select(
        F.col("ts").alias("imp_ts"),
        F.col("event_id").alias("impression_id"),
        F.col("user_id"),
        (F.col("event_id") % 10).alias("ad_id"),
    )
    clicks = _rate_events(spark, RATE // 15).select(
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
    )
    results.append(
        probe(
            "ads_with_clicks_stream",
            ads_with_clicks_stream(imps, clicks, watermark="60 seconds"),
            output_mode="append",  # stream-stream outer joins are append-only
            sizing={
                "rows_per_second": (RATE // 5 + RATE // 15) / 2,
                "watermark_seconds": 60,
                "join_window_seconds": 60,
                "n_sides": 2,
            },
        )
    )

    print(
        json.dumps(
            {
                "metric": "streaming_throughput",
                "unit": "rows/sec",
                "pipelines": {r["pipeline"]: r["sustained_rows_per_sec"] for r in results},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
