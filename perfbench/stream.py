"""Open-loop streaming workload: the reference's two apps on the rate source.

Both pipelines start through ``state_sizing.start_stateful`` and run one
after the other, each alone on the cores, splitting the measured window:

1. ``ads_with_clicks_stream``, impressions left-joined to clicks (append
   mode, parquet file sink, so its output survives a restart exactly
   once);
2. a stop and restart of the join on its checkpoint;
3. ``windowed_avg_stream`` over rate rows (update mode, memory sink).

The rate source stamps every row with its due time, so a stalled trigger
is charged to the latency of the rows that waited for it.

Event time runs ``SPEED`` times faster than wall time: the join keeps
state for its 60 s window plus the watermark, and at ``SPEED`` that
horizon is reached a few seconds into the run, so the measured
triggers see steady-state state size.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import metrics
import spans as spans_mod
from streams_prototyping_spark.streaming.pipelines import WINDOW_S
from batch import catalyst_ms, timed_collect

SPEED = 10
AGG_RATE = 5_000  # rows per wall second
JOIN_RATE = 1_000
WATERMARK_S = 10  # event-time seconds
WARMUP_TRIGGERS = 1  # per pipeline, left out of latency and capacity
AGG_SHARE = 0.4  # of the measured seconds; the join phase gets the rest
CLICKED_PCT = 30  # impressions clicked inside the 60 s join window
LATE_PCT = 3  # impressions clicked after it; these must not join
_P = 1_000_003


def _salt(seed: int) -> int:
    return seed % 1000


def _shift_us(rate: int) -> int:
    """Extra event-time micros per row that make event time run SPEED x."""
    step = (SPEED - 1) * 1_000_000
    assert step % rate == 0, "rate must divide (SPEED - 1) * 1e6"
    return step // rate


def _rate(spark, rate: int, cores: int):
    from pyspark.sql import functions as F

    rows = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", cores)
        .load()
    )
    ts = F.timestamp_micros(F.unix_micros("timestamp") + F.col("value") * _shift_us(rate))
    return rows.select(ts.alias("ts"), F.col("value").alias("v"))


def agg_value(v, salt: int):
    """Order value of rate row ``v``; works on Spark columns and numpy."""
    return ((v * 7919 + salt) % 100_000) / 100.0


def bucket(v, salt: int):
    return ((v * 48271 + salt) % _P) % 100


def click_delay_s(v, salt: int):
    return ((v * 69621 + salt) % _P) % 55


def build(spark, cores: int, seed: int):
    from pyspark.sql import functions as F

    from streams_prototyping_spark.streaming.pipelines import (
        ads_with_clicks_stream,
        windowed_avg_stream,
    )

    salt = _salt(seed)
    ev = _rate(spark, AGG_RATE, cores)
    events = ev.select("ts", agg_value(F.col("v"), salt).alias("value"))
    agg = windowed_avg_stream(events, watermark=f"{WATERMARK_S} seconds")

    rows = _rate(spark, JOIN_RATE, cores)
    v = F.col("v")
    imps = rows.select(
        F.col("ts").alias("imp_ts"),
        v.alias("impression_id"),
        (v + salt * 10**9).alias("user_id"),
        ((v * 31 + salt) % 99 + 1).alias("ad_id"),
    )
    b = bucket(v, salt)
    delay = click_delay_s(v, salt) + F.when(b >= CLICKED_PCT, 65).otherwise(0)
    clicks = rows.where(b < CLICKED_PCT + LATE_PCT).select(
        F.timestamp_micros(F.unix_micros("ts") + delay * 1_000_000).alias("click_ts"),
        (v + salt * 10**9).alias("c_user_id"),
        v.alias("click_id"),
    )
    join = ads_with_clicks_stream(imps, clicks, watermark=f"{WATERMARK_S} seconds")
    return agg, join


class Progress:
    """StreamingQueryListener keeping every progress event, per query name."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events: dict[str, list[dict]] = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                events.setdefault(p["name"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.events = events
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def of(self, name: str, run_id: str | None = None) -> list[dict]:
        return [p for p in list(self.events.get(name, [])) if run_id in (None, p["runId"])]


def _origin(progress: list[dict]) -> float:
    """Event time of row 0, which the rate source also stamps as its due time."""
    return metrics.parse_ts(next(p for p in progress if "min" in p.get("eventTime", {}))["eventTime"]["min"])


def _with_rows(progress: list[dict], rate: int) -> list[dict]:
    """Triggers that read rows, each annotated with ``rows``: the rate
    rows it consumed. The join reads its source twice (impressions and
    clicks), so ``numInputRows`` counts each row twice there."""
    out = []
    for p in progress:
        src = p["sources"][0]
        p["rows"] = (int(src["endOffset"]) - int(src["startOffset"] or 0)) * rate
        if p["rows"] > 0:
            out.append(p)
    return out


def _source_rows(progress: list[dict], rate: int) -> int:
    """Rows 0..n-1 of the rate source that committed triggers consumed."""
    return max(int(p["sources"][0]["endOffset"]) for p in progress) * rate


def check_agg(ctx, progress: list[dict], salt: int) -> str | None:
    """The stream's final windows must equal the batch twin's over the same rows."""
    from pyspark.sql import functions as F

    n = _source_rows(progress, AGG_RATE)
    creation_ms = round(_origin(progress) * 1000)
    v = np.arange(n, dtype=np.int64)
    rate_us = (creation_ms + np.floor(v * 1000 / AGG_RATE + 0.5).astype(np.int64)) * 1000
    twin_dir = os.path.join(ctx.work, "twin")
    os.makedirs(twin_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "o_orderdate": pa.array(rate_us + v * _shift_us(AGG_RATE), type=pa.timestamp("us")),
                "o_totalprice": agg_value(v, salt),
            }
        ),
        os.path.join(twin_dir, "orders.parquet"),
    )
    df, qe, rows = timed_collect(ctx, "windowed_avg", twin_dir)
    if ctx.tracer.enabled:
        ctx.art["twin_catalyst_ms"] = catalyst_ms(qe)
    # A trigger interrupted by stop() may already have written to the
    # memory sink without committing; only windows that end before the
    # first uncommitted row are compared.
    horizon = (rate_us[-1] + n * _shift_us(AGG_RATE)) // 1_000_000 if n else 0
    want = {
        r["window_start"]: (r["n_orders"], r["avg_x2"], r["avg_v"])
        for r in rows
        if r["window_end"] <= horizon
    }
    got: dict[int, tuple] = {}
    out = ctx.spark.table("agg_out").select(
        F.unix_seconds("window_start").alias("w"), "n_events", "avg_x2", "avg_v"
    )
    for r in out.collect():
        if r["w"] + WINDOW_S <= horizon and (r["w"] not in got or r["n_events"] > got[r["w"]][0]):
            got[r["w"]] = (r["n_events"], r["avg_x2"], r["avg_v"])
    if not want or set(got) != set(want):
        return f"closed windows differ: stream {sorted(got)}, batch twin {sorted(want)}"
    for w, (cnt, x2, av) in want.items():
        g = got[w]
        if g[0] != cnt or not (np.isclose(g[1], x2, rtol=1e-9) and np.isclose(g[2], av, rtol=1e-9)):
            return f"window {w}: stream {g}, batch twin {(cnt, x2, av)}"
    ctx.art["agg_check"] = {"rows": n, "windows": len(want)}
    return None


def check_join(ctx, path: str, n: int, salt: int) -> str | None:
    """Every impression emitted once, clicked iff its click was in the window."""
    from pyspark.sql import functions as F

    out = ctx.spark.read.parquet(path)
    v = F.col("impression_id")
    want_clicked = bucket(v, salt) < CLICKED_PCT
    r = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct(v).alias("ids"),
        F.sum(F.when(F.col("was_clicked") != want_clicked, 1).otherwise(0)).alias("wrong"),
        F.sum(F.col("was_clicked").cast("long")).alias("clicked"),
        F.max(F.when(~F.col("was_clicked"), v)).alias("last_unclicked"),
    ).first()
    last = r["last_unclicked"]
    below = out.where(v <= last).count() if last is not None else 0
    vv = np.arange(n, dtype=np.int64)
    clicked = int((bucket(vv, salt) < CLICKED_PCT).sum())
    ctx.art["join_check"] = {
        "impressions_generated": n, "rows": r["rows"], "clicked": r["clicked"],
        "clicked_generated": clicked, "last_unclicked": last,
    }
    if r["rows"] != r["ids"]:
        return f"{r['rows'] - r['ids']} impressions emitted more than once"
    if r["wrong"]:
        return f"{r['wrong']} impressions with the wrong was_clicked"
    if r["clicked"] != clicked:
        return f"clicked {r['clicked']}, in-window clicks generated {clicked}"
    if last is None or below != last + 1:
        return f"unclicked impressions missing below id {last} ({below} of {last} present)"
    return None


def _phase_layers(progress: list[dict]) -> dict:
    d = lambda k: sum(p["durationMs"].get(k, 0) for p in progress)  # noqa: E731
    total = d("triggerExecution")
    return {
        "triggers": len(progress),
        "trigger_ms_mean": total / len(progress),
        "source_ms": d("latestOffset") + d("getBatch"),
        "query_planning_ms": d("queryPlanning"),
        "add_batch_ms": d("addBatch"),
        "wal_commit_ms": d("walCommit"),
        "commit_offsets_ms": d("commitOffsets"),
        "trigger_ms": total,
        "rows_per_trigger": statistics.fmean(p["rows"] for p in progress),
        "capacity_rows_per_s": metrics.capacity(progress),
    }


def _state(progress: list[dict]) -> dict:
    ops = [p["stateOperators"] for p in progress if p.get("stateOperators")]
    last = ops[-1]
    rows = sum(o["numRowsTotal"] for o in last)
    mem = sum(o["memoryUsedBytes"] for o in last)
    s = lambda k: sum(o.get(k, 0) for op in ops for o in op)  # noqa: E731
    return {
        "partitions": last[0]["numShufflePartitions"],
        "rows_total": rows,
        "memory_bytes": mem,
        "bytes_per_row": mem / rows if rows else 0.0,
        "commit_ms": s("commitTimeMs"),
        "updates_ms": s("allUpdatesTimeMs"),
        "removals_ms": s("allRemovalsTimeMs"),
        "rows_dropped_by_watermark": s("numRowsDroppedByWatermark"),
    }


def run(ctx) -> dict:
    from streams_prototyping_spark.streaming.state_sizing import start_stateful

    spark, span, salt = ctx.spark, ctx.tracer.span, _salt(ctx.seed)
    ck_agg, ck_join = (os.path.join(ctx.work, d) for d in ("ck_agg", "ck_join"))
    join_out = os.path.join(ctx.work, "join_out")
    b0 = time.time()
    progress = Progress(spark)
    with span("construct", query="stream"):
        agg_df, join_df = build(spark, ctx.cores, ctx.seed)
    ctx.art["stream_build_s"] = time.time() - b0

    def start_join():
        return start_stateful(
            join_df, rows_per_second=JOIN_RATE / SPEED, watermark_seconds=WATERMARK_S,
            join_window_seconds=60, n_sides=2, format="parquet", output_mode="append",
            query_name="join_out", checkpoint_dir=ck_join, options={"path": join_out},
        )

    def phase(name: str, query: str, start, seconds: float) -> tuple[float, float]:
        """Start one pipeline alone, wait for its first trigger to end
        (its cold start), then measure it for ``seconds``.

        Returns the start call's time and the end of the measured window.
        """
        t0 = time.time()
        with span("state_sizing.start_stateful", query=name):
            q = start()
        t_measure = None
        while t_measure is None or time.time() - t_measure < seconds:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            if t_measure is None and progress.of(query):
                t_measure = time.time()
            if time.time() - t0 > 120:
                raise RuntimeError(f"{name}: no trigger ended in 120 s")
            time.sleep(0.05)
        t1 = time.time()
        q.stop()
        return t0, t1

    # The join runs first: it is the pipeline with few, long triggers,
    # and its phase also finishes the JVM's JIT warm-up of the shared
    # micro-batch and state-store code before the AVG's short triggers.
    gc0 = ctx.gc_seconds()
    join_t = phase("join", "join_out", start_join, ctx.seconds * (1 - AGG_SHARE))
    join_p = progress.of("join_out")

    # recovery: restart the join on its checkpoint, time the first trigger
    r0 = time.time()
    with span("state_sizing.start_stateful", query="join-restart"):
        join_q = start_join()
    while not progress.of("join_out", str(join_q.runId)):
        if join_q.exception() is not None or time.time() - r0 > 60:
            raise RuntimeError(f"join did not recover: {join_q.exception()}")
        time.sleep(0.05)
    first = progress.of("join_out", str(join_q.runId))[0]
    recovery_s = metrics.trigger_end(first) - r0
    join_q.stop()
    join_all = progress.of("join_out")

    agg_t = phase("agg", "agg_out", lambda: start_stateful(
        agg_df, rows_per_second=AGG_RATE / SPEED, watermark_seconds=WATERMARK_S,
        n_sides=1, format="memory", output_mode="update", query_name="agg_out",
        checkpoint_dir=ck_agg,
    ), ctx.seconds * AGG_SHARE)
    gc_s = ctx.gc_seconds() - gc0
    agg_p = progress.of("agg_out")
    ctx.art["progress"] = {"agg": agg_p, "join": join_all}
    ctx.art["state_provider"] = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")

    failures, checks = [], 0
    for name, fn in (
        ("agg_output", lambda: check_agg(ctx, agg_p, salt)),
        ("join_output_across_restart", lambda: check_join(ctx, join_out, _source_rows(join_all, JOIN_RATE), salt)),
    ):
        checks += 1
        try:
            err = fn()
        except Exception as exc:
            traceback.print_exc()
            err = repr(exc)[:400]
        if err:
            failures.append(f"{name}: {err}")

    cold_start = {"agg": metrics.trigger_end(agg_p[0]), "join": metrics.trigger_end(join_p[0])}
    phases = {}
    for name, prog, (t0, t1) in (
        ("agg", _with_rows(agg_p, AGG_RATE), agg_t),
        ("join", _with_rows(join_p, JOIN_RATE), join_t),
    ):
        steady = prog[WARMUP_TRIGGERS:] or prog
        origin = _origin(prog)
        lats = metrics.trigger_latencies(steady, SPEED, origin)
        checks += 1
        if metrics.backlogged([metrics.trigger_end(p) for p in steady], lats):
            failures.append(f"{name}: latency still rising over the second half")
        spans_ = metrics.row_latency_spans(steady, SPEED, origin)
        phases[name] = {
            **_phase_layers(steady),
            "latency": metrics.latency_summary(spans_),
            "trigger_latency_s": lats,
            "cold_start_s": cold_start[name] - t0,
            "window": [metrics.parse_ts(steady[0]["timestamp"]), t1],
        }
    phases["join"]["state"] = _state(_with_rows(join_p, JOIN_RATE))
    phases["agg"]["state"] = _state(_with_rows(agg_p, AGG_RATE))
    ctx.art.update(
        speed=SPEED, rates={"agg": AGG_RATE, "join": JOIN_RATE}, watermark_s=WATERMARK_S,
        phases=phases, recovery_first_trigger=first,
        gc_s=gc_s,
    )
    ctx.attempted = checks
    ctx.failures = failures
    # each pipeline weighs the same whatever its trigger or row count
    both = lambda f: statistics.fmean(f(phases[k]) for k in phases)  # noqa: E731
    return {
        "first_pass_s": sum(phases[k]["cold_start_s"] for k in phases),
        "steady_pass_s": both(lambda ph: ph["trigger_ms_mean"] / 1000),
        "latency_p50_s": both(lambda ph: ph["latency"]["p50_s"]),
        "latency_tail_s": both(lambda ph: ph["latency"]["tail_s"]),
        "capacity_per_s": both(lambda ph: ph["capacity_rows_per_s"]),
        "recovery_s": recovery_s,
    }


def layers(ctx, log) -> dict:
    """Per-layer readout of a traced streaming run."""
    ph = ctx.art["phases"]
    sums = lambda k: sum(ph[n][k] for n in ph)  # noqa: E731
    trig = sums("trigger_ms")
    selfs = metrics.self_times(ctx.tracer.spans)
    named = lambda n: [s for s in ctx.tracer.spans if s["name"] == n]  # noqa: E731
    loads = named("data.load_table")
    cat = ctx.art.get("twin_catalyst_ms", {})
    st = ph["join"]["state"]
    out = {
        "data.load_table.calls": len(loads),
        "data.load_table.s": sum(selfs[s["id"]] for s in loads),
        "data.load_table.jobs": sum(s["jobs"] for s in loads),
        "construct.self_s": sum(selfs[s["id"]] for s in named("construct")),
        "construct.jobs": sum(s["jobs"] for s in named("construct")),
        "stage_cache.builds": 0,
        "stage_cache.hits": 0,
        "stage_cache.hit_ratio": 0.0,
        "catalyst.analysis_ms": cat.get("analysis", 0),
        "catalyst.optimization_ms": cat.get("optimization", 0),
        "catalyst.planning_ms": cat.get("planning", 0),
        "exec.s": sums("add_batch_ms") / 1000.0,
        "exec.gc_s": ctx.art["gc_s"],
        "input.rows_per_trigger": statistics.fmean(ph[n]["rows_per_trigger"] for n in ph),
        "trigger.source_frac": sums("source_ms") / trig,
        "trigger.query_planning_frac": sums("query_planning_ms") / trig,
        "trigger.add_batch_frac": sums("add_batch_ms") / trig,
        "trigger.wal_commit_frac": sums("wal_commit_ms") / trig,
        "trigger.commit_offsets_frac": sums("commit_offsets_ms") / trig,
        "state.partitions": st["partitions"],
        "state.rows_total": st["rows_total"],
        "state.memory_bytes": st["memory_bytes"],
        "state.bytes_per_row": st["bytes_per_row"],
        "state.rows_dropped_by_watermark": st["rows_dropped_by_watermark"],
    }
    if log is not None:
        ex = [spans_mod.exec_metrics(log, *ph[n]["window"], ctx.cores) for n in ph]
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[f"exec.{k}"] = sum(e[k] for e in ex)
        out["exec.task_skew_max"] = max(e["task_skew_max"] for e in ex)
        out["exec.cpu_busy_frac"] = statistics.fmean(e["cpu_busy_frac"] for e in ex)
    return out
