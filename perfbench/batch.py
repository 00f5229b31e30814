"""Closed-loop batch workloads: one client runs a query list pass after pass.

Each pass runs the list in a seed-shuffled order; a query is built
(``registry.QUERIES[name]``), planned (a forced ``executedPlan()``) and
collected, and its rows are compared with the DuckDB oracle answer
computed once, before timing, over the same generated tables.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback

import duckdb

import datagen
import metrics
import spans as spans_mod

SF = 0.005  # generated tables: 30k lineitem rows, 500 documents

# Subsets of the full lists named in NOTES.md, sized so a cold pass plus
# two warm passes fit one run (see NOTES.md, "Run budget").
WORKLOADS = {
    "batch-relational": [
        "windowed_avg",
        "ctr_per_ad",
        "q5_local_supplier_volume",
        "q8_market_share",
    ],
    "batch-curation": [
        "dedup_exact",
        "minhash_lsh_pairs",
        "greedy_match_assign",
        "winnowing_fingerprint",
    ],
}
# One cold pass and three warm ones. The count is fixed rather than
# filled to a deadline: JIT compilation keeps speeding the warm passes up,
# so a pass count that varied with machine speed would move steady_pass_s
# by itself. Three warm passes give medians that one slow pass cannot move.
PASSES = 4


def oracle_rows(sql: str, sf_dir: str, tmp: str) -> list[str]:
    """Canonical oracle answer, as ``tests/oracle_check`` compares them."""
    from streams_prototyping_spark.data import TABLES
    from tests.oracle_check import _canon_rows

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp}'")
        con.execute("SET threads=2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        cur = con.execute(sql)
        return _canon_rows([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()


def catalyst_ms(qe) -> dict:
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = ph.get().durationMs() if ph.isDefined() else 0
    return out


def timed_collect(ctx, name: str, sf_dir: str):
    """Build, plan and collect one registered query inside its spans."""
    from streams_prototyping_spark import registry

    span = ctx.tracer.span
    with span("query", query=name):
        with span("construct", query=name):
            df = registry.QUERIES[name](ctx.spark, sf_dir)
        qe = df._jdf.queryExecution()
        with span("plan", query=name):
            qe.executedPlan()
        with span("execute", query=name):
            rows = df.collect()
    return df, qe, rows


def run_query(ctx, name: str, expected: list[str], sf_dir: str) -> dict:
    from tests.oracle_check import _canon_rows

    rec = {"query": name, "ok": False}
    t0 = time.perf_counter()
    try:
        df, qe, rows = timed_collect(ctx, name, sf_dir)
        rec["s"] = time.perf_counter() - t0
        if ctx.tracer.enabled:
            rec["catalyst_ms"] = catalyst_ms(qe)
        rec["ok"] = _canon_rows(list(df.columns), [tuple(r) for r in rows]) == expected
        if not rec["ok"]:
            rec["error"] = f"rows differ from the oracle ({len(rows)} rows)"
    except Exception as exc:  # a failed query is counted, the run goes on
        rec["s"] = time.perf_counter() - t0
        rec["error"] = repr(exc)[:400]
        traceback.print_exc()
    return rec


def run(ctx, workload: str) -> dict:
    from streams_prototyping_spark import registry, stage_cache

    queries = WORKLOADS[workload]
    sf_dir = os.path.join(ctx.work, "data")
    t0 = time.perf_counter()
    datagen.write(sf_dir, ctx.seed, SF)
    ctx.art["datagen_s"] = time.perf_counter() - t0
    expected = {q: oracle_rows(registry.ORACLES[q], sf_dir, ctx.tmp) for q in queries}

    # shared stages materialize inside shared_stage(), so their build
    # time lands in the stage_cache span instead of the first consumer
    stage_cache.TIME_BUILDS = True
    rng = random.Random(ctx.seed)
    passes = []
    for _ in range(PASSES):
        order = rng.sample(queries, len(queries))
        gc0 = ctx.gc_seconds() if ctx.tracer.enabled else 0.0
        with ctx.tracer.span("pass", index=len(passes)) as sp:
            p0 = time.perf_counter()
            results = [run_query(ctx, q, expected[q], sf_dir) for q in order]
            wall = time.perf_counter() - p0
        passes.append({"order": order, "wall_s": wall, "queries": results})
        if sp is not None:
            passes[-1]["span"] = sp["id"]
            passes[-1]["gc_s"] = ctx.gc_seconds() - gc0

    # recovery: a driver-session restart, then one pass in the cold
    # pass's order; the JVM stays warm, the session's stages are rebuilt
    ctx.spark.stop()
    r0 = time.perf_counter()
    ctx.start_session()
    recovered = [run_query(ctx, q, expected[q], sf_dir) for q in passes[0]["order"]]
    recovery_s = time.perf_counter() - r0
    stage_cache.TIME_BUILDS = False

    steady = passes[1:]
    # A query's latency is its median over the warm passes, which takes
    # out where it fell in the seed-shuffled order (its JIT state). The
    # few queries of a pass are too few samples for a tail percentile
    # above the median, so the tail is the slowest query's latency.
    lat = [statistics.median(q["s"] for p in steady for q in p["queries"] if q["query"] == name) for name in queries]
    steady_pass = statistics.median(p["wall_s"] for p in steady)
    runs = [q for p in passes for q in p["queries"]] + recovered
    ctx.art.update(
        queries=queries,
        sf=SF,
        passes=passes,
        recovery={"s": recovery_s, "queries": recovered},
        query_latency_s=dict(zip(queries, lat)),
    )
    ctx.attempted = len(runs)
    ctx.failures = [f"{q['query']}: {q['error']}" for q in runs if not q["ok"]]
    return {
        "first_pass_s": passes[0]["wall_s"],
        "steady_pass_s": steady_pass,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": max(lat),
        "capacity_per_s": len(queries) / steady_pass,
        "recovery_s": recovery_s,
    }


def layers(ctx, log) -> dict:
    """Per-layer readout of a traced batch run (medians over warm passes)."""
    spans = ctx.tracer.spans
    selfs = metrics.self_times(spans)
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def subtree(root: int) -> list[dict]:
        out, todo = [], [root]
        while todo:
            kids = by_parent.get(todo.pop(), [])
            out += kids
            todo += [k["id"] for k in kids]
        return out

    def child_jobs(s: dict) -> int:
        return s["jobs"] - sum(k["jobs"] for k in by_parent.get(s["id"], []))

    def layer_row(inner: list[dict], catalyst: list[dict]) -> dict:
        """Disjoint layer times and job counts over a set of spans."""
        named = lambda n: [s for s in inner if s["name"] == n]  # noqa: E731
        loads, stages = named("data.load_table"), named("stage_cache.shared_stage")
        return {
            "load_s": sum(selfs[s["id"]] for s in loads),
            "load_calls": len(loads),
            "load_jobs": sum(s["jobs"] for s in loads),
            "construct_self_s": sum(selfs[s["id"]] for s in named("construct")),
            "construct_jobs": sum(child_jobs(s) for s in named("construct")),
            "stage_build_s": sum(selfs[s["id"]] for s in stages if not s["hit"]),
            "stage_build_jobs": sum(child_jobs(s) for s in stages if not s["hit"]),
            "stage_builds": sum(1 for s in stages if not s["hit"]),
            "stage_hits": sum(1 for s in stages if s["hit"]),
            "plan_s": sum(selfs[s["id"]] for s in named("plan")),
            "exec_s": sum(selfs[s["id"]] for s in named("execute")),
            "exec_jobs": sum(s["jobs"] for s in named("execute")),
            **{f"catalyst_{k}_ms": sum(c[k] for c in catalyst) for k in ("analysis", "optimization", "planning")},
        }

    per_pass = []
    for p in ctx.art["passes"]:
        sp = spans[p["span"]]
        row = {"wall_s": p["wall_s"], "gc_s": p["gc_s"]}
        row.update(layer_row(subtree(sp["id"]), [q["catalyst_ms"] for q in p["queries"] if "catalyst_ms" in q]))
        layer_sum = sum(row[k] for k in ("load_s", "construct_self_s", "stage_build_s", "plan_s", "exec_s"))
        row["layers_cover_frac"] = layer_sum / p["wall_s"]
        if log is not None:
            lo, hi = sp["start"] + ctx.tracer.epoch0, sp["end"] + ctx.tracer.epoch0
            row["exec"] = spans_mod.exec_metrics(log, lo, hi, ctx.cores)
        for qspan, q in zip(by_parent.get(sp["id"], []), p["queries"]):
            q["layers"] = layer_row([qspan] + subtree(qspan["id"]), [q.get("catalyst_ms", {})] if "catalyst_ms" in q else [])
        per_pass.append(row)
    ctx.art["layers_per_pass"] = per_pass

    warm = per_pass[1:]
    med = lambda k: statistics.median(r[k] for r in warm)  # noqa: E731
    builds = sum(r["stage_builds"] for r in per_pass)
    hits = sum(r["stage_hits"] for r in per_pass)
    out = {
        "data.load_table.calls": med("load_calls"),
        "data.load_table.s": med("load_s"),
        "data.load_table.jobs": med("load_jobs"),
        "construct.self_s": med("construct_self_s"),
        "construct.jobs": med("construct_jobs"),
        "stage_cache.builds": builds,
        "stage_cache.hits": hits,
        "stage_cache.hit_ratio": hits / (hits + builds) if hits + builds else 0.0,
        "catalyst.analysis_ms": med("catalyst_analysis_ms"),
        "catalyst.optimization_ms": med("catalyst_optimization_ms"),
        "catalyst.planning_ms": med("catalyst_planning_ms"),
        "exec.s": med("exec_s"),
        "exec.gc_s": med("gc_s"),
        # a batch run has no triggers and no state store
        "input.rows_per_trigger": 0,
        "trigger.source_frac": 0.0,
        "trigger.query_planning_frac": 0.0,
        "trigger.add_batch_frac": 0.0,
        "trigger.wal_commit_frac": 0.0,
        "trigger.commit_offsets_frac": 0.0,
        "state.partitions": 0,
        "state.rows_total": 0,
        "state.memory_bytes": 0,
        "state.bytes_per_row": 0.0,
        "state.rows_dropped_by_watermark": 0,
    }
    ctx.art["stage_cache_build_s"] = sum(r["stage_build_s"] for r in per_pass)
    if log is not None:
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "task_skew_max", "cpu_busy_frac"):
            out[f"exec.{k}"] = statistics.median(r["exec"][k] for r in warm)
    return out
