"""Spans around calls into the engine's layers, recorded from outside it.

The engine is not edited: :func:`instrument` replaces
``data.load_table`` and ``stage_cache.shared_stage`` with timing
wrappers before ``registry.load_all()`` imports the operator modules,
which bind both names at import time. Spans are kept in memory and
written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """In-memory span recorder for one benchmark run.

    ``enabled=False`` keeps the same call structure but records nothing,
    so the untraced run pays only a branch per call.
    """

    def __init__(self, run_id: str, enabled: bool, jobs=lambda: 0):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._jobs = jobs  # monotonic count of Spark jobs submitted so far
        # add to a span's perf_counter times to get epoch seconds
        self.epoch0 = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "jobs0": self._jobs(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self._jobs() - rec.pop("jobs0")
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's table loader and shared-stage cache."""
    from streams_prototyping_spark import data, stage_cache

    load_table = data.load_table
    shared_stage = stage_cache.shared_stage

    def traced_load_table(spark, sf_dir, name):
        with tracer.span("data.load_table", table=name):
            return load_table(spark, sf_dir, name)

    def traced_shared_stage(spark, sf_dir, tag, build, persist=True):
        hit = (sf_dir, tag) in stage_cache._CACHE
        with tracer.span("stage_cache.shared_stage", tag=tag, hit=hit):
            return shared_stage(spark, sf_dir, tag, build, persist)

    data.load_table = traced_load_table
    stage_cache.shared_stage = traced_shared_stage


def read_event_log(path: str) -> dict[str, list]:
    """Task, stage and job records from a Spark event log (JSON lines).

    Times are epoch seconds, so they compare with span times shifted by
    :attr:`Tracer.epoch0`.
    """
    tasks, stages, jobs = [], [], []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rd, wr = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "start": info["Launch Time"] / 1000.0,
                        "end": info["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                )
            elif kind == "SparkListenerStageCompleted":
                st = ev["Stage Info"]
                stages.append({"stage": st["Stage ID"], "end": st.get("Completion Time", 0) / 1000.0})
            elif kind == "SparkListenerJobStart":
                jobs.append({"job": ev["Job ID"], "start": ev["Submission Time"] / 1000.0})
    return {"tasks": tasks, "stages": stages, "jobs": jobs}


def exec_metrics(log: dict[str, list], lo: float, hi: float, cores: int) -> dict:
    """Execution-layer totals for work that finished inside ``[lo, hi]``."""
    tasks = [t for t in log["tasks"] if lo <= t["end"] <= hi]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
    skew = 1.0
    for durs in by_stage.values():
        durs.sort()
        med = durs[len(durs) // 2]
        if len(durs) > 1 and med > 0:
            skew = max(skew, durs[-1] / med)
    run_s = sum(t["run_s"] for t in tasks)
    return {
        "jobs": sum(1 for j in log["jobs"] if lo <= j["start"] <= hi),
        "stages": sum(1 for s in log["stages"] if lo <= s["end"] <= hi),
        "tasks": len(tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "task_skew_max": skew,
        "cpu_busy_frac": run_s / ((hi - lo) * cores) if hi > lo else 0.0,
        "task_gc_s": sum(t["gc_s"] for t in tasks),
    }
