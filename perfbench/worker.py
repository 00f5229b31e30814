"""One benchmark run in a fresh process: set up, run a workload, write its artifact.

Started by ``run.py``, which sets the environment (cores, scratch
directories inside the checkout, event log for traced runs) and reads
the artifact back. Not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import batch  # noqa: E402
import spans as spans_mod  # noqa: E402
import stream  # noqa: E402

SETUPS = 5  # set-ups per run; setup_s is their median


class Run:
    """State of one run, handed to the workload modules."""

    def __init__(self, args: argparse.Namespace):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = args.work
        self.tmp = os.path.join(args.work, "tmp")
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.tracer = spans_mod.Tracer(uuid.uuid4().hex[:12], bool(args.trace), self._jobs)
        self.art: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                          "trace": args.trace, "run_id": self.tracer.run_id}
        self.attempted = 0
        self.failures: list[str] = []

    def _jobs(self) -> int:
        try:
            return self.spark._jsc.sc().dagScheduler().nextJobId()
        except Exception:  # no live session: count nothing
            return 0

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def start_session(self) -> dict:
        from streams_prototyping_spark import registry, session

        span = self.tracer.span
        t0 = time.perf_counter()
        with span("session.get_spark"):
            self.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        with span("registry.load_all"):
            registry.load_all()
        return {"get_spark_s": t1 - t0, "load_all_s": time.perf_counter() - t1}

    def setup(self) -> None:
        """Start the session SETUPS times; the first also launches the JVM."""
        runs = []
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("setup", index=i):
                rec = self.start_session()
                w0 = time.perf_counter()
                with self.tracer.span("warmup"):
                    self.spark.range(1 << 16).selectExpr("sum(id)").collect()
                rec["warmup_s"] = time.perf_counter() - w0
            rec["total_s"] = time.perf_counter() - t0
            runs.append(rec)
        self.art["setups"] = runs


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def tree_rss_mb(field: str) -> float:
    """Sum of a /proc memory field (``VmHWM`` peak or ``VmRSS`` current
    resident) over this process and its descendants: the Spark JVM and
    its Python workers."""
    kids, todo, total_kb = _children(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith(field + ":"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024.0


def conditions(run: Run) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": run.spark.version,
        "java_version": run.spark._jvm.System.getProperty("java.version"),
    }


def read_event_logs(path: str) -> dict | None:
    merged: dict[str, list] = {"tasks": [], "stages": [], "jobs": []}
    # one entry per SparkContext: a file, or a directory of rolled
    # ``events_<n>_...`` files
    files = [f for f in glob.glob(os.path.join(path, "*")) if os.path.isfile(f)]
    files += sorted(glob.glob(os.path.join(path, "*", "events_*")))
    if not files:
        return None
    for f in files:
        for k, v in spans_mod.read_event_log(f).items():
            merged[k] += v
    return merged


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import bench  # the repo's load-evidence probe

    run = Run(args)
    run.art["load_before"] = bench.read_load_evidence(0.25)
    if run.tracer.enabled:
        spans_mod.instrument(run.tracer)  # before registry.load_all() binds the names
    run.setup()
    run.art["conditions"] = conditions(run)
    try:
        if args.workload == "stream-reference":
            e2e = stream.run(run)
        else:
            e2e = batch.run(run, args.workload)
    except Exception:
        # keep what was measured for the post-mortem, then fail the run
        run.art["error"] = traceback.format_exc()
        with open(args.out, "w") as f:
            json.dump(run.art, f, indent=1, default=str)
        raise
    e2e["setup_s"] = statistics.median(s["total_s"] for s in run.art["setups"])
    run.art["peak_rss_mb"] = tree_rss_mb("VmHWM")
    # Recorded, not gated: between identical runs the peak varied
    # 1.7-3.5 GB (with when the JVM grew its heap), the RSS after a full
    # collection 1.5-2.6 GB, and the heap in use after it flipped between
    # two levels on batch-curation (153 and 221 MB).
    jvm = run.spark._jvm
    for _ in range(2):  # the second collection also takes what the
        jvm.System.gc()  # context cleaner released after the first
        time.sleep(0.5)
    run.art["rss_after_gc_mb"] = tree_rss_mb("VmRSS")
    run.art["heap_after_gc_mb"] = (
        jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
    )
    run.art["load_after"] = bench.read_load_evidence(0.25)
    run.spark.stop()

    out = {"end_to_end": e2e, "attempted": run.attempted, "failures": run.failures}
    if run.tracer.enabled:
        run.tracer.write(os.path.join(args.work, "spans.jsonl"))
        log = read_event_logs(os.path.join(args.work, "eventlog"))
        mod = stream if args.workload == "stream-reference" else batch
        layers = mod.layers(run, log)
        setups = run.art["setups"]
        layers.update({
            "session.get_spark_s": statistics.median(s["get_spark_s"] for s in setups),
            # only the first set-up imports the operator modules
            "registry.load_all_s": setups[0]["load_all_s"],
            "warmup_s": statistics.median(s["warmup_s"] for s in setups),
        })
        out["per_layer"] = layers
    run.art.update(out)
    with open(args.out, "w") as f:
        json.dump(run.art, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
