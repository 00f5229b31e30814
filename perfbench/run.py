"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload in a fresh worker process (``worker.py``) from the
root of a checkout, prints every metric by name with its unit, and ends
with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything the run writes stays under
``.perfbench/`` in the checkout; the last artifact of each workload,
seed and mode is kept there as JSON. Workloads and metrics are
described in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("batch-relational", "batch-curation", "stream-reference")
TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "steady_pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "capacity_per_s": "1/s",
    "recovery_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "warmup_s": "s",
    "data.load_table.calls": "count",
    "data.load_table.s": "s",
    "data.load_table.jobs": "count",
    "construct.self_s": "s",
    "construct.jobs": "count",
    "stage_cache.builds": "count",
    "stage_cache.hits": "count",
    "stage_cache.hit_ratio": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew_max": "ratio",
    "exec.cpu_busy_frac": "fraction",
    "exec.gc_s": "s",
    "input.rows_per_trigger": "count",
    "trigger.source_frac": "fraction",
    "trigger.query_planning_frac": "fraction",
    "trigger.add_batch_frac": "fraction",
    "trigger.wal_commit_frac": "fraction",
    "trigger.commit_offsets_frac": "fraction",
    "state.partitions": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.bytes_per_row": "bytes",
    "state.rows_dropped_by_watermark": "count",
}


def _group_alive(pgid: int) -> bool:
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process the worker left behind and wait until they end."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _env(work: Path, trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = work / "tmp"
    conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work / 'eventlog'}",
            "spark.eventLog.compress=false",
        ]
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True)
    env.update(
        # Python workers import the package from any working directory
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        SPARK_GRAFT_EXTRA_CONF=";".join(conf),
        TMPDIR=str(tmp),
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "streams_prototyping_spark").is_dir():
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2

    out_dir = ROOT / ".perfbench"
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = out_dir / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    env = _env(work, bool(args.trace))
    artifact = out_dir / f"{tag}.json"
    artifact.unlink(missing_ok=True)
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work), "--out", str(artifact)]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if rc != 0:
        print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}", file=sys.stderr)
        return 1

    art = json.loads(artifact.read_text())
    if args.trace:
        shutil.copy(work / "spans.jsonl", out_dir / f"{tag}.spans.jsonl")
        untraced = out_dir / f"{args.workload}-seed{args.seed}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            art["tracing_overhead"] = {k: art["end_to_end"][k] - base[k] for k in END_TO_END if k in base}
            artifact.write_text(json.dumps(art, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    wanted, values = (PER_LAYER, art["per_layer"]) if args.trace else (END_TO_END, art["end_to_end"])
    bad = [k for k in wanted if not isinstance(values.get(k), (int, float)) or not math.isfinite(values[k])]
    if bad:
        print(f"perfbench: metrics missing or not finite: {bad}", file=sys.stderr)
        return 1
    for k, unit in wanted.items():
        print(f"{k:32s} {values[k]:.6g} {unit}")
    attempted, failed = art["attempted"], len(art["failures"])
    print(f"{'failed_frac':32s} {failed / max(attempted, 1):.6g} fraction ({failed} of {attempted})")
    for f in art["failures"]:
        print(f"FAILED {f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": unit} for k, unit in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
