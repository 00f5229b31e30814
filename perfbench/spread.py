"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload W --seconds S --seeds 1 2 3 ...

Runs ``run.py`` once per seed, one after another, and prints for each
end-to-end metric its median and (Q3 - Q1) / median, the spread that
each metric's ``bound`` in BENCHMARK.json is held to.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in json.loads((HERE.parent / "BENCHMARK.json").read_text())["end_to_end"]}
    runs = []
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, cwd=HERE.parent,
        )
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(json.dumps({"seed": seed, **res}), flush=True)
    print(f"{len(runs)} runs, failed operations: {sum(r['failed'] for r in runs)}")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        if len(vals) >= 2:
            sp = metrics.quartile_spread(vals)
            flag = "ok" if sp < bound / 3 else ("within bound" if sp <= bound else "TOO WIDE")
            print(f"{name:18s} median {statistics.median(vals):10.4g}  spread {sp:.3f}  bound {bound}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
