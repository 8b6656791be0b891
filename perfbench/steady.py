"""Steadiness check: run each workload with several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (interquartile
range over median) against the bound that BENCHMARK.json fixes.

    python3 perfbench/steady.py --runs 10 [--workload funnel ...] [--first-seed 1]

Runs are sequential subprocesses of run.py from the checkout root. The
check passes when every spread is within its bound; the goal for a steady
benchmark is a third of the bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()

    ok = True
    for workload in args.workload or [w["name"] for w in spec["workloads"]]:
        results = [run_once(workload, seed, spec["run_seconds"])
                   for seed in range(args.first_seed, args.first_seed + args.runs)]
        bad = [r for r in results if not r["correct"]]
        print(f"{workload}: {len(results)} runs, {len(bad)} with wrong or failed answers")
        ok &= not bad
        for m in spec["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / med
            within = spread <= m["bound"]
            ok &= within
            print(f"  {m['name']:16s} median {med:10.4f} {m['unit']:4s} q1 {q1:10.4f}"
                  f" q3 {q3:10.4f} spread {spread:6.3f} bound {m['bound']:.3f}"
                  f" ({spread / m['bound']:.2f} of bound){'' if within else '  OVER'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
