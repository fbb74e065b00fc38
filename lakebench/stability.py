"""Run one workload N times, each in a fresh process with its own seed,
and print, per metric, the median, the quartiles, the IQR as a share of
the median and (max-min)/median, next to the metric's bound in
BENCHMARK.json.

    python3 lakebench/stability.py --workload table_churn --runs 10 --first-seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    section = "per_layer" if args.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in spec[section]}

    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        details = json.loads(lines[-2][len("# details "):]) if len(lines) > 1 else {}
        runs.append({"seed": seed, "wall_s": wall, "result": result, "details": details})
        values = {k: round(m["value"], 4) for k, m in result["metrics"].items()}
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} canary_ms={details.get('canary_ms')} "
              f"steal_pct={details.get('steal_pct')} session_ms={details.get('session_ms')} {values}",
              flush=True)

    print(f"\n{args.workload}, {len(runs)} runs, seeds {args.first_seed}-{args.first_seed + len(runs) - 1}")
    print("| metric | unit | median | q1 | q3 | iqr/median | (max-min)/median | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for name in bounds:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        unit = runs[0]["result"]["metrics"][name]["unit"]
        s = spread(values)
        print(f"| {name} | {unit} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
              f"{s['iqr_rel']:.3f} | {s['range_rel']:.3f} | {bounds[name]} |")
    shares = {r["result"]["failed"] / r["result"]["attempted"] for r in runs}
    print(f"failed share per run: {sorted(shares)}; mean wall {sum(r['wall_s'] for r in runs) / len(runs):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
