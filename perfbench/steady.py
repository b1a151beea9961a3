"""Steadiness: repeat one workload in fresh processes and compare each
end-to-end metric's spread with its bound.

    python3 perfbench/steady.py --workload pit_skewed --runs 10 [--first-seed 1] [--trace 1]

Runs ``run.py`` once per seed (seeds first-seed .. first-seed+runs-1),
then prints, per metric, the median, the first and third quartiles
(``statistics.quantiles(n=4)``), the spread (Q3 - Q1) / median and the
metric's bound from BENCHMARK.json, plus the failed share of attempted
operations.  With ``--trace 1`` each seed also runs untraced, and the
tracing overhead is printed as the median over seeds of the traced
run's ``rows_per_s`` against the untraced one's on the same seed.
Every run's raw line goes to ``.perfbench_traces/steady_<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import quartiles  # noqa: E402


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode:
        print(p.stderr[-2000:], file=sys.stderr)
        raise SystemExit(1)
    r = json.loads(p.stdout.strip().splitlines()[-1])
    m = re.search(r"^phases: (.*)$", p.stderr, re.M)
    r.update(seed=seed, trace=trace, wall_s=time.perf_counter() - t0,
             phases=json.loads(m.group(1)) if m else None)
    return r


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench_traces",
                       f"steady_{args.workload}.jsonl")
    results, overhead = [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        pair = [run(args.workload, seed, bench["run_seconds"], 0)] \
            if args.trace else []
        r = run(args.workload, seed, bench["run_seconds"], args.trace)
        for x in pair + [r]:
            with open(log, "a") as f:
                f.write(json.dumps(x) + "\n")
        if pair:
            base = pair[0]["metrics"]["rows_per_s"]["value"]
            overhead.append(r["metrics"]["trace.rows_per_s"]["value"] / base - 1)
        results.append(r)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']}"
              f" failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items()),
              flush=True)
    print(f"{'metric':<16} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = quartiles(vals)
        b = bounds.get(name)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:<16} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} "
              f"{spread:>7.3f} {b if b is not None else '-':>6}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share per run: {sorted(shares)}; "
          f"all correct: {all(r['correct'] for r in results)}")
    if overhead:
        print(f"tracing overhead on rows_per_s (traced / untraced - 1, same "
              f"seed): median {statistics.median(overhead):+.3f} over "
              f"{len(overhead)} seeds: "
              + " ".join(f"{o:+.3f}" for o in overhead))
    return 0


if __name__ == "__main__":
    sys.exit(main())
