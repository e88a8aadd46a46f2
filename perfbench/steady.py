"""Steadiness check: run one workload repeatedly, each time in a fresh
process with another seed, and print each metric's median and quartiles
against its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload corpus_qc --runs 10 [--seed0 1] \
        [--trace 0|1] [--out results.json]

The spread is (q3 - q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``. A metric is steady when its spread
is below its bound, and comfortably so below a third of it. Per-run
figures from each run's detail line (per-operation times, host steal)
are summarised the same way, without a bound. Run from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--size", default="full")
    p.add_argument("--out", default=None)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}

    runs = []
    for i in range(args.runs):
        seed = args.seed0 + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace),
               "--size", args.size]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
        runs.append({"seed": seed, "process_s": wall, "detail": detail, **result})
        m = {k: round(v["value"], 3) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              f"steal={detail.get('host_steal_share')} {m if len(m) <= 8 else ''}",
              flush=True)

    print(f"\n{args.workload}: {len(runs)} runs, trace={args.trace}")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in runs[0]["metrics"]:
        med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in runs])
        bound = bounds.get(name)
        flag = "" if bound is None else ("ok" if sp < bound / 3 else
                                         "WIDE" if sp < bound else "OVER")
        print(f"{name:34} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f} "
              f"{'' if bound is None else bound:>6} {flag}")
    print("detail:")
    for name, v in runs[0]["detail"].items():
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            med, q1, q3, sp = spread([float(r["detail"][name]) for r in runs])
            print(f"  {name:32} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f}")
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share per run: {sorted(shares)}; all correct: "
          f"{all(r['correct'] for r in runs)}; process wall median "
          f"{statistics.median(r['process_s'] for r in runs):.1f}s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
