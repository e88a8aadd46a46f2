#!/usr/bin/env python3
"""Per-segment N-vs-4N decomposition from preserved replay metrics.

The round-3 scaling campaign copied each leg's ``_metrics.jsonl`` into
BENCH/segmetrics_r3v2/rep{N}_{e}exec.jsonl. This pairs them up and
reports, per data segment: wall on each leg, per-segment parallel
efficiency, and the residual (wall minus the sum of segment seconds =
planning pass + schema commits + inter-segment driver time), so the
protocol-level efficiency number can be split into "engine scaling" vs
"fixed floor" contributions.

Usage: python tools/analyze_segments.py [BENCH/segmetrics_r3v2] [rep]
"""

from __future__ import annotations

import json
import os
import sys


def load(path: str) -> list[dict]:
    return [json.loads(l) for l in open(path) if l.strip()]


def main(segdir: str, rep: str | None) -> int:
    reps = sorted({f.split("_")[0] for f in os.listdir(segdir)})
    if rep:
        reps = [r for r in reps if r == f"rep{rep}"]
    for r in reps:
        p1 = os.path.join(segdir, f"{r}_1exec.jsonl")
        p4 = os.path.join(segdir, f"{r}_4exec.jsonl")
        if not (os.path.exists(p1) and os.path.exists(p4)):
            continue
        rows1, rows4 = load(p1), load(p4)
        m1 = {d["epoch_key"]: d for d in rows1 if "epoch_key" in d}
        m4 = {d["epoch_key"]: d for d in rows4 if "epoch_key" in d}
        plan1 = sum(d["seconds"] for d in rows1 if d.get("operation") == "plan")
        plan4 = sum(d["seconds"] for d in rows4 if d.get("operation") == "plan")
        print(f"== {r}")
        if plan1 or plan4:
            peff = plan1 / (4 * plan4) if plan4 else 0.0
            print(f"    plan pass         t1={plan1:7.1f}s t4={plan4:6.1f}s  eff={peff:.3f}")
        tot1 = tot4 = drv1 = drv4 = 0.0
        for k in sorted(m1, key=lambda x: tuple(map(int, x.split(":")))):
            d1, d4 = m1[k], m4.get(k, {})
            s1, s4 = d1.get("seconds"), d4.get("seconds")
            if s1 is None or s4 is None:
                op = d1.get("operation", "?")
                print(f"  {k:>6} {op:<14} (schema commit)")
                continue
            tot1 += s1
            tot4 += s4
            # sec_job isolates the Spark job wall from the driver commit
            # turn around it (plan build + manifest bookkeeping)
            j1, j4 = d1.get("sec_job"), d4.get("sec_job")
            if j1 is not None and j4 is not None:
                drv1 += s1 - j1
                drv4 += s4 - j4
            eff = s1 / (4 * s4) if s4 else 0.0
            print(f"  {k:>6} data  n={d1['n_events']:>9,}  "
                  f"t1={s1:7.1f}s t4={s4:6.1f}s  eff={eff:.3f}")
        if tot4:
            print(f"  data segments: t1={tot1:.1f}s t4={tot4:.1f}s "
                  f"eff={tot1 / (4 * tot4):.3f}")
            if drv1 or drv4:
                print(f"  driver commit turns (seconds - sec_job): "
                      f"t1={drv1:.1f}s t4={drv4:.1f}s")
    return 0


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else "BENCH/segmetrics_r3v2"
    raise SystemExit(main(d, sys.argv[2] if len(sys.argv) > 2 else None))
