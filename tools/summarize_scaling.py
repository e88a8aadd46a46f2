"""Summarize a scaling jsonl (BENCH/scaling_*.jsonl):
per-config medians and the N->4N efficiency. Usage:

    python tools/summarize_scaling.py BENCH/scaling_final.jsonl
"""

import json
import statistics
import sys


def main(path: str) -> int:
    rows = [json.loads(l) for l in open(path) if l.strip()]
    # the v2/v3 protocols emit per-leg records with a `clean` noise
    # verdict plus one `pair` record per accepted clean pair; the
    # protocol statistic there is the median of clean-pair efficiencies
    pairs = [r for r in rows if "pair" in r]
    # v3 dirty PAIR records also carry clean:false — they are counted in
    # dirty_pairs_discarded, not as discarded legs
    dirty = [r for r in rows if "clean" in r and not r["clean"] and "pair" not in r]
    rows = [r for r in rows if "executors" in r and r.get("clean", True)
            and r.get("result")]
    by_exec: dict[int, list] = {}
    for r in rows:
        by_exec.setdefault(int(r["executors"]), []).append(r["result"])
    summary = {}
    for e, rs in sorted(by_exec.items()):
        walls = [x["wall_seconds"] for x in rs]
        eps = [x["events_per_sec"] for x in rs]
        summary[e] = {
            "reps": len(rs),
            "wall_median_s": round(statistics.median(walls), 2),
            "wall_spread_s": [min(walls), max(walls)],
            "events_per_sec_median": round(statistics.median(eps), 1),
        }
    out = {"configs": summary}
    execs = sorted(summary)
    if len(execs) == 2:
        lo, hi = execs
        ratio = hi / lo
        eff = (
            summary[hi]["events_per_sec_median"]
            / summary[lo]["events_per_sec_median"]
            / ratio
        )
        out["scaling"] = {
            "from_executors": lo, "to_executors": hi,
            "efficiency_median": round(eff, 3),
        }
    clean_pairs = [p for p in pairs if p.get("clean", True)
                   and p.get("efficiency") is not None]
    if clean_pairs:
        effs = sorted(p["efficiency"] for p in clean_pairs)
        out["clean_pairs"] = {
            "n": len(effs),
            "efficiencies": effs,
            "efficiency_median": round(statistics.median(effs), 3),
            "dirty_pairs_discarded": len(pairs) - len(clean_pairs),
            "dirty_legs_discarded": len(dirty),
        }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "BENCH/scaling_final.jsonl"))
