"""Cross-revision output equality: run every declared query of
``__spark_entry__.queries()`` under a git revision AND under the current
tree, each in its own subprocess (so module caches cannot mix), and
print per-query row-digest equality as JSON lines.

The revision is exported with ``git archive`` into a temporary directory
(no worktree metadata is left behind). Each side runs on every core this
process may use (``os.sched_getaffinity``).

Usage: python tools/compare_revs.py <rev> [--sf SF_DIR]
(--sf defaults to $SPARK_GRAFT_SF_DIR, the data dir bench.py reads)
Exit status: 0 all queries match, 1 some differ, 2 a side failed to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import hashlib, json, sys
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as e
from agr_loader_spark.session import get_spark
spark = get_spark("compare-revs", cores=int(sys.argv[4]))
spark.sparkContext.setLogLevel("ERROR")
out = {}
for name, fn in e.queries().items():
    try:
        df = fn(spark, sys.argv[2])
        rows = sorted(json.dumps(r.asDict(recursive=True), default=str, sort_keys=True)
                      for r in df.collect())
        out[name] = {"rows": len(rows), "cols": df.columns,
                     "sha": hashlib.sha256("\n".join(rows).encode()).hexdigest()}
    except Exception as ex:
        out[name] = {"err": f"{type(ex).__name__}: {ex}"[:300]}
with open(sys.argv[3], "w") as f:
    json.dump(out, f)
spark.stop()
"""


def _digests(tree: str, label: str, sf_dir: str, cores: int, tmp: str) -> dict | None:
    outf = os.path.join(tmp, f"{label}.json")
    # an older tree may still default to rewriting the host's loopback
    # congestion control; never let a comparison run do that
    env = dict(os.environ, SPARK_GRAFT_LOOPBACK_CC_FIX="0")
    r = subprocess.run([sys.executable, "-c", WORKER, tree, sf_dir, outf, str(cores)],
                       cwd=tree, env=env, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stderr[-2000:], file=sys.stderr)
        return None
    with open(outf) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("rev", help="git revision to compare the current tree against")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="scale-factor data dir (default: $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    if not args.sf:
        ap.error("pass --sf or set SPARK_GRAFT_SF_DIR")
    cores = len(os.sched_getaffinity(0))
    tmp = tempfile.mkdtemp(prefix="compare_revs_")
    try:
        old_tree = os.path.join(tmp, "rev")
        os.makedirs(old_tree)
        archive = subprocess.run(["git", "archive", args.rev], cwd=REPO,
                                 capture_output=True, check=True).stdout
        subprocess.run(["tar", "-x", "-C", old_tree], input=archive, check=True)
        old = _digests(old_tree, "old", args.sf, cores, tmp)
        new = _digests(REPO, "new", args.sf, cores, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if old is None or new is None:
        return 2
    mismatched = 0
    for name in sorted(set(old) | set(new)):
        o, n = old.get(name), new.get(name)
        ok = o == n and "err" not in (o or {})
        mismatched += not ok
        print(json.dumps({"query": name, "match": ok,
                          **({} if ok else {"old": o, "new": n})}))
    print(json.dumps({"rev": args.rev, "sf": args.sf, "n_queries": len(new),
                      "all_match": mismatched == 0}))
    return 1 if mismatched else 0


if __name__ == "__main__":
    raise SystemExit(main())
