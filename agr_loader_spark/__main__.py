"""CLI entry point: generate and/or replay a change log into a lake table.

Deployment surface per BASELINE.json: ``spark-submit --py-files
agr_loader_spark.zip -m`` style execution. Locally::

    spark-submit --master local[8] replay.py --workdir /tmp/run \
        --events 100000 --docs 10000
    # or equivalently
    python -m agr_loader_spark --workdir /tmp/run --events 100000

Re-running the same command is a no-op (exactly-once manifest);
``--stop-after N`` injects a crash after N commits to demo resume.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="agr_loader_spark")
    p.add_argument("--workdir", required=True, help="directory for binlog + table")
    p.add_argument("--binlog", default=None, help="override binlog path (share across runs)")
    p.add_argument("--table", default=None, help="override table path")
    p.add_argument("--events", type=int, default=100_000)
    p.add_argument("--docs", type=int, default=10_000)
    p.add_argument("--epoch-size", type=int, default=10_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--stop-after", type=int, default=None,
                   help="crash-inject: stop after N segment commits")
    p.add_argument("--no-schema-changes", action="store_true")
    p.add_argument("--sink", choices=["arrow", "delta"], default="arrow",
                   help="merge path: 2-stage Arrow state-colocated COW fold "
                        "(default) or write-optimized merge-on-read delta "
                        "sink (state never read during ingest; compacted "
                        "after the last segment)")
    p.add_argument("--pipeline", nargs="?", const="on", default="off",
                   choices=["off", "on"],
                   help="async fold overlap: prefetch the next segment's "
                        "scan+shuffle (schema-aware) under the current fold. "
                        "Bare --pipeline == on")
    p.add_argument("--warmup", action="store_true",
                   help="run a small throwaway replay first so the timed run "
                        "measures steady-state (JIT/codegen warmed), as a "
                        "long-running 10^10-event replay would be")
    args = p.parse_args(argv)

    from .generator import generate_binlog
    from .lake.table import LakeTable
    from .schema import TOKENS_MERGE_KEY, TOKENS_TABLE_COLUMNS
    from .session import get_spark
    from .streaming.runner import ReplayRunner

    pipeline_mode = args.pipeline == "on"
    spark = get_spark("agr-loader-spark-replay", cores=args.cores)
    binlog = args.binlog or os.path.join(args.workdir, "binlog")
    table_root = args.table or os.path.join(args.workdir, "tokens_table")

    if not os.path.exists(binlog):
        print(f"generating binlog: {args.events} events / {args.docs} docs -> {binlog}",
              file=sys.stderr)
        generate_binlog(
            spark, n_events=args.events, n_docs=args.docs, epoch_size=args.epoch_size,
            seed=args.seed, with_schema_changes=not args.no_schema_changes,
        ).write.partitionBy("epoch").parquet(binlog)

    if args.warmup:
        import shutil
        import tempfile

        wdir = tempfile.mkdtemp(prefix="warmup_")
        wt = LakeTable.create(spark, os.path.join(wdir, "t"), TOKENS_TABLE_COLUMNS,
                              key=TOKENS_MERGE_KEY, n_buckets=args.n_buckets)
        wlog = generate_binlog(spark, n_events=400_000, n_docs=50_000,
                               epoch_size=200_000, seed=7)
        ReplayRunner(spark, wt, source_df=wlog, sink=args.sink,
                     pipeline=pipeline_mode).run()
        shutil.rmtree(wdir, ignore_errors=True)

    table = LakeTable.create(
        spark, table_root, TOKENS_TABLE_COLUMNS, key=TOKENS_MERGE_KEY,
        n_buckets=args.n_buckets, if_not_exists=True,
    )
    runner = ReplayRunner(spark, table, source_path=binlog, sink=args.sink,
                          pipeline=pipeline_mode)
    t0 = time.monotonic()
    metrics = runner.run(stop_after=args.stop_after)
    wall = time.monotonic() - t0

    # count only source-op records: run() also appends the delta sink's
    # compact record, which is neither an applied nor a skippable segment
    # — counting it would break segments_applied/skipped bookkeeping
    # across re-runs
    seg_metrics = [m for m in metrics if m.get("operation") != "compact"]
    applied = [m for m in seg_metrics if not m.get("skipped")]
    skipped = len(seg_metrics) - len(applied)
    n_events = sum(m.get("n_events", 0) for m in applied)
    final = LakeTable.load(spark, table_root)
    state = final.read()
    summary = {
        "segments_applied": len(applied),
        "segments_skipped": skipped,
        "events_processed": n_events,
        "wall_seconds": round(wall, 2),
        "events_per_sec": round(n_events / wall, 1) if wall > 0 else None,
        "final_rows": state.count(),
        "final_columns": [c.name for c in final.columns()],
        "snapshot_id": final.snapshot_id,
        "schema_version": final._m["schema_version"],
        # deploy-surface evidence: which cluster manager actually ran this
        # (spark-submit's --master must survive get_spark; see session.py)
        "master": spark.sparkContext.master,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
