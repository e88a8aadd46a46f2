"""ReplayRunner — ordered micro-batch replay of the change log.

The Spark-first re-expression of the reference's whole orchestration
stack (SURVEY.md §3.1): ordered ``etl_groups`` with hard barriers
(src/aggregate_loader.py:122-219), 10k-row generator/commit batches
(src/data_manager/data_type_config.py:20-21), the queued retry sink
(src/transactors/neo4j_transactor.py:27-125), and the CSV staging hop
(src/transactors/csv_transactor.py:14-57) — all collapsed into a
sequential epoch loop where each micro-batch is

    read epoch -> plan changeset -> shuffle by bucket -> bucket fold
    (re-delivery dedup + LWW + MERGE commit, exactly-once)

and job boundaries are the barriers. Epochs containing schema-change
events are split at each S event's lsn so evolution applies at exactly
its log position (a doc whose last pre-add update precedes the `add`
must NOT get the added column backfilled).

Exactly-once/resume: every segment commit carries epoch_key
``"{epoch}:{segment}"`` recorded in the table manifest; re-running any
prefix (crash, retry, full restart) is a metadata no-op. This is the
hardened version of the reference's unbounded requeue retry, which can
double-apply (tolerated there only because MERGE is idempotent;
SURVEY.md K10). The checkpoint IS the manifest: per-micro-batch lineage
rows map source offset ranges (min/max lsn) -> snapshot id.

Metrics per micro-batch (SURVEY.md A5, the analog of the reference's
resolved/unresolved counters, src/etl/molecular_interaction_etl.py:648-676)
are appended to ``<table_root>/_metrics.jsonl`` and returned.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import OP_COL, LakeTable
from ..operators.dedup import MIN_LSN_COL
from ..plans.merge import plan_changeset


class ReplayRunner:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        source_path: str | None = None,
        source_df: DataFrame | None = None,
        sink: str = "arrow",  # "arrow" (2-stage state-colocated COW) | "delta" (write-optimized MOR)
        precombine: bool | None = None,  # arrow sink only: map-LOCAL LWW combine (operators/dedup.py:precombine_lww, Arrow-vectorized mapInArrow — NOT a groupBy agg; see its docstring for why) collapses each map partition to one winner row per key BEFORE the bucket shuffle, cutting shuffled/folded payload bytes by the feed's update multiplicity (zipf: most event volume is LWW losers) with zero added exchanges and bounded per-task memory. Exact dedup counters move to the narrow planning pass (_plan). None (default) = on for the arrow sink, and bench.py re-verifies the claim every run with an uncombined probe rep rather than freezing it here (the r4 JVM-agg combine's "faster everywhere" claim was falsified by exactly such a probe; BENCH/BASELINE.md round-4 precombine section).
        exact_counts: bool = False,  # precombine mode only: the map-local combine erases re-delivery multiplicity before the fold, so exact n_upserts / n_duplicates_dropped need a two-level distinct-lsn aggregation in the planning pass — a full extra pass over the segment (~60 core-s per 34M events, measured round 4) paid for a metrics counter. Default OFF: lineage carries n_upserts_approx / n_duplicates_dropped_approx from approx_count_distinct folded into the same narrow planning agg (no extra shuffle, one expression), plus the fold-exact applied-upsert count as n_upserts. Turn on for audits where distinct-event counts must be exact. Uncombined runs always have exact counters — the fold measures them for free.
        pipeline: bool = False,  # async fold overlap: prefetch the next segment's scan+shuffle (schema-aware) under the current fold (the overlap win flips sign across hosts/topologies — r3 measured it +53% wall, the r4 host measured it faster; bench.py re-measures it with a probe rep every run)
        compact_at_end: bool = True,  # delta sink only: collapse MOR deltas to base files after the last segment (inside run(), so measured walls are apples-to-apples with the COW sink)
        prune_applied: bool = True,  # resume: skip fully-applied epochs BEFORE the planning scan (via the epoch_final lineage stamp), so resuming a 10^10-event replay near its end re-scans only the tail, not the whole log. Relies on the binlog invariant that an epoch partition is immutable once its final segment committed (events are lsn-total-ordered, so appending to an already-applied epoch would be out-of-order anyway). Set False for a source that violates it.
    ):
        if (source_path is None) == (source_df is None):
            raise ValueError("exactly one of source_path / source_df")
        self.spark = spark
        self.table = table
        self.source_path = source_path
        self.source_df = source_df
        if sink not in ("arrow", "delta"):
            raise ValueError(f"unknown sink {sink!r}")
        self.sink = sink
        if pipeline not in (True, False):
            raise ValueError(f"pipeline must be True/False, got {pipeline!r}")
        self.pipeline = pipeline
        if precombine is None:
            precombine = sink == "arrow"
        if precombine and sink != "arrow":
            raise ValueError("precombine is only supported on the arrow sink")
        self.precombine = precombine
        self.exact_counts = bool(exact_counts)
        self.compact_at_end = compact_at_end
        self.prune_applied = bool(prune_applied)

    # ------------------------------------------------------------------ source
    def _events(self) -> DataFrame:
        if self.source_df is not None:
            return self.source_df
        # epoch-partitioned parquet: the epoch filter below prunes to one
        # partition directory (no full-log scan per micro-batch). The
        # relation is built ONCE — a fresh read() per segment would
        # re-list the log directory and re-read parquet footers on every
        # micro-batch commit (driver-side fixed cost that scales with
        # log size, deadly on object stores).
        if getattr(self, "_source_rel", None) is None:
            self._source_rel = self.spark.read.parquet(self.source_path)
        return self._source_rel

    def list_epochs(self) -> list[int]:
        # fs fast path: for an epoch-partitioned parquet path the epoch
        # set is the partition directory names — O(epochs) listing, no
        # Spark job over the log's row count (a `select distinct` on a
        # partition column still generates every row in codegen)
        if self.source_path is not None:
            try:
                eps = sorted(
                    int(n.split("=", 1)[1])
                    for n in os.listdir(self.source_path)
                    if n.startswith("epoch=")
                )
                if eps:
                    return eps
            except (OSError, ValueError):
                pass  # non-local fs or unexpected layout: fall through
        return [
            r["epoch"]
            for r in self._events().select("epoch").distinct().orderBy("epoch").collect()
        ]

    # ------------------------------------------------------------------ replay
    def _plan(self, epochs: list[int] | None):
        """ONE planning pass for the whole replay: collect the (rare)
        schema events, then compute per-segment stats — offsets and
        counts — in a single grouped aggregation over the log. The replay
        loop then runs exactly one Spark job per micro-batch (the merge
        write); nothing else touches the cluster.

        The stats scan touches ONLY (epoch, event_lsn, op) — fixed-width
        ints plus a 1-char string. doc_id (the widest hot column after
        the payload) is never decoded: the bucket fold counts dedup
        EXACTLY and the fold manifests record the actual touched-bucket
        set, so at 10^10 events the planning pass stays narrow."""
        ev = self._events()
        if epochs is not None:
            ev = ev.filter(F.col("epoch").isin(epochs))
        schema_rows = sorted(
            ev.filter(F.col("op") == "S")
            .select("epoch", "event_lsn", "schema_change").collect(),
            key=lambda r: r["event_lsn"],
        )
        bounds_by_epoch: dict[int, list] = {}
        for r in schema_rows:
            bounds_by_epoch.setdefault(r["epoch"], []).append(r)

        # data segment index: 2 * (# schema events of the same epoch below
        # this lsn) — matches the 0,(1),2,(3),4… numbering where odd
        # segments are the schema commits themselves.
        seg_expr = F.lit(0)
        for r in schema_rows:
            seg_expr = seg_expr + F.when(
                (F.col("epoch") == r["epoch"]) & (F.col("event_lsn") > r["event_lsn"]), 2
            ).otherwise(0)
        data = ev.filter(F.col("op") != "S")
        if self.precombine and self.exact_counts:
            # the map-LOCAL combine (operators/dedup.py:precombine_lww)
            # collapses LWW losers before the fold ever sees them, so the
            # fold can no longer count re-deliveries. Measure them HERE,
            # exactly, in the same narrow planning scan: level 1 groups by
            # (epoch, seg, lsn) — a binlog lsn names one event, so copies
            # of an lsn are re-deliveries and collapse map-side in the
            # partial aggregation — level 2 counts distinct events and
            # distinct U-events per segment. All codegen HashAggregate
            # (primitive buffers only); the extra shuffle carries one
            # ~30-byte row per distinct lsn, once per replay. That shuffle
            # is why this is OPT-IN (exact_counts=True): one row per
            # distinct event is O(n) rows — narrow, but measured ~60
            # core-s per 34M-event segment at 4 executors, a full extra
            # pass paid for a metrics counter (BENCH/BASELINE.md r4).
            lvl1 = data.groupBy(
                "epoch", seg_expr.alias("seg"), "event_lsn"
            ).agg(
                F.count("*").alias("copies"),
                # int flag, not max(op): a string agg buffer is not a
                # mutable-primitive type, which would silently demote the
                # whole level-1 aggregation to SortAggregate (per-partition
                # sort) — tests/test_plans.py gates this stays HashAggregate
                F.max(
                    F.when(F.col("op") == "D", 1).otherwise(0)
                ).alias("is_d"),  # copies of an lsn are identical events
            )
            aggs = [
                F.sum("copies").alias("n_events"),
                F.min("event_lsn").alias("min_lsn"),
                F.max("event_lsn").alias("max_lsn"),
                F.count("*").alias("n_unique"),
                # changeset op mapping (plans/merge.py): everything
                # non-delete becomes an upsert
                F.sum(F.when(F.col("is_d") == 0, 1).otherwise(0)).alias("n_unique_u"),
            ]
            stats_rows = lvl1.groupBy("epoch", "seg").agg(*aggs).collect()
        else:
            aggs = [
                F.count("*").alias("n_events"),
                F.min("event_lsn").alias("min_lsn"),
                F.max("event_lsn").alias("max_lsn"),
            ]
            if self.precombine:
                # default (approx) counters for precombined runs: the
                # combine erases re-delivery multiplicity before the fold,
                # so approximate it here. An lsn names one event, so
                # distinct-lsn needs no doc_id decode — these two extra
                # expressions ride the same narrow segment-stats partial
                # aggregation (HLL sketch buffers, no extra shuffle),
                # compatible with the planning pass's 3-column scan.
                # rsd 0.02 default: the dup estimate is n_events -
                # distinct_estimate, so its absolute error is
                # rsd * n_events — at typical re-delivery rates (<1%)
                # the sign is informative, the magnitude only to a few %
                # of the segment. The rsd is the planning pass's main
                # cost knob: Spark's HLL++ update slows superlinearly as
                # registers grow (measured on the 4M-event bench log:
                # the two sketches cost 3.6 s at rsd 0.01, 0.9 s at
                # 0.02, 0.5 s at 0.03 — a fixed per-replay tax on every
                # commit interval). Audits that need tighter counters
                # can set SPARK_GRAFT_PLAN_HLL_RSD or go fully exact
                # with exact_counts=True (a full extra pass).
                rsd = float(os.environ.get("SPARK_GRAFT_PLAN_HLL_RSD",
                                           "0.02"))
                aggs += [
                    F.approx_count_distinct("event_lsn", rsd)
                    .alias("n_unique_approx"),
                    F.approx_count_distinct(
                        F.when(F.col("op") != "D", F.col("event_lsn")), rsd
                    ).alias("n_unique_u_approx"),
                ]
            stats_rows = data.groupBy("epoch", seg_expr.alias("seg")).agg(*aggs).collect()
        exact = self.precombine and self.exact_counts
        stats = {
            (r["epoch"], r["seg"]): {
                "n_events": r["n_events"],
                "min_lsn": r["min_lsn"],
                "max_lsn": r["max_lsn"],
                "n_unique": r["n_unique"] if exact else None,
                "n_unique_u": r["n_unique_u"] if exact else None,
                "n_unique_approx": (
                    r["n_unique_approx"] if self.precombine and not exact else None
                ),
                "n_unique_u_approx": (
                    r["n_unique_u_approx"] if self.precombine and not exact else None
                ),
            }
            for r in stats_rows
        }
        all_epochs = sorted({e for e, _ in stats} | set(bounds_by_epoch))
        return all_epochs, bounds_by_epoch, stats

    def _op_list(self, all_epochs, bounds_by_epoch):
        """Flatten the replay into an ordered op list:
        ("data", epoch, seg, lo_lsn, hi_lsn) and ("schema", epoch, seg, row)."""
        ops = []
        for epoch in all_epochs:
            schema_events = bounds_by_epoch.get(epoch, [])
            bounds = [r["event_lsn"] for r in schema_events]
            seg, lo = 0, None
            for i, b in enumerate(bounds + [None]):
                ops.append(("data", epoch, seg, lo, b))
                seg += 1
                if b is not None:
                    ops.append(("schema", epoch, seg, schema_events[i]))
                    seg += 1
                    lo = b
        return ops

    def _changeset_base(self, columns=None) -> DataFrame:
        """The segment-independent prefix of the arrow-sink plan —
        scan -> changeset projection -> schema cast -> bucket column —
        built ONCE per table schema version and cached. Per segment only
        a 3-predicate filter + the fold repartition go on top (~10 py4j
        calls instead of ~100): at micro-batch cadence the driver-side
        expression rebuild was a measurable slice of the fixed
        per-commit floor (BENCH/BASELINE.md), and none of it depends on
        the segment bounds. Invalidated on schema evolution (the cast
        projection embeds the current columns). ``columns`` builds the
        base under an EXPLICIT (future) column spec instead — used by
        the prefetch path, uncached."""
        sv = self.table._m["schema_version"]
        if columns is None:
            cached = getattr(self, "_base_cache", None)
            if cached is not None and cached[0] == sv:
                return cached[1]
        from ..lake.table import BUCKET_COL

        cur = columns if columns is not None else self.table.columns()
        data = self._events().filter(F.col("op") != "S")
        changes = plan_changeset(data, self.table, keep_cols=["event_lsn", "epoch"],
                                 columns=cur)
        base = changes.select(
            *[F.col(c.name).cast(c.type).alias(c.name) for c in cur],
            F.col(OP_COL),
            F.col("event_lsn").cast("long").alias("event_lsn"),
            F.col("epoch"),
        ).withColumn(BUCKET_COL, self.table._bucket_expr(F.col(self.table.key)))
        if columns is None:
            self._base_cache = (sv, base)
        return base

    def _segment_prepared(self, epoch: int, lo, hi, n_touched: int,
                          n_rows: int | None = None, columns=None) -> DataFrame:
        """Segment slice of the cached base, shuffled for the fold. The
        filter sits BELOW the repartition by construction, so the
        epoch-partition pruning still reaches the scan and the shuffle
        carries only this segment's rows."""
        base = self._changeset_base(columns=columns)
        cond = F.col("epoch") == epoch
        if lo is not None:
            cond = cond & (F.col("event_lsn") > lo)
        if hi is not None:
            cond = cond & (F.col("event_lsn") < hi)
        seg = base.filter(cond).drop("epoch")
        if self.precombine:
            from ..operators.dedup import precombine_lww

            seg = precombine_lww(seg, key=self.table.key, op_col=OP_COL,
                                 lsn_col="event_lsn")
        return self.table.balanced_fold_repartition(seg, n_touched, n_rows)

    def _touched(self, st) -> list[int]:
        """Touched-bucket set declared for a segment's stats row: ALL
        buckets (the fold manifests then record the actual set; an
        undeclared bucket with no rows gets no manifest row, so its state files
        carry forward untouched), none for a segment without events."""
        return [] if st is None else list(range(self.table.n_buckets))

    def _n_touched(self, st) -> int:
        """Fold-granularity estimate for a segment: len(_touched) capped
        by the segment's row count — a sparse segment cannot touch more
        buckets than it has rows, and without the cap every tiny segment
        would get n_buckets fold partitions (mostly empty Arrow
        round-trips)."""
        if st is None:
            return 0
        return min(self.table.n_buckets, int(st["n_events"]))

    @staticmethod
    def _future_cols(cols, sc) -> list:
        """Simulate a schema-change event's effect on a column-spec list
        (names/types only — field ids are irrelevant to stage-1
        projection). Lets the prefetch plan a segment under the schema
        the table WILL have after the intervening schema commits, so
        async fold overlap works across schema boundaries too (in the
        scaling log every data-segment boundary IS a schema event)."""
        from ..lake.table import ColumnSpec

        kind = sc["kind"]
        if kind == "add":
            return list(cols) + [ColumnSpec(-1, sc["column"], sc["new_type"], sc["src_field"])]
        if kind == "rename":
            return [ColumnSpec(c.id, sc["new_name"] if c.name == sc["column"] else c.name,
                               c.type, c.src_field) for c in cols]
        if kind == "widen":
            return [ColumnSpec(c.id, c.name,
                               sc["new_type"] if c.name == sc["column"] else c.type,
                               c.src_field) for c in cols]
        if kind == "drop":
            return [c for c in cols if c.name != sc["column"]]
        raise ValueError(f"unknown schema change kind {kind!r}")

    def _prepare(self, epoch: int, seg: int, lo, hi, stats, columns):
        """Stage-1 (scan -> project -> shuffle, balanced fold layout) of
        a data segment, materialized via DISK_ONLY persist. Runs on the
        prefetch thread so the NEXT micro-batch's shuffle overlaps the
        current one's fold: the fold's straggler-wave tail leaves cores
        idle that this fills (pure compute, no commit — exactly-once is
        untouched; a crash just discards cache). DISK_ONLY keeps the
        prefetched rows out of executor storage memory (they'd evict
        the fold's execution memory on small executors); on a warm host
        the disk is the page cache anyway."""
        from pyspark import StorageLevel

        st = stats.get((epoch, seg))
        prepared = self._segment_prepared(
            epoch, lo, hi, self._n_touched(st),
            int(st["n_events"]) if st is not None else None,
            columns=columns,
        )
        prepared = prepared.persist(StorageLevel.DISK_ONLY)
        prepared.count()  # materialize scan + shuffle
        return prepared

    def plan(self, epochs: list[int] | None = None):
        """Precompute the replay plan (segment offsets/stats + schema
        events) without applying anything. The returned opaque object can
        be passed to :meth:`run` to skip its planning pass — for stepped
        replay (``stop_after=1`` in a loop) over a STATIC log, where
        re-planning every step would re-scan the log O(steps) times.
        A live tail must NOT reuse a plan: new epochs would be missed."""
        return self._plan(epochs)

    def run(self, epochs: list[int] | None = None, stop_after: int | None = None,
            plan=None) -> list[dict]:
        """Replay epochs in order; skip already-committed segments.
        ``stop_after`` = crash-injection point for resume tests (number of
        segment commits to perform before stopping). ``plan`` = a
        precomputed :meth:`plan` result (static-log stepping only)."""
        import concurrent.futures as cf

        pruned_records: list[dict] = []
        if plan is None and epochs is None and self.prune_applied:
            # resume fast path: epochs whose FINAL segment committed (the
            # epoch_final lineage stamp below) need no re-plan — synthesize
            # their per-segment skip records from lineage and scan only the
            # remaining epochs. Turns resume/no-op cost from O(log) into
            # O(remaining) + O(commit history).
            done = self.table.completed_epochs()
            if done:
                avail = self.list_epochs()
                keep = [e for e in avail if e not in done]
                if len(keep) < len(avail):
                    in_log = set(avail)
                    seen: set[str] = set()
                    for r in self.table.lineage():
                        k = r.get("epoch_key")
                        if not k or k in seen:
                            continue
                        seen.add(k)
                        try:
                            e = int(str(k).split(":", 1)[0])
                        except ValueError:
                            continue
                        if e in done and e in in_log:
                            pruned_records.append(
                                {"epoch_key": k, "skipped": True, "pruned": True}
                            )
                    self._emit({"operation": "plan_prune",
                                "epochs_pruned": len(avail) - len(keep),
                                "segments_pruned": len(pruned_records)})
                    if not keep:
                        return pruned_records
                    epochs = keep

        if plan is not None:
            all_epochs, bounds_by_epoch, stats = plan
        else:
            _tp = time.monotonic()
            all_epochs, bounds_by_epoch, stats = self._plan(epochs)
            # metrics-only record (not a segment): how much of the leg the
            # one-time planning pass costs — read by the scaling decomposition
            self._emit({"operation": "plan", "seconds": round(time.monotonic() - _tp, 4)})
        ops = self._op_list(all_epochs, bounds_by_epoch)
        # last data segment per epoch: its commit stamps epoch_final into
        # lineage, which is what completed_epochs() above keys on
        last_data_seg: dict[int, int] = {}
        for _op in ops:
            if _op[0] == "data":
                last_data_seg[_op[1]] = _op[2]
        all_metrics: list[dict] = pruned_records
        committed = 0
        futures: dict[tuple[int, int], cf.Future] = {}
        pool = cf.ThreadPoolExecutor(max_workers=1) if self.pipeline else None
        try:
            for i, op in enumerate(ops):
                if pool is not None and op[0] == "data":
                    # prefetch the NEXT data segment, planning it under
                    # the schema the table will have once any schema
                    # events in between commit (simulated metadata-only)
                    cols = self.table.columns()
                    for nxt in ops[i + 1:]:
                        if nxt[0] == "schema":
                            cols = self._future_cols(cols, nxt[3]["schema_change"])
                            continue
                        _, ne, ns, nlo, nhi = nxt
                        if (ne, ns) not in futures and \
                                f"{ne}:{ns}" not in self.table.applied_epochs():
                            futures[(ne, ns)] = pool.submit(
                                self._prepare, ne, ns, nlo, nhi, stats, cols
                            )
                        break
                if op[0] == "data":
                    _, epoch, seg, lo, hi = op
                    fut = futures.pop((epoch, seg), None)
                    prepared = None
                    if fut is not None:
                        try:
                            prepared = fut.result()
                        except Exception:
                            prepared = None
                    if prepared is not None:
                        # defensive: the prefetch planned under a SIMULATED
                        # schema — consume it only if it matches reality
                        want = [c.name for c in self.table.columns()]
                        have = [c for c in prepared.columns
                                if c not in (OP_COL, "event_lsn")
                                and not c.startswith("__bucket")
                                and c != MIN_LSN_COL]
                        if have != want:
                            prepared.unpersist()
                            prepared = None
                    m = self._apply_data_segment(
                        epoch, seg, lo, hi, stats.get((epoch, seg)), prepared,
                        epoch_final=(last_data_seg.get(epoch) == seg),
                    )
                else:
                    _, epoch, seg, row = op
                    m = self._apply_schema_event(epoch, seg, row)
                all_metrics.append(m)
                if not m.get("skipped"):
                    committed += 1
                if stop_after is not None and committed >= stop_after:
                    break
            else:
                # full replay (no crash-inject break): delta sink folds
                # its deferred merge cost here so a measured MOR run ends
                # in the same read-optimized state a COW run does
                if self.sink == "delta" and self.compact_at_end:
                    t0 = time.monotonic()
                    c = dict(self.table.compact())
                    if not c.get("skipped"):
                        c["operation"] = "compact"
                        c["seconds"] = round(time.monotonic() - t0, 4)
                        self._emit(c)
                        all_metrics.append(c)
            return all_metrics
        finally:
            for fut in futures.values():
                fut.cancel()
                if fut.done() and not fut.cancelled() and fut.exception() is None:
                    try:
                        fut.result().unpersist()
                    except Exception:
                        pass
            if pool is not None:
                pool.shutdown(wait=False)

    def _apply_data_segment(self, epoch: int, seg: int, lo, hi, stats,
                            prepared: DataFrame | None = None,
                            epoch_final: bool = False) -> dict:
        epoch_key = f"{epoch}:{seg}"
        t0 = time.monotonic()
        if epoch_key in self.table.applied_epochs():
            if prepared is not None:
                prepared.unpersist()
            return {"epoch_key": epoch_key, "skipped": True}
        n_events = int(stats["n_events"]) if stats is not None else 0
        lineage = {
            "min_lsn": int(stats["min_lsn"]) if stats is not None else None,
            "max_lsn": int(stats["max_lsn"]) if stats is not None else None,
            "n_events": n_events,
        }
        if epoch_final:
            # marks the epoch fully applied — the resume fast path
            # (run()'s plan_prune) keys on this to skip the epoch's
            # partition in the next planning scan
            lineage["epoch_final"] = True
        if self.precombine and stats is not None and \
                stats.get("n_unique_u") is not None:
            # the local combine erased re-delivery multiplicity before the
            # fold; the planning pass counted it exactly (see _plan) —
            # merge_arrow substitutes these for the fold-summed counters
            lineage["n_upserts_exact"] = int(stats["n_unique_u"])
            lineage["n_dups_exact"] = max(
                0, n_events - int(stats["n_unique"])
            )
        elif self.precombine and stats is not None and \
                stats.get("n_unique_approx") is not None:
            # default precombined mode: distinct-event counts are approx
            # (HLL in the planning agg); n_upserts stays exact but counts
            # APPLIED upserts (fold winners written), not distinct U
            # events — merge() drops the unmeasurable fold dup counter
            # when it sees counters_precombined (lake/table.py)
            lineage["counters_precombined"] = True
            lineage["n_upserts_approx"] = int(stats["n_unique_u_approx"])
            lineage["n_duplicates_dropped_approx"] = max(
                0, n_events - int(stats["n_unique_approx"])
            )
        touched = self._touched(stats)
        if prepared is None:
            prepared = self._segment_prepared(epoch, lo, hi,
                                              self._n_touched(stats),
                                              n_events or None)
        if self.sink == "delta":
            # MOR: the fold appends delta files without ever reading
            # bucket state
            result = self.table.merge_delta(
                prepared, epoch_key=epoch_key, lsn_col="event_lsn",
                lineage=lineage, touched_buckets=touched, prepared=True,
            )
        else:
            # LWW + re-delivery dedup happen inside the bucket fold; the
            # JVM side is scan -> project -> one shuffle
            result = self.table.merge_arrow(
                prepared, epoch_key=epoch_key, lsn_col="event_lsn",
                lineage=lineage, touched_buckets=touched, prepared=True,
                precombined=self.precombine,
            )
        prepared.unpersist()
        result["seconds"] = round(time.monotonic() - t0, 4)
        self._emit(result)
        return result

    def _apply_schema_event(self, epoch: int, seg: int, row) -> dict:
        epoch_key = f"{epoch}:{seg}"
        t0 = time.monotonic()
        sc = row["schema_change"]
        kind = sc["kind"]
        if kind == "add":
            r = self.table.add_column(sc["column"], sc["new_type"],
                                      src_field=sc["src_field"], epoch_key=epoch_key)
        elif kind == "rename":
            r = self.table.rename_column(sc["column"], sc["new_name"], epoch_key=epoch_key)
        elif kind == "widen":
            r = self.table.widen_column(sc["column"], sc["new_type"], epoch_key=epoch_key)
        elif kind == "drop":
            r = self.table.drop_column(sc["column"], epoch_key=epoch_key)
        else:
            raise ValueError(f"unknown schema change kind {kind!r}")
        r = dict(r)
        r.update({"operation": f"evolve:{kind}", "at_lsn": int(row["event_lsn"]),
                  "seconds": round(time.monotonic() - t0, 4)})
        if not r.get("skipped"):
            self._emit(r)
        return r

    def _emit(self, metrics: dict) -> None:
        path = os.path.join(self.table.root, "_metrics.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(metrics, default=str) + "\n")
