"""LakeTable — Iceberg-semantics keyed table on hash-bucketed parquet.

The sandbox has no Iceberg runtime jars, so the engine keeps the sink
behind this thin table abstraction (SURVEY.md §7.0): snapshot manifests +
copy-on-write ``merge`` give the same externally observable semantics as
``MERGE INTO ... ON t.key = s.key`` against an Iceberg table partitioned
by ``bucket(N, key)``. On a cluster with Iceberg available, ``merge``
maps 1:1 onto Iceberg's MERGE and the manifest collapses into snapshot
summary properties.

Reference semantics re-expressed here (SURVEY.md §2.2):
- node-label uniqueness constraints (src/etl/helpers/neo4j_helper.py:59-126)
  -> declared merge key; every commit preserves key uniqueness;
- `MERGE ... ON CREATE SET` / `SET` / `DETACH DELETE`
  (src/etl/bgi_etl.py:99-115, src/etl/allele_etl.py:142-144,
  src/etl/disease_etl.py:238-248) -> a single upsert/delete changeset per
  micro-batch, routed by an ``__op`` column;
- `LOAD CSV ... IN TRANSACTIONS of 10000 ROWS` batched commits
  (src/etl/bgi_etl.py:91-117) -> one atomic snapshot per micro-batch;
- the unbounded requeue-retry sink (src/transactors/neo4j_transactor.py:108-118)
  -> exactly-once: each commit carries an ``epoch_key``; re-applying an
  already-committed epoch is a metadata no-op (idempotent commit
  manifest, BASELINE.json north_rule);
- pre-created constraints/indexes (src/aggregate_loader.py:254-256) ->
  the bucket spec declared at table create time.

Scale design (the part that must hold at 10^10 events / 100 TB):
- state is bucketed by ``pmod(xxhash64(key), n_buckets)``; a micro-batch
  rewrites ONLY the buckets its keys hash into (copy-on-write at bucket
  granularity), so merge cost is O(touched state) not O(total state);
- every copy-on-write commit (``merge``, ``merge_arrow``,
  ``delete_where``, ``compact``) is one bucket fold (lake/arrow_merge.py):
  the changeset is shuffled by the same hash that lays out the table, and
  each fold task reads its bucket's state directly, resolves LWW and
  writes the new bucket file — the state side never shuffles, like an
  Iceberg storage-partitioned join, and each bucket's data is bounded
  (state_size / n_buckets);
- merge-on-read delta files resolve per bucket with the fold's own LWW
  kernel (arrow_merge.read_bucket_state), in ``read`` and in every
  copy-on-write fold, ``compact`` included;
- schema evolution is metadata-only (field-id mapping, no data rewrite),
  exactly like Iceberg: old files are read through a projection that
  renames/casts/nulls by field id.

Single-writer per table is assumed (the runner is a sequential epoch
loop; the reference's analog is its hard group barriers,
src/aggregate_loader.py:188-219); a stale handle's commit raises
``CommitConflict`` before it writes anything.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Any, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import ddl_to_type

OP_COL = "__op"
BUCKET_COL = "__bucket"
MERGE_LSN = "__merge_lsn"  # constant lsn of a one-row-per-key changeset
LINEAGE_LOG = "_lineage.jsonl"


class CommitConflict(RuntimeError):
    """Another handle committed since this handle's snapshot: reload the
    table (LakeTable.load) and retry; the epoch key keeps the retry
    exactly-once."""


def _read_current(root: str) -> int:
    with open(os.path.join(root, "_current")) as f:
        return int(f.read().strip())


def _resolve_lineage(lineage: dict | None) -> dict:
    """Callers may pass deferred lineage values (zero-arg callables, e.g.
    an ``Observation`` read) that are only valid AFTER the commit's write
    action ran — resolve them here, at the post-action lineage build."""
    return {k: (v() if callable(v) else v) for k, v in (lineage or {}).items()}


def _fold_manifests(rows: list) -> list:
    """The fold's manifest rows, checked to name each bucket once: two
    rows for one bucket mean the changeset reached the fold without its
    bucket partitioning, and the second file would silently replace
    the first."""
    buckets = [int(r["bucket"]) for r in rows]
    if len(set(buckets)) != len(buckets):
        raise RuntimeError("bucket fold saw a bucket in more than one partition: "
                           "the changeset must be prepared (prepare_changes)")
    return rows


def spark_hash_int(v: np.ndarray) -> np.ndarray:
    """Spark's ``hash(int)`` (Murmur3_x86_32 of one 4-byte int, seed
    42), as int32 — the function HashPartitioning applies to an int
    expression."""
    def rotl(x, r):
        return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

    k = np.asarray(v, dtype=np.int32).view(np.uint32)
    k = rotl(k * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
    h = rotl(np.uint32(42) ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(4)
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h.view(np.int32)


def fold_salts(p: int) -> np.ndarray:
    """For each partition i in [0, p): the smallest non-negative int v
    with pmod(hash(v), p) == i, so ``repartition(p, salt)`` sends a row
    salted with entry i to partition i."""
    n = 64 * p
    while True:
        # np.mod by a positive divisor is non-negative, like Spark's pmod
        hit, first = np.unique(np.mod(spark_hash_int(np.arange(n)), p),
                               return_index=True)
        if len(hit) == p:
            return first
        n *= 2


def _phase_sums(manifests: list) -> dict:
    """Sum the fold's per-bucket phase columns for the commit record."""
    from .arrow_merge import PHASE_COLS

    return {c: round(sum(r[c] for r in manifests), 4) for c in PHASE_COLS}


@dataclass
class ColumnSpec:
    id: int
    name: str
    type: str  # spark DDL string
    src_field: str | None = None  # event payload field feeding this column

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type, "src_field": self.src_field}

    @staticmethod
    def from_json(d: dict) -> "ColumnSpec":
        return ColumnSpec(d["id"], d["name"], d["type"], d.get("src_field"))


def _atomic_write(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, manifest: dict):
        self.spark = spark
        self.root = root
        self._m = manifest

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        columns: Sequence[tuple[str, str, str | None]],
        key: str,
        n_buckets: int = 32,
        if_not_exists: bool = False,
    ) -> "LakeTable":
        """columns: (name, ddl_type, src_field). Analog of the up-front
        constraint/index DDL (src/etl/helpers/neo4j_helper.py:54-196):
        declare the merge key + bucket layout before any load."""
        if os.path.exists(os.path.join(root, "_current")):
            if if_not_exists:
                return cls.load(spark, root)
            raise FileExistsError(root)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        specs = [ColumnSpec(i + 1, n, t, s) for i, (n, t, s) in enumerate(columns)]
        names = [c.name for c in specs]
        if key not in names:
            raise ValueError(f"merge key {key!r} not among columns {names}")
        manifest = {
            "snapshot_id": 0,
            "parent": None,
            "epoch_key": None,
            "operation": "create",
            "key": key,
            "n_buckets": n_buckets,
            "next_field_id": len(specs) + 1,
            "schema_version": 0,
            "schema_versions": {"0": [c.to_json() for c in specs]},
            "buckets": {},
            "applied_epochs": [],
            "lineage": [],
        }
        t = cls(spark, root, manifest)
        t._commit(manifest)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        sid = _read_current(root)
        with open(os.path.join(root, "snapshots", f"{sid}.json")) as f:
            return cls(spark, root, json.load(f))

    # ------------------------------------------------------------- metadata
    @property
    def key(self) -> str:
        return self._m["key"]

    @property
    def n_buckets(self) -> int:
        return self._m["n_buckets"]

    @property
    def snapshot_id(self) -> int:
        return self._m["snapshot_id"]

    def columns(self, version: int | None = None) -> list[ColumnSpec]:
        v = self._m["schema_version"] if version is None else version
        return [ColumnSpec.from_json(d) for d in self._m["schema_versions"][str(v)]]

    def _schema_versions(self) -> dict[int, list[ColumnSpec]]:
        return {int(v): self.columns(int(v)) for v in self._m["schema_versions"]}

    def spark_schema(self):
        from pyspark.sql import types as T

        return T.StructType(
            [T.StructField(c.name, ddl_to_type(c.type)) for c in self.columns()]
        )

    def applied_epochs(self) -> set[str]:
        return set(self._m["applied_epochs"])

    def lineage(self) -> list[dict]:
        """Per-commit lineage rows (source offsets -> snapshot id), in
        commit order.

        Lineage lives in an APPEND-ONLY side log (`_lineage.jsonl`),
        not inside the snapshot manifest: a manifest that embeds its
        full lineage history makes every commit write O(history) bytes
        — quadratic over a replay, ruinous at 10^10 events with
        thousands of commits (Iceberg keeps snapshot history out of
        the table metadata's hot path the same way). Rows are appended
        BEFORE the manifest pointer flips, so a crash between the two
        leaves an orphan row for a never-committed snapshot; readers
        drop rows with snapshot_id > current, and a retried commit
        re-appends under the SAME snapshot id (epoch replay is ordered,
        so the retried epoch gets the same parent snapshot) — last
        occurrence wins. Rows from the manifest's legacy in-line list
        (pre-side-log tables) are kept for compatibility."""
        out = list(self._m["lineage"])
        cur = self.snapshot_id
        by_sid: dict[int, dict] = {}
        order: list[int] = []
        for d in self._lineage_rows():
            sid = d.get("snapshot_id")
            if sid is None or int(sid) > cur:
                continue  # crash orphan: appended, never committed
            sid = int(sid)
            if sid not in by_sid:
                order.append(sid)
            by_sid[sid] = d
        out.extend(by_sid[s] for s in order)
        return out

    def completed_epochs(self) -> set[int]:
        """Epochs whose FINAL segment committed — the replay runner stamps
        ``epoch_final`` into the last data segment's lineage row, and its
        resume fast path prunes these epochs from the planning scan (the
        binlog's epoch partitions are immutable once fully applied)."""
        out: set[int] = set()
        for r in self.lineage():
            k = r.get("epoch_key")
            if r.get("epoch_final") and k:
                try:
                    out.add(int(str(k).split(":", 1)[0]))
                except ValueError:
                    pass
        return out

    def _lineage_rows(self) -> list[dict]:
        """Raw parsed side-log rows, cached per (mtime_ns, size): a caller
        looping snapshot_for_epoch over thousands of epochs would
        otherwise re-open and re-json-parse the whole log per lookup —
        O(commits²) IO over a replay's worth of commits. The stat
        signature invalidates on every append (our own or a concurrent
        writer's)."""
        path = os.path.join(self.root, LINEAGE_LOG)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return []
        sig = (st.st_mtime_ns, st.st_size)
        cached = getattr(self, "_lineage_cache", None)
        if cached is not None and cached[0] == sig:
            return cached[1]
        rows = []
        with open(path) as f:
            for line in f:
                if line.strip():
                    rows.append(json.loads(line))
        self._lineage_cache = (sig, rows)
        return rows

    def _append_lineage(self, lin: dict) -> None:
        """Append one lineage row to the side log (fsync'd so the row is
        durable before the manifest commit that references it)."""
        with open(os.path.join(self.root, LINEAGE_LOG), "a") as f:
            f.write(json.dumps(lin, default=str) + "\n")
            f.flush()
            os.fsync(f.fileno())

    # ----------------------------------------------------------------- read
    def _bucket_expr(self, key_col):
        return F.pmod(F.xxhash64(key_col), F.lit(self.n_buckets)).cast("int")

    def read(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """Current state under the current schema. Old-schema files are
        projected by field id (rename/widen/null-fill) — metadata-only
        evolution, no rewrite (Iceberg-style). Buckets carrying MOR
        delta files (merge_delta) are LWW-resolved by the fold's own
        kernel (arrow_merge.read_bucket_state), one ``mapInArrow`` task
        per group of buckets and no shuffle, until a commit or compact()
        collapses them."""
        cur = self.columns()
        sel_buckets = self._m["buckets"]
        if buckets is not None:
            want = {str(b) for b in buckets}
            sel_buckets = {b: fs for b, fs in sel_buckets.items() if b in want}
        if any(fe.get("kind") == "delta" for fs in sel_buckets.values() for fe in fs):
            from ..zipcache import keep_zip_directory_cache
            from .arrow_merge import read_bucket_state

            # plain locals only: the task closure must not capture self
            root, key, versions = self.root, self.key, self._schema_versions()
            files = [fs for fs in sel_buckets.values() if fs]

            def resolve(batches):  # input: indexes into ``files``
                keep_zip_directory_cache()
                for batch in batches:
                    for i in batch.column(0).to_pylist():
                        yield from read_bucket_state(files[i], versions, cur, root,
                                                     key, OP_COL).to_batches()

            p = min(len(files), self.spark.sparkContext.defaultParallelism)
            return self.spark.range(len(files), numPartitions=p) \
                .mapInArrow(resolve, self.spark_schema())
        by_version: dict[int, list[str]] = {}
        for files in sel_buckets.values():
            for fe in files:
                by_version.setdefault(fe["schema_version"], []).append(
                    os.path.join(self.root, fe["path"])
                )
        frames = []
        for v, paths in by_version.items():
            old = {c.id: c for c in self.columns(v)}
            raw = self.spark.read.parquet(*paths)
            proj = []
            for c in cur:
                o = old.get(c.id)
                if o is None:
                    proj.append(F.lit(None).cast(c.type).alias(c.name))
                else:
                    proj.append(F.col(o.name).cast(c.type).alias(c.name))
            frames.append(raw.select(*proj))
        if not frames:
            return self.spark.createDataFrame([], self.spark_schema())
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf)
        return out

    # ---------------------------------------------------------------- merge
    def merge(
        self,
        changes: DataFrame,
        epoch_key: str,
        lineage: dict | None = None,
        touched_buckets: Sequence[int] | None = None,
        mode: str = "lww",  # "lww" | "insert_if_absent" | "update_only"
    ) -> dict:
        """Apply one micro-batch changeset atomically, exactly once.

        ``changes`` must have one row per key (the LWW reduce guarantees
        this — Iceberg likewise rejects duplicate source keys in MERGE)
        with columns = current table columns + ``__op`` in {'U','D'};
        ``mode`` routes the rows as in arrow_merge.make_bucket_fold.
        The changeset commits through the bucket fold (merge_arrow)
        under one constant lsn: with one row per key no two batch rows
        compete, and every batch row outranks its key's state row, so
        the constant is exact. Only buckets containing
        changed keys are rewritten; ``touched_buckets`` lets the caller
        supply the bucket set from a stats pass it already ran.
        """
        return self.merge_arrow(
            changes.withColumn(MERGE_LSN, F.lit(0).cast("long")), epoch_key,
            lsn_col=MERGE_LSN, lineage=lineage,
            touched_buckets=touched_buckets, mode=mode,
        )

    # per-fold-task row budget: keeps the fold task's Arrow
    # working set bounded (~a few hundred MB) independent of commit
    # interval, so large segments amortize the per-commit floor WITHOUT
    # spilling small executors (the 12M-event-epoch spill in
    # BENCH/BASELINE.md). Beyond n_buckets tasks the unit of fold
    # granularity is exhausted — at that point the production knob is a
    # larger n_buckets, not more partitions.
    ROWS_PER_FOLD_TASK = 600_000
    # minimum rows to justify an extra fold task on sparse segments (each
    # task costs a python-worker round-trip + a parquet open/write)
    SPARSE_FOLD_ROWS = 1024
    # state buckets one sparse fold task may rewrite (see fold_partitions)
    SPARSE_FOLD_BUCKETS_PER_TASK = 2

    def fold_partitions(self, n_touched: int, n_rows: int | None = None) -> int:
        """Fold task granularity: one wave of cores (wave_mult x cores;
        default 1) bumped so per-task rows stay under ROWS_PER_FOLD_TASK
        (spill-aware), but never more than the touched-bucket count (each
        extra task is an Arrow round-trip). Default 1: with the BALANCED
        bucket->partition placement below every partition carries an
        equal bucket count, so the straggler insurance extra waves used
        to buy is gone while their per-task fixed cost (python worker
        round-trip + a parquet open/write per task) remains — measured
        interleaved at local[32]/64 buckets/4M events: wave_mult 1 walls
        [17.3, 16.6, 14.6] vs wave_mult 4 [20.4, 18.4, 17.5], a ~10% win,
        3/3 adjacent pairs (BENCH/BASELINE.md round-4 fold-wave note).
        bench.py re-verifies with a wave_mult=4 probe rep every run.
        Hot-BUCKET skew (not hot keys — those hash-spread) is the case
        extra waves still help; env-tunable for that and for
        measurement."""
        cores = self.spark.sparkContext.defaultParallelism
        want = int(os.environ.get("SPARK_FOLD_WAVE_MULT", "1")) * cores
        if n_rows:
            want = max(want, -(-int(n_rows) // self.ROWS_PER_FOLD_TASK))
            # sparse cap (CDC trickle regime): when the whole segment is
            # smaller than one wave's worth of minimum-sized tasks, a
            # full wave is pure fixed cost — e.g. a 100-row update-only
            # patch paying 32 python-worker round-trips + 32 parquet
            # opens. Cap tasks at ~SPARSE_FOLD_ROWS rows each so tiny
            # segments fold in O(1) tasks. A segment with at least
            # SPARSE_FOLD_ROWS rows per task of the full wave (wave_mult
            # included, since sparse >= want disables the cap) keeps its
            # steady-state plan. The cap is FLOORED by the table's
            # state-carrying buckets: each fold task also rewrites its
            # buckets' existing files, so collapsing a 100-row trickle
            # over a LARGE table into one task would serialize up to
            # n_buckets full state rewrites — the changeset being tiny
            # says nothing about the state volume. Buckets-with-state
            # comes straight from the manifest.
            sparse = -(-int(n_rows) // self.SPARSE_FOLD_ROWS)
            if sparse < want:
                n_state = sum(1 for f in self._m["buckets"].values() if f)
                state_floor = -(-min(n_state, n_touched)
                                // self.SPARSE_FOLD_BUCKETS_PER_TASK)
                want = min(want, max(sparse, state_floor))
        return max(1, min(n_touched, want))

    def project_changes(self, changes: DataFrame, lsn_col: str, columns=None,
                        keep: Sequence[str] = ()) -> DataFrame:
        """Stage-1 projection of a changeset: cast to the current schema
        (or to ``columns``, a future schema the runner's prefetch plans
        under), the ``__op`` column, the lsn as long, the ``keep``
        columns as they are, and the ``__bucket`` column."""
        cur = self.columns() if columns is None else columns
        return changes.select(
            *[F.col(c.name).cast(c.type).alias(c.name) for c in cur],
            F.col(OP_COL),
            F.col(lsn_col).cast("long").alias(lsn_col),
            *[F.col(c) for c in keep],
        ).withColumn(BUCKET_COL, self._bucket_expr(F.col(self.key)))

    def balanced_fold_repartition(
        self, df: DataFrame, n_touched: int, n_rows: int | None = None
    ) -> DataFrame:
        """Place a projected changeset for the bucket fold, BALANCED:
        bucket b goes to partition b % p, so every partition carries
        ceil(touched/p) buckets instead of the ~2x spread of hashing a
        few dozen small bucket ids (the fold wave's straggler tail).
        Spark's repartition cannot place by value — HashPartitioning
        re-hashes the expression — so each bucket is mapped to the salt
        that Spark's hash sends to partition b % p (fold_salts)."""
        p = self.fold_partitions(n_touched, n_rows)
        if p <= 1:
            return df.repartition(1)
        salts = fold_salts(p)
        by_bucket = F.array(*[F.lit(int(salts[b % p])) for b in range(self.n_buckets)])
        return df.repartition(p, F.element_at(by_bucket, F.col(BUCKET_COL) + 1))

    def prepare_changes(self, changes: DataFrame, lsn_col: str, n_touched: int,
                        n_rows: int | None = None) -> DataFrame:
        """Stage-1 of the bucket fold as a standalone frame: the
        projection, placed for the fold."""
        return self.balanced_fold_repartition(
            self.project_changes(changes, lsn_col), n_touched, n_rows)

    def merge_arrow(
        self,
        changes: DataFrame,
        epoch_key: str,
        lsn_col: str,
        lineage: dict | None = None,
        touched_buckets: Sequence[int] | None = None,
        prepared: bool = False,
        mode: str = "lww",  # "lww" | "insert_if_absent" | "update_only"
        precombined: bool = False,
    ) -> dict:
        """Two-stage Arrow-native merge (see lake/arrow_merge.py) — the
        one copy-on-write commit path.

        ``changes`` carries current columns + ``__op`` + ``lsn_col`` and
        need NOT be pre-reduced: LWW (incl. re-delivery dedup) happens
        inside the bucket fold, so the caller's whole pipeline is
        scan -> project -> one shuffle -> fold/write. ``mode`` routes
        the per-key winner (arrow_merge.make_bucket_fold):
        ``'insert_if_absent'`` keeps existing rows' payloads,
        ``'update_only'`` patches matched keys only (no insert branch).
        Touched buckets that carry merge-on-read delta files are
        resolved in the fold and end as one base file, as after a
        compact().
        ``precombined=True``: ``changes`` went through
        arrow_merge.precombine_lww (one winner row per key per map
        partition) — requires ``prepared=True``. The local collapse
        erased re-delivery multiplicity, so the commit records no
        ``n_duplicates_dropped`` rather than a false zero, and
        ``n_upserts`` counts the upserts the fold applied.
        """
        from .arrow_merge import MERGE_MODES

        if mode not in MERGE_MODES:
            raise ValueError(f"unknown merge mode {mode!r}")
        if precombined and not prepared:
            raise ValueError("precombined changesets must arrive prepared "
                             "(combine + repartition happen upstream)")
        return self._commit_fold(
            changes, epoch_key, lsn_col, lineage, touched_buckets, prepared,
            mode=mode, precombined=precombined,
        )

    def merge_delta(
        self,
        changes: DataFrame,
        epoch_key: str,
        lsn_col: str,
        lineage: dict | None = None,
        touched_buckets: Sequence[int] | None = None,
        prepared: bool = False,
    ) -> dict:
        """Write-optimized MERGE-ON-READ commit (Hudi-MOR / Paimon-LSM
        analog; see arrow_merge.make_bucket_fold's delta mode): the micro-batch
        is LWW-reduced within itself and APPENDED as per-bucket delta
        files — existing state is never read, so ingest cost is
        O(batch) with zero read amplification and the sink scales as
        pure writes. read() resolves LWW across base+deltas by
        (__lsn, __seq); compact() and any copy-on-write commit collapse
        touched buckets back to base files. Same exactly-once manifest
        commit as merge_arrow."""
        return self._commit_fold(changes, epoch_key, lsn_col, lineage,
                                 touched_buckets, prepared, mode="delta",
                                 operation="merge-delta")

    def _commit_fold(
        self,
        changes: DataFrame,
        epoch_key: str,
        lsn_col: str,
        lineage: dict | None,
        touched_buckets: Sequence[int] | None,
        prepared: bool,
        mode: str,
        precombined: bool = False,
        operation: str = "merge-arrow",
    ) -> dict:
        """The one fold commit body: run the bucket fold over the touched
        buckets, then commit its manifests atomically and exactly once.
        Copy-on-write replaces each folded bucket's file list; ``mode
        'delta'`` (merge-on-read) appends a delta entry instead."""
        from .arrow_merge import MANIFEST_SCHEMA, make_bucket_fold

        if epoch_key in self.applied_epochs():
            return {"skipped": True, "epoch_key": epoch_key, "snapshot_id": self.snapshot_id}
        if touched_buckets is None:
            if not prepared:
                changes = self.prepare_changes(changes, lsn_col, self.n_buckets)
                prepared = True
            touched_buckets = [
                r[0] for r in changes.select(BUCKET_COL).distinct().collect()
            ]
        touched = sorted(int(b) for b in touched_buckets)
        if not touched:
            return self._commit_noop(epoch_key, lineage)
        delta = mode == "delta"
        if not prepared:
            changes = self.prepare_changes(changes, lsn_col, len(touched))

        m = self._child_manifest(operation, epoch_key)
        new_sid = m["snapshot_id"]
        fold = make_bucket_fold(
            root=self.root,
            stage_rel=os.path.join("data", str(new_sid)),
            key=self.key,
            current=self.columns(),
            schema_versions=self._schema_versions(),
            bucket_files={} if delta else {
                b: self._m["buckets"].get(str(b), []) for b in touched},
            op_col=OP_COL,
            lsn_col=lsn_col,
            bucket_col=BUCKET_COL,
            mode=mode,
            precombined=precombined,
            seq=new_sid,
        )
        # the prepared partitioning puts every row of a bucket in one
        # partition, so the fold is a narrow map: no second shuffle here.
        _tj = time.monotonic()
        manifests = _fold_manifests(changes.mapInArrow(fold, MANIFEST_SCHEMA).collect())
        sec_job = round(time.monotonic() - _tj, 4)

        sv = self._m["schema_version"]
        new_buckets = dict(self._m["buckets"])
        per_bucket = {}
        for r in manifests:
            b = str(int(r["bucket"]))
            if delta:
                if r["path"] is not None:
                    new_buckets[b] = list(new_buckets.get(b, [])) + [
                        {"path": r["path"], "schema_version": sv,
                         "kind": "delta", "seq": new_sid}]
            else:
                new_buckets[b] = [] if r["path"] is None else [
                    {"path": r["path"], "schema_version": sv}]
            # per-partition lineage: source-offset range absorbed by this
            # bucket in this commit (north rule: offset -> snapshot id)
            per_bucket[b] = {"min_lsn": int(r["min_lsn"]),
                             "max_lsn": int(r["max_lsn"])}

        lin = _resolve_lineage(lineage)
        lin.update(
            {
                "epoch_key": epoch_key,
                "snapshot_id": new_sid,
                "n_upserts": sum(int(r["n_upserts"]) for r in manifests),
                "n_deletes": sum(int(r["n_deletes"]) for r in manifests),
                # actual touched set (buckets that received rows), not the
                # caller's declared superset — the replay runner declares
                # all buckets
                "buckets_touched": sorted(int(r["bucket"]) for r in manifests),
                "per_bucket_offsets": per_bucket,
            }
        )
        if not precombined:
            # EXACT re-delivery dedup count, measured where the dedup
            # happens (the bucket fold). A precombined changeset lost its
            # copies in the map-local combine: no count beats a false zero.
            lin["n_duplicates_dropped"] = sum(int(r["n_dups"]) for r in manifests)
        m["buckets"] = new_buckets
        self._append_lineage(lin)
        self._commit(m)
        self._m = m
        # sec_job isolates the Spark job wall from the driver turn around
        # it (plan build + manifest bookkeeping) — the per-commit fixed
        # floor decomposition in BENCH/BASELINE.md reads these fields;
        # the fold's phase sums split the job's Python time
        return {"skipped": False, "sec_job": sec_job,
                **_phase_sums(manifests), **lin}

    def compact(self, buckets: Sequence[int] | None = None,
                epoch_key: str | None = None) -> dict:
        """Collapse MOR delta files back to one base file per bucket: a
        copy-on-write fold commit over the delta-carrying buckets that
        carries no live batch rows — one null-key marker row per bucket,
        which the fold drops — so each bucket's resolving state read
        (arrow_merge.read_bucket_state) becomes its single base file and
        tombstoned keys vanish physically. No-op if the selected buckets
        carry no deltas. The maintenance analog of Iceberg/Hudi
        compaction; run it when read amplification (delta files per
        bucket) exceeds the read-path budget."""
        want = None if buckets is None else {int(b) for b in buckets}
        touched = sorted(
            int(b) for b, fs in self._m["buckets"].items()
            if (want is None or int(b) in want)
            and any(fe.get("kind") == "delta" for fe in fs)
        )
        if not touched:
            return {"skipped": True, "reason": "no delta files",
                    "snapshot_id": self.snapshot_id}
        markers = self.spark.createDataFrame([(b,) for b in touched], f"{BUCKET_COL} int") \
            .select(*[F.lit(None).cast(c.type).alias(c.name) for c in self.columns()],
                    F.lit(None).cast("string").alias(OP_COL),
                    F.lit(-1).cast("long").alias(MERGE_LSN), BUCKET_COL)
        return self._commit_fold(
            self.balanced_fold_repartition(markers, len(touched)),
            epoch_key or f"compact:{self.snapshot_id + 1}", MERGE_LSN, None,
            touched, prepared=True, mode="lww", operation="compact",
        )

    def audit_changes(
        self, changes: DataFrame, audit_path: str | None = None
    ) -> DataFrame:
        """K11 dry-run sink: classify a changeset against CURRENT state
        without committing anything — the engine's answer to the
        reference's CSV staging hop, where every would-be mutation is a
        file a human can inspect before the DB load
        (src/transactors/csv_transactor.py:14-57). Returns one row per
        change: (__op, <key>, bucket, action) with action in
        {insert, update, delete, delete_absent}; ``audit_path`` persists
        the audit frame as parquet for offline review.

        Scale: reads only the buckets the changeset touches and joins
        just the key column (left join on co-hashed keys), so the audit
        costs O(changeset + touched-bucket keys), not O(state)."""
        s = changes.select(
            F.col(self.key), F.col(OP_COL),
            self._bucket_expr(F.col(self.key)).alias("bucket"),
        )
        touched = [r[0] for r in s.select("bucket").distinct().collect()]
        existing = self.read(buckets=touched).select(
            F.col(self.key), F.lit(True).alias("__matched")
        )
        out = (
            s.join(existing, self.key, "left")
            .select(
                OP_COL, self.key, "bucket",
                F.when((F.col(OP_COL) == "D") & F.col("__matched").isNotNull(), "delete")
                .when(F.col(OP_COL) == "D", "delete_absent")
                .when(F.col("__matched").isNotNull(), "update")
                .otherwise("insert")
                .alias("action"),
            )
        )
        if audit_path is not None:
            out.write.mode("overwrite").parquet(audit_path)
            out = self.spark.read.parquet(audit_path)
        return out

    def delete_where(self, predicate, epoch_key: str,
                     lineage: dict | None = None) -> dict:
        """Predicate-conditional delete: remove every current row whose
        payload satisfies ``predicate`` (a SQL string or Column over the
        table's columns) — `MERGE ... WHEN MATCHED AND <pred> THEN
        DELETE` / the reference's `MATCH ... WHERE <pred> DETACH DELETE`
        empty-node sweep (src/etl/disease_etl.py:238-248). Epoch-keyed,
        exactly-once, atomic like every other commit.

        Three-valued logic: rows where the predicate evaluates NULL are
        KEPT (only predicate IS TRUE deletes). Scale: one stats pass
        finds the buckets containing matches; the matching keys then
        commit as 'D' rows through the bucket fold (merge), so only
        those buckets are rewritten.
        """
        if epoch_key in self.applied_epochs():
            return {"skipped": True, "epoch_key": epoch_key, "snapshot_id": self.snapshot_id}
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(cond, F.lit(False))

        state = self.read().withColumn(BUCKET_COL, self._bucket_expr(F.col(self.key)))
        touched = sorted(
            int(r[BUCKET_COL])
            for r in state.filter(hit).select(BUCKET_COL).distinct().collect()
        )
        if not touched:
            return self._commit_noop(epoch_key, lineage)
        doomed = self.read(buckets=touched).filter(hit).withColumn(OP_COL, F.lit("D"))
        return self.merge(doomed, epoch_key, lineage=lineage, touched_buckets=touched)

    def _commit_noop(self, epoch_key: str, lineage: dict | None) -> dict:
        m = self._child_manifest("merge-noop", epoch_key)
        # deferred lineage values are NOT resolved here: a noop commit ran
        # no action, so an Observation-backed callable would block forever
        lin = {k: (None if callable(v) else v) for k, v in (lineage or {}).items()}
        lin.update({"epoch_key": epoch_key, "snapshot_id": m["snapshot_id"],
                    "n_upserts": 0, "n_deletes": 0, "buckets_touched": []})
        self._append_lineage(lin)
        self._commit(m)
        self._m = m
        return {"skipped": False, **lin}

    # ------------------------------------------------------ schema evolution
    def _evolve(self, epoch_key: str | None, mutate) -> dict:
        """Metadata-only schema commit (Iceberg ALTER TABLE analog,
        SURVEY.md §2.7/§4.4). Idempotent under epoch_key for resume."""
        if epoch_key is not None and epoch_key in self.applied_epochs():
            return {"skipped": True, "epoch_key": epoch_key, "snapshot_id": self.snapshot_id}
        m = self._child_manifest("evolve", epoch_key)
        new_sid = m["snapshot_id"]
        cols = mutate(m, self.columns())
        new_v = m["schema_version"] + 1
        m["schema_version"] = new_v
        m["schema_versions"][str(new_v)] = [c.to_json() for c in cols]
        if epoch_key is not None:
            # through the side log like every other commit path: keeps
            # evolve commits O(1) (no manifest growth), keeps lineage()
            # in true commit order when evolves interleave with merges,
            # and lets last-wins supersede a crash-orphan row whose
            # snapshot id this evolve consumes
            self._append_lineage({"epoch_key": epoch_key, "snapshot_id": new_sid,
                                  "operation": "evolve"})
        self._commit(m)
        self._m = m
        return {"skipped": False, "epoch_key": epoch_key, "snapshot_id": new_sid}

    def add_column(self, name: str, ddl_type: str, src_field: str | None = None,
                   epoch_key: str | None = None) -> dict:
        def mut(m, cols):
            if any(c.name == name for c in cols):
                raise ValueError(f"column {name!r} exists")
            fid = m["next_field_id"]
            m["next_field_id"] = fid + 1
            return cols + [ColumnSpec(fid, name, ddl_type, src_field)]

        return self._evolve(epoch_key, mut)

    def rename_column(self, old: str, new: str, epoch_key: str | None = None) -> dict:
        def mut(m, cols):
            hit = [c for c in cols if c.name == old]
            if not hit:
                raise ValueError(f"no column {old!r}")
            return [ColumnSpec(c.id, new if c.name == old else c.name, c.type, c.src_field)
                    for c in cols]

        return self._evolve(epoch_key, mut)

    def drop_column(self, name: str, epoch_key: str | None = None) -> dict:
        """Metadata-only drop (Iceberg ALTER TABLE ... DROP COLUMN): the
        field id disappears from the current schema; old files simply
        stop projecting it. The merge key cannot be dropped."""
        def mut(m, cols):
            if name == self.key:
                raise ValueError(f"cannot drop merge key {name!r}")
            if not any(c.name == name for c in cols):
                raise ValueError(f"no column {name!r}")
            return [c for c in cols if c.name != name]

        return self._evolve(epoch_key, mut)

    def widen_column(self, name: str, new_type: str, epoch_key: str | None = None) -> dict:
        _WIDEN_OK = {("int", "bigint"), ("int", "long"), ("float", "double"),
                     ("array<int>", "array<bigint>"), ("smallint", "int"),
                     ("smallint", "bigint")}

        def mut(m, cols):
            hit = [c for c in cols if c.name == name]
            if not hit:
                raise ValueError(f"no column {name!r}")
            old_t = hit[0].type
            if (old_t, new_type) not in _WIDEN_OK:
                raise ValueError(f"not a widening: {old_t} -> {new_type}")
            return [ColumnSpec(c.id, c.name, new_type if c.name == name else c.type, c.src_field)
                    for c in cols]

        return self._evolve(epoch_key, mut)

    # -------------------------------------------------------------- internals
    def _child_manifest(self, operation: str, epoch_key: str | None) -> dict:
        """The next snapshot's manifest; a stale handle raises
        CommitConflict here, before its commit writes anything."""
        self._ensure_current()
        m = json.loads(json.dumps(self._m))  # deep copy
        m["parent"] = self._m["snapshot_id"]
        m["snapshot_id"] = self._m["snapshot_id"] + 1
        m["operation"] = operation
        m["epoch_key"] = epoch_key
        if epoch_key is not None:
            m["applied_epochs"] = m["applied_epochs"] + [epoch_key]
        return m

    def _ensure_current(self) -> None:
        """Raise CommitConflict unless ``_current`` still names this
        handle's snapshot (two writers racing between this check and the
        pointer flip are not caught)."""
        sid = _read_current(self.root)
        if sid != self.snapshot_id:
            raise CommitConflict(
                f"{self.root}: current snapshot is {sid}, this handle holds "
                f"{self.snapshot_id}; reload the table and retry")

    def _commit(self, manifest: dict) -> None:
        """Write snapshot manifest, then atomically flip the _current
        pointer (os.replace). A crash before the flip leaves orphan data
        files that no manifest references — same failure model as
        Iceberg; a crash after the flip is a completed commit and the
        epoch_key makes any retry a no-op."""
        if manifest["parent"] is not None:
            self._ensure_current()
        sid = manifest["snapshot_id"]
        _atomic_write(os.path.join(self.root, "snapshots", f"{sid}.json"),
                      json.dumps(manifest, indent=1, default=str))
        _atomic_write(os.path.join(self.root, "_current"), str(sid))

    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """Maintenance (Iceberg expire_snapshots analog): delete manifest
        files and data directories referenced ONLY by snapshots older
        than the last ``keep_last``. Time travel to expired snapshots
        stops working (as in Iceberg); applied_epochs live in the current
        manifest and lineage in the ``_lineage.jsonl`` side log, so
        exactly-once and lineage are unaffected."""
        import shutil

        chain = []
        sid = self.snapshot_id
        while sid is not None:
            with open(os.path.join(self.root, "snapshots", f"{sid}.json")) as f:
                m = json.load(f)
            chain.append(m)
            sid = m["parent"]
        keep = chain[:keep_last]
        expire = chain[keep_last:]
        live_files = {
            fe["path"] for m in keep for fs in m["buckets"].values() for fe in fs
        }
        live_dirs = {p.split(os.sep)[1] for p in live_files if p.startswith("data")}
        removed_snapshots, removed_dirs = 0, 0
        for m in expire:
            os.remove(os.path.join(self.root, "snapshots", f"{m['snapshot_id']}.json"))
            removed_snapshots += 1
        data_root = os.path.join(self.root, "data")
        for d in os.listdir(data_root):
            if d not in live_dirs:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
                removed_dirs += 1
        # keep the chain walkable: the oldest kept snapshot becomes a root
        if expire and keep:
            oldest = keep[-1]
            oldest["parent"] = None
            _atomic_write(
                os.path.join(self.root, "snapshots", f"{oldest['snapshot_id']}.json"),
                json.dumps(oldest, indent=1, default=str),
            )
        return {"removed_snapshots": removed_snapshots, "removed_data_dirs": removed_dirs}

    def lookup(self, keys: Sequence) -> DataFrame:
        """Point lookup: read ONLY the buckets the keys hash into —
        O(|keys| * state/n_buckets) I/O, never a full-table scan. The
        analog of the reference's indexed `MATCH {primaryKey: ...}`
        probes (uniqueness-constraint index,
        src/etl/helpers/neo4j_helper.py:59-126); here the "index" is the
        bucket layout itself."""
        probe = self.spark.createDataFrame(
            [(k,) for k in keys], f"{self.key} {dict((c.name, c.type) for c in self.columns())[self.key]}"
        )
        buckets = [
            r[0] for r in probe.select(self._bucket_expr(F.col(self.key)).alias("b"))
            .distinct().collect()
        ]
        vals = [r[0] for r in probe.collect()]
        return self.read(buckets=buckets).filter(F.col(self.key).isin(vals))

    def changes_between(self, from_snapshot: int, to_snapshot: int) -> DataFrame:
        """Incremental changelog scan (Iceberg CDC-read analog): the NET
        per-key change between two committed snapshots, as rows shaped
        (__op in {'I','U','D'}, <current columns of the TO snapshot>).

        Scale: buckets whose manifest file lists are identical in both
        snapshots are skipped entirely (metadata-only pruning), so the
        diff reads O(changed buckets), not O(state). Old-snapshot rows
        are projected onto the TO schema by field id, so the diff is
        well-defined across schema evolution.
        """
        t_from = self.at_snapshot(from_snapshot)
        t_to = self.at_snapshot(to_snapshot)
        changed = [
            b for b in set(t_from._m["buckets"]) | set(t_to._m["buckets"])
            if t_from._m["buckets"].get(b) != t_to._m["buckets"].get(b)
        ]
        cur = t_to.columns()
        to_types = {c.name: c.type for c in cur}
        # project the FROM state onto the TO schema by field id
        from_by_id = {c.id: c for c in t_from.columns()}
        old = t_from.read(buckets=changed).select(
            *[
                (F.col(from_by_id[c.id].name) if c.id in from_by_id
                 else F.lit(None)).cast(c.type).alias(c.name)
                for c in cur
            ]
        )
        new = t_to.read(buckets=changed)
        names = [c.name for c in cur]
        non_key = [n for n in names if n != self.key]
        o = old.select(
            F.col(self.key).alias("__o_key"),
            *[F.col(n).alias(f"__o_{n}") for n in non_key],
        )
        j = new.join(o, new[self.key] == o["__o_key"], "full_outer")
        # null-safe per-column equality. NOT xxhash64 over the column
        # list: Spark's hash functions SKIP null inputs, so a row whose
        # values shift between columns null-compensatingly (colA 5->null
        # while colB null->5) would hash equal and silently vanish from
        # the changelog. A key-only table has no payload to differ on.
        if non_key:
            same = F.lit(True)
            for n in non_key:
                same = same & F.col(n).eqNullSafe(F.col(f"__o_{n}"))
        else:
            same = F.lit(True)
        op = (
            F.when(F.col("__o_key").isNull(), F.lit("I"))
            .when(F.col(self.key).isNull(), F.lit("D"))
            .when(same, F.lit(None))  # unchanged -> dropped below
            .otherwise(F.lit("U"))
        )
        return (
            j.select(
                op.alias(OP_COL),
                F.coalesce(F.col(self.key), F.col("__o_key")).alias(self.key),
                # deletes carry the OLD payload (tombstone with last value)
                *[
                    F.when(F.col(self.key).isNull(), F.col(f"__o_{n}"))
                    .otherwise(F.col(n)).cast(to_types[n]).alias(n)
                    for n in non_key
                ],
            )
            .filter(F.col(OP_COL).isNotNull())
        )

    def at_snapshot(self, snapshot_id: int) -> "LakeTable":
        """Time travel: a read view of the table as of an earlier commit
        (Iceberg VERSION AS OF). Every snapshot manifest is immutable, so
        this is just loading the old manifest; the returned table shares
        data files and must not be written to."""
        path = os.path.join(self.root, "snapshots", f"{snapshot_id}.json")
        with open(path) as f:
            return LakeTable(self.spark, self.root, json.load(f))

    def snapshot_for_epoch(self, epoch_key: str) -> int | None:
        """Lineage lookup: the snapshot a given micro-batch committed.
        Reads the lineage side log (see :meth:`lineage`)."""
        for lin in self.lineage():
            if lin.get("epoch_key") == epoch_key:
                return int(lin["snapshot_id"])
        return None

    def metrics_df(self) -> DataFrame:
        """The per-micro-batch metrics stream (<root>/_metrics.jsonl,
        emitted by the replay runner) as a queryable DataFrame — the
        engine-native version of the reference's end-of-run counter logs
        (src/etl/molecular_interaction_etl.py:648-676)."""
        path = os.path.join(self.root, "_metrics.jsonl")
        if not os.path.exists(path):
            return self.spark.createDataFrame(
                [], "epoch_key string, snapshot_id long, n_events long"
            )
        # leading-underscore files are invisible to Spark's file source
        # (metadata-file convention), and the stream is driver-local and
        # tiny (one line per micro-batch) — parse as a json-lines dataset
        with open(path) as f:
            lines = f.read().splitlines()
        return self.spark.read.json(self.spark.sparkContext.parallelize(lines, 1))

    def history(self) -> list[dict]:
        out = []
        sid = self.snapshot_id
        while sid is not None:
            with open(os.path.join(self.root, "snapshots", f"{sid}.json")) as f:
                m = json.load(f)
            out.append({"snapshot_id": m["snapshot_id"], "operation": m["operation"],
                        "epoch_key": m["epoch_key"], "schema_version": m["schema_version"]})
            sid = m["parent"]
        return list(reversed(out))
