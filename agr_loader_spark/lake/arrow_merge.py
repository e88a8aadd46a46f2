"""Arrow-native state-colocated MERGE — the engine's one commit fold
(every copy-on-write commit of LakeTable and every merge-on-read delta
append goes through make_bucket_fold below) and its one LWW kernel
(``lww_first``), which also resolves merge-on-read buckets for
``LakeTable.read`` (read_bucket_state).

A join-based merge expresses the upsert as winners-agg + semi-join +
full-outer join + repartition: ~8 stages per micro-batch, and at
micro-batch cadence the inter-stage barriers dominate wall time
(measured: ~2s of scheduling gaps per segment vs ~1.7s of work at 16
cores). This module collapses the whole merge into TWO stages:

  stage 1: scan the segment's events, project the changeset columns,
           hash-shuffle by target bucket (pmod(xxhash64(key), N) — the
           same function that lays out the table, so a batch row lands
           exactly where its state row lives);
  stage 2: one ``mapInArrow`` task per fold partition, which splits its
           rows by bucket with pyarrow and, per bucket:
           - reads the bucket's CURRENT state parquet directly with
             pyarrow (the state never crosses the JVM at all),
           - projects old-schema files onto the current schema by field
             id (rename/null-fill/widen — Iceberg-style), and resolves
             merge-on-read delta files with the same LWW kernel,
           - LWW-folds the batch: sort by (key, lsn desc), keep the first
             row per key (exact (key, lsn) re-delivery dedup is free
             because bucket co-location puts all copies in one task),
             then replaces / keeps / drops the state rows of the keys
             the batch touched,
           - writes the new bucket file itself (atomic tmp+rename), and
             returns a one-row manifest.
           No pandas: columns stay Arrow end to end, so an int64 column
           holding nulls is never widened to float64.

This IS the north rule's "salted repartitioning + two-phase local/
global merge-apply in vectorized Arrow UDFs": phase 1 routes globally
by bucket, phase 2 merge-applies locally. The reference analog is the
per-provider-pair routed, conflict-free scheduled load
(src/etl/orthology_etl.py:142-153, 197-225) — re-expressed so the
"schedule" is just a hash partitioner.

Scale notes: one shuffle of the batch (never the state), state I/O is
bucket-local and embarrassingly parallel, and every bucket is folded by
exactly one task, so a 1000-executor cluster keeps every core on its own
bucket set. Task retries are safe: files land under the not-yet-committed
snapshot dir with deterministic final names (each attempt writes its own
temp file); the commit references only what the driver collected.
"""

from __future__ import annotations

import os
import time
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..operators.dedup import MIN_LSN_COL
from ..zipcache import keep_zip_directory_cache

if TYPE_CHECKING:  # pragma: no cover
    from .table import ColumnSpec

MERGE_MODES = ("lww", "insert_if_absent", "update_only")  # see make_bucket_fold

DELTA_LSN = "__lsn"
DELTA_SEQ = "__seq"

_ARROW_TYPES = {
    "string": pa.string(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "long": pa.int64(),
    "double": pa.float64(),
    "float": pa.float32(),
    "boolean": pa.bool_(),
    "array<int>": pa.list_(pa.int32()),
    "array<bigint>": pa.list_(pa.int64()),
    "array<string>": pa.list_(pa.string()),
    "array<float>": pa.list_(pa.float32()),
    "array<double>": pa.list_(pa.float64()),
}


def arrow_type(ddl: str) -> pa.DataType:
    try:
        return _ARROW_TYPES[ddl.strip().lower()]
    except KeyError:
        raise ValueError(f"unsupported column type for arrow sink: {ddl!r}")


def arrow_schema(cols: list) -> pa.Schema:
    return pa.schema([pa.field(c.name, arrow_type(c.type)) for c in cols])


# one row per folded bucket. The phase columns split the fold's Python
# time: t_read (state read + projection), t_lww (sort, winners, state
# merge), t_write (parquet write + rename); whatever the task spends
# outside them is Arrow IPC and task set-up.
_MANIFEST_FIELDS = (
    ("bucket", "int"), ("path", "string"), ("n_rows", "bigint"),
    ("n_upserts", "bigint"), ("n_deletes", "bigint"), ("min_lsn", "bigint"),
    ("max_lsn", "bigint"), ("n_dups", "bigint"),
    ("t_read", "double"), ("t_lww", "double"), ("t_write", "double"),
    ("rows_in", "bigint"), ("rows_out", "bigint"), ("bytes_written", "bigint"),
)
MANIFEST_SCHEMA = ", ".join(f"{n} {t}" for n, t in _MANIFEST_FIELDS)
PHASE_COLS = ("t_read", "t_lww", "t_write", "rows_in", "rows_out", "bytes_written")
_MANIFEST_ARROW = pa.schema([pa.field(n, arrow_type(t)) for n, t in _MANIFEST_FIELDS])


def _repeats(col: pa.ChunkedArray) -> np.ndarray:
    """Per row of a sorted column: does it equal the previous row's
    value? Nulls equal nulls (they sort together)."""
    a = col.combine_chunks()
    n = len(a)
    if n < 2:
        return np.zeros(n, dtype=bool)
    cur, prev = a.slice(1), a.slice(0, n - 1)
    same = pc.or_(pc.fill_null(pc.equal(cur, prev), False),
                  pc.and_(pc.is_null(cur), pc.is_null(prev)))
    return np.concatenate([[False], same.to_numpy(zero_copy_only=False)])


def lww_first(t: pa.Table, key: str, ranks: list[str]) -> tuple[pa.Table, np.ndarray]:
    """The LWW kernel: sort ``t`` by key ascending, then by each rank
    column descending (nulls last), and mark the first row of each key
    — its winner. Returns the sorted table and that mask."""
    sort_keys = [(key, "ascending")] + [(r, "descending") for r in ranks]
    t = t.take(pc.sort_indices(t, sort_keys=sort_keys, null_placement="at_end"))
    return t, ~_repeats(t[key])


def read_bucket_state(
    files: list[dict],
    schema_versions: dict[int, list],
    current: list,
    root: str,
    key: str,
    op_col: str,
) -> pa.Table | None:
    """A bucket's live rows under the current schema. Each file is
    projected by field id (rename / null-fill / widen). When the bucket
    carries merge-on-read delta files, LWW resolves the whole file list
    with ``lww_first``: base rows rank as (__lsn, __seq) = (-1, -1), so
    any delta event beats them and later commits break (key, lsn) ties;
    only winners whose op is 'U' are live."""
    has_delta = any(fe.get("kind") == "delta" for fe in files)
    names = [c.name for c in current]
    tables = []
    for fe in files:
        t = pq.read_table(os.path.join(root, fe["path"]))
        old_cols = {c.id: c for c in schema_versions[fe["schema_version"]]}
        arrays = []
        for c in current:
            o = old_cols.get(c.id)
            if o is None:
                arrays.append(pa.nulls(len(t), arrow_type(c.type)))
            else:
                arrays.append(t.column(o.name).cast(arrow_type(c.type)))
        if fe.get("kind") == "delta":
            arrays += [t[op_col], t[DELTA_LSN], t[DELTA_SEQ]]
        elif has_delta:
            base_rank = pa.repeat(pa.scalar(-1, pa.int64()), len(t))
            arrays += [pa.repeat("U", len(t)), base_rank, base_rank]
        tables.append(pa.Table.from_arrays(
            arrays, names=names + [op_col, DELTA_LSN, DELTA_SEQ] if has_delta else names))
    if not tables:
        return None
    state = pa.concat_tables(tables)
    if not has_delta:
        return state
    state, first = lww_first(state, key, [DELTA_LSN, DELTA_SEQ])
    return state.filter(first & _mask(pc.equal(state[op_col], "U"))).select(names)


def _mask(cond) -> np.ndarray:
    return pc.fill_null(cond, False).to_numpy(zero_copy_only=False)


def _temp_name(final: str) -> str:
    """Attempt-unique temp file next to ``final``: two live attempts of
    one task (speculation, a zombie executor) never share a temp file,
    and the rename makes whichever finishes last the final file."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return f"{final}.{ctx.partitionId()}-{ctx.attemptNumber()}.inprogress"


def make_bucket_fold(
    root: str,
    stage_rel: str,
    key: str,
    current: list,
    schema_versions: dict[int, list],
    bucket_files: dict[int, list[dict]],
    op_col: str,
    lsn_col: str,
    bucket_col: str,
    mode: str = "lww",
    precombined: bool = False,
    seq: int | None = None,
):
    """Build the ``mapInArrow`` function for one commit.

    Its input is a changeset partitioned so that all rows of a bucket sit
    in one partition (``LakeTable.prepare_changes``, or
    ``project_changes`` then ``balanced_fold_repartition``); it yields
    one manifest row per bucket
    present. Everything captured here is tiny metadata (column specs +
    file lists); the heavy inputs (batch rows, state files) stay
    distributed.

    ``mode`` decides what the batch's LWW winner per key does:

    - ``"lww"``: 'U' upserts (MERGE WHEN MATCHED UPDATE SET * / WHEN NOT
      MATCHED INSERT *), 'D' deletes;
    - ``"insert_if_absent"``: 'D' deletes; 'U' inserts only when the key
      is absent from the bucket state, an existing row keeps its payload
      (the reference's default MERGE ... ON CREATE SET,
      src/etl/bgi_etl.py:99-115 — first writer wins);
    - ``"update_only"``: 'D' deletes; 'U' patches only keys already in
      the bucket state, absent keys are dropped, never inserted (MERGE
      WHEN MATCHED UPDATE with no insert branch — the reference's
      ``MATCH (e {primaryKey}) SET ...``, src/etl/ecomap_etl.py:22-30);
    - ``"delta"``: the write-optimized MERGE-ON-READ append. The bucket
      state is never read; the batch winners, delete winners included
      as tombstone rows, are written as a DELTA file carrying
      ``__op``/``__lsn``/``__seq`` (``seq`` = the committing snapshot
      id, constant per file, breaks (key, lsn) ties across commits).
      LWW across base+deltas resolves wherever the bucket's state is
      read (read_bucket_state: LakeTable.read and every copy-on-write
      fold, compact() included, which writes the bucket back as one
      base file). This is the high-commit-rate CDC sink shape (Hudi
      MOR / Paimon LSM): O(batch) writes with zero read amplification,
      paid for by a merge step on read.

    Rows with a null key are dropped (they name no row). A batch row
    outranks its key's state row whatever its lsn.

    ``precombined``: the changeset already went through
    operators.dedup.precombine_lww — at most one winner row per key per
    map partition, carrying ``__min_lsn`` (PRECOMBINE_COLS) for the
    per-bucket offset range. Re-delivery dedup counters are unmeasurable
    after the local collapse: n_dups is 0 (the commit records no dup
    count; the replay runner adds HLL estimates) and n_upserts counts
    the upserts applied — winners that passed the mode's filter, not the
    kept state rows. LWW vs state and delete routing are unchanged.
    """
    names = [c.name for c in current]
    out_schema = arrow_schema(current)
    if mode == "delta":
        out_schema = pa.schema(list(out_schema) + [
            pa.field(op_col, pa.string()), pa.field(DELTA_LSN, pa.int64()),
            pa.field(DELTA_SEQ, pa.int64())])

    def fold_bucket(bucket: int, rows: pa.Table) -> dict:
        lsns = rows[lsn_col]
        b_min_lsn = pc.min(rows[MIN_LSN_COL] if precombined else lsns).as_py()
        b_max_lsn = pc.max(lsns).as_py()

        t0 = time.perf_counter()
        # a delta commit passes no bucket files: the state is never read
        state = read_bucket_state(bucket_files.get(bucket, []), schema_versions,
                                  current, root, key, op_col)
        t1 = time.perf_counter()
        # LWW: after the sort the first row of each key carries its max
        # lsn; a repeated (key, lsn) is a re-delivered event
        rows, first = lww_first(rows, key, [lsn_col])
        dup = np.zeros(len(first), bool) if precombined \
            else ~first & _repeats(rows[lsn_col])
        is_u = _mask(pc.equal(rows[op_col], "U"))
        win_mask = first & _mask(pc.is_valid(rows[key]))
        win = rows.filter(win_mask)
        win_u, win_d = is_u[win_mask], _mask(pc.equal(win[op_col], "D"))
        if mode == "delta":
            out = win.select(names + [op_col, lsn_col]).rename_columns(
                names + [op_col, DELTA_LSN])
            out = out.append_column(DELTA_SEQ, pa.array(np.full(len(out), seq, np.int64)))
            n_upserts = int(win_u.sum())
        else:
            ups = out = win.filter(win_u).select(names)
            if state is not None and len(state):
                state_keys = state[key]
                if mode == "insert_if_absent":
                    # existing rows keep their payload unless deleted
                    keep = pc.invert(pc.is_in(state_keys, value_set=win.filter(win_d)[key]))
                    ups = ups.filter(pc.invert(pc.is_in(ups[key], value_set=state_keys)))
                else:
                    keep = pc.invert(pc.is_in(state_keys, value_set=win[key]))
                    if mode == "update_only":
                        ups = ups.filter(pc.is_in(ups[key], value_set=state_keys))
                out = pa.concat_tables([state.filter(keep), ups.cast(out_schema)])
            elif mode == "update_only":  # empty bucket: nothing to patch
                ups = out = ups.slice(0, 0)
            # precombined: the local collapse erased the U-event count, so
            # count the upserts this fold applied (kept state rows excluded)
            n_upserts = len(ups) if precombined else int((is_u & ~dup).sum())
        t2 = time.perf_counter()

        rel_path, n_bytes = None, 0
        if len(out):
            bdir = os.path.join(root, stage_rel, f"{bucket_col}={bucket}")
            os.makedirs(bdir, exist_ok=True)
            final = os.path.join(bdir, "part-0.parquet")
            tmp = _temp_name(final)
            pq.write_table(out.cast(out_schema), tmp, compression="snappy")
            n_bytes = os.path.getsize(tmp)
            os.replace(tmp, final)
            rel_path = os.path.join(stage_rel, f"{bucket_col}={bucket}", "part-0.parquet")
        t3 = time.perf_counter()
        return {
            "bucket": bucket, "path": rel_path, "n_rows": len(out),
            "n_upserts": n_upserts, "n_deletes": int(win_d.sum()),
            "min_lsn": b_min_lsn, "max_lsn": b_max_lsn, "n_dups": int(dup.sum()),
            "t_read": t1 - t0, "t_lww": t2 - t1, "t_write": t3 - t2,
            "rows_in": len(rows), "rows_out": len(out), "bytes_written": n_bytes,
        }

    def fold(batches):
        keep_zip_directory_cache()
        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        if not len(t):
            return
        # split the partition by bucket: one stable sort on the bucket id,
        # then contiguous slices
        order = pc.sort_indices(t[bucket_col])
        ids = t[bucket_col].take(order).to_numpy()
        bounds = [0, *(np.flatnonzero(np.diff(ids)) + 1), len(ids)]
        yield pa.RecordBatch.from_pylist(
            [fold_bucket(int(ids[lo]), t.take(order[lo:hi]))
             for lo, hi in zip(bounds[:-1], bounds[1:])],
            schema=_MANIFEST_ARROW,
        )

    return fold
