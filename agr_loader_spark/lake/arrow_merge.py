"""Arrow-native state-colocated MERGE — the engine's one copy-on-write
commit path (every COW commit of LakeTable goes through the bucket fold
below; merge-on-read commits go through make_bucket_delta_fold).

A join-based merge expresses the upsert as winners-agg + semi-join +
full-outer join + repartition: ~8 stages per micro-batch, and at
micro-batch cadence the inter-stage barriers dominate wall time
(measured: ~2s of scheduling gaps per segment vs ~1.7s of work at 16
cores). This module collapses the whole merge into TWO stages:

  stage 1: scan the segment's events, project the changeset columns,
           hash-shuffle by target bucket (pmod(xxhash64(key), N) — the
           same function that lays out the table, so a batch row lands
           exactly where its state row lives);
  stage 2: one ``applyInPandas`` task per touched bucket:
           - reads the bucket's CURRENT state parquet directly with
             pyarrow (the state never crosses the JVM at all),
           - projects old-schema files onto the current schema by field
             id (rename/null-fill/widen — Iceberg-style),
           - LWW-folds state (lsn = -1) + batch rows per key
             (vectorized idxmax; exact (key, lsn) re-delivery dedup is
             free because bucket co-location puts all copies in the
             same group),
           - applies deletes, writes the new bucket file itself
             (atomic tmp+rename), and returns a one-row manifest.

This IS the north rule's "salted repartitioning + two-phase local/
global merge-apply in vectorized Arrow/pandas UDFs": phase 1 routes
globally by bucket, phase 2 merge-applies locally. The reference analog
is the per-provider-pair routed, conflict-free scheduled load
(src/etl/orthology_etl.py:142-153, 197-225) — re-expressed so the
"schedule" is just a hash partitioner.

Scale notes: one shuffle of the batch (never the state), state I/O is
bucket-local and embarrassingly parallel, and task count == touched
buckets, so a 1000-executor cluster keeps every core on its own bucket
set. Task retries are safe: files land under the not-yet-committed
snapshot dir with deterministic names; the commit references only what
the driver collected.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..operators.dedup import MIN_LSN_COL

if TYPE_CHECKING:  # pragma: no cover
    from .table import ColumnSpec

MERGE_MODES = ("lww", "insert_if_absent", "update_only")  # see make_bucket_fold

MANIFEST_SCHEMA = (
    "bucket int, path string, n_rows long, n_upserts long, n_deletes long, "
    "min_lsn long, max_lsn long, n_dups long"
)

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


def read_bucket_state(
    files: list[dict],
    schema_versions: dict[int, list],
    current: list,
    root: str,
) -> pa.Table | None:
    """Read a bucket's parquet files, projecting each onto the current
    schema by field id (rename / null-fill / widen)."""
    out_schema = arrow_schema(current)
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
        tables.append(pa.Table.from_arrays(arrays, schema=out_schema))
    if not tables:
        return None
    return pa.concat_tables(tables)


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
):
    """Build the applyInPandas function for one micro-batch merge.

    Everything captured here is tiny metadata (column specs + file
    lists); the heavy inputs (batch rows, state files) stay distributed.

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
      ``MATCH (e {primaryKey}) SET ...``, src/etl/ecomap_etl.py:22-30).

    ``precombined``: the changeset already went through
    operators.dedup.precombine_lww — at most one winner row per key per
    map partition, carrying ``__min_lsn`` (PRECOMBINE_COLS) for the
    per-bucket offset range. The fold then skips its own (key, lsn)
    pair-dedup (the per-key LWW mask resolves cross-partition survivors).
    Re-delivery dedup counters are unmeasurable after the local collapse:
    the runner supplies them via lineage — approx by default, exact with
    ``exact_counts=True`` — and n_upserts counts APPLIED upserts (winner
    rows written), which stays exact. LWW vs state and delete routing
    are unchanged.
    """
    names = [c.name for c in current]
    out_pa_schema = arrow_schema(current)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf[bucket_col].iloc[0])
        if precombined:
            # the local combine already dropped the loser/duplicate rows
            # this fold would have counted — re-delivery multiplicity is
            # unmeasurable here. n_dups=0 is NOT recorded as a dup count:
            # the runner sends approx (or exact_counts=True planning-pass)
            # counters through lineage and merge() omits/overrides this.
            # The per-bucket offset range IS still exact via __min_lsn.
            b_min_lsn = int(pdf[MIN_LSN_COL].min())
            b_max_lsn = int(pdf[lsn_col].max())
            n_dups = 0
        else:
            # per-partition lineage: the source-offset range this bucket
            # absorbed in this micro-batch (north rule: offset -> snapshot)
            b_min_lsn = int(pdf[lsn_col].min())
            b_max_lsn = int(pdf[lsn_col].max())
            # exact re-delivery dedup: co-location guarantees all copies of a
            # (key, lsn) pair are in this group, so the dropped count is
            # exact and free here (ReplayRunner._plan never decodes doc_id).
            n_before = len(pdf)
            pdf = pdf.drop_duplicates(subset=[key, lsn_col])
            n_dups = n_before - len(pdf)

        state = read_bucket_state(bucket_files.get(bucket, []), schema_versions,
                                  current, root)
        sdf = None
        if state is not None and len(state):
            # integer columns holding nulls stay exact Python ints: the
            # default float64 would round bigints above 2**53 each time
            # the bucket is rewritten
            sdf = state.to_pandas(integer_object_nulls=True)
            sdf[op_col] = "U"
            sdf[lsn_col] = -1
            pdf = pd.concat([sdf, pdf[names + [op_col, lsn_col]]], ignore_index=True)
        else:
            pdf = pdf[names + [op_col, lsn_col]]

        # LWW: keep the max-lsn row per key (state rows at lsn=-1 lose to
        # any event), then drop keys whose winning op is a delete
        win = pdf.loc[pdf.groupby(key, sort=False)[lsn_col].idxmax()]
        n_deletes_applied = int((win[op_col] == "D").sum())
        win = win[win[op_col] == "U"][names]
        if mode != "lww" and sdf is not None:
            # surviving keys already in state: every non-deleted state
            # key is a winner (its own lsn=-1 row, or a batch upsert)
            in_state = win[key].isin(sdf[key])
            if mode == "update_only":
                win = win[in_state]
            else:  # insert_if_absent: existing rows keep their payload
                win = pd.concat([sdf.loc[sdf[key].isin(win[key]), names],
                                 win[~in_state]], ignore_index=True)
        elif mode == "update_only":  # empty bucket: nothing to patch
            win = win.iloc[0:0]

        bdir = os.path.join(root, stage_rel, f"{bucket_col}={bucket}")
        os.makedirs(bdir, exist_ok=True)
        rel_path = None
        if len(win):
            # deterministic name + atomic rename: a retried task simply
            # replaces the identical file
            final = os.path.join(bdir, "part-0.parquet")
            tmp = final + ".inprogress"
            table = pa.Table.from_pandas(win, schema=out_pa_schema,
                                         preserve_index=False)
            pq.write_table(table, tmp, compression="snappy")
            os.replace(tmp, final)
            rel_path = os.path.join(stage_rel, f"{bucket_col}={bucket}", "part-0.parquet")
        return pd.DataFrame(
            {
                "bucket": pd.array([bucket], dtype="int32"),
                "path": [rel_path],
                "n_rows": pd.array([len(win)], dtype="int64"),
                # uncombined: deduped batch events with op U (post-dedup
                # rows minus state). Precombined: distinct U events are
                # uncountable post-collapse, so count APPLIED upserts —
                # winner rows actually written — which is exact here.
                "n_upserts": pd.array(
                    [len(win) if precombined
                     else int((pdf[op_col] == "U").sum()
                              - (len(state) if state is not None else 0))],
                    dtype="int64"),
                "n_deletes": pd.array([n_deletes_applied], dtype="int64"),
                "min_lsn": pd.array([b_min_lsn], dtype="int64"),
                "max_lsn": pd.array([b_max_lsn], dtype="int64"),
                "n_dups": pd.array([n_dups], dtype="int64"),
            }
        )

    return fold


DELTA_LSN = "__lsn"
DELTA_SEQ = "__seq"


def make_bucket_delta_fold(
    root: str,
    stage_rel: str,
    key: str,
    current: list,
    op_col: str,
    lsn_col: str,
    bucket_col: str,
    seq: int,
):
    """Write-optimized MERGE-ON-READ commit fold: the micro-batch is
    deduped and LWW-reduced WITHIN ITSELF and written as a per-bucket
    DELTA file — the bucket's current state is never read. Delete
    winners are retained as tombstone rows (op 'D'); LWW across
    base+deltas resolves at read time by (lsn, seq) — see
    LakeTable.merge_delta / _read_mor — and compaction collapses a
    bucket back to a single base file.

    This is the standard high-commit-rate CDC sink shape (Hudi MOR /
    Paimon LSM): ingest cost is O(batch) writes with zero read
    amplification, at the price of a merge step on read until
    compaction. The reference has no analog (every load rewrites
    through Neo4j MERGE); the COW fold (make_bucket_fold) remains the
    read-optimized default.

    Delta files carry ``__op``/``__lsn``/``__seq`` alongside the
    current schema's columns; ``__seq`` (= committing snapshot id,
    constant per file) breaks (key, lsn) ties across commits so a
    re-delivered event in a later commit resolves deterministically.
    """
    names = [c.name for c in current]
    out_pa_schema = pa.schema(
        list(arrow_schema(current))
        + [pa.field("__op", pa.string()), pa.field(DELTA_LSN, pa.int64()),
           pa.field(DELTA_SEQ, pa.int64())]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf[bucket_col].iloc[0])
        b_min_lsn = int(pdf[lsn_col].min())
        b_max_lsn = int(pdf[lsn_col].max())
        n_before = len(pdf)
        pdf = pdf.drop_duplicates(subset=[key, lsn_col])
        n_dups = n_before - len(pdf)
        win = pdf.loc[pdf.groupby(key, sort=False)[lsn_col].idxmax()]
        n_deletes = int((win[op_col] == "D").sum())
        n_upserts = int((win[op_col] == "U").sum())
        out = win[names + [op_col, lsn_col]].rename(
            columns={op_col: "__op", lsn_col: DELTA_LSN}
        )
        out[DELTA_SEQ] = np.int64(seq)

        bdir = os.path.join(root, stage_rel, f"{bucket_col}={bucket}")
        os.makedirs(bdir, exist_ok=True)
        final = os.path.join(bdir, "part-0.parquet")
        tmp = final + ".inprogress"
        pq.write_table(
            pa.Table.from_pandas(out, schema=out_pa_schema, preserve_index=False),
            tmp, compression="snappy",
        )
        os.replace(tmp, final)
        rel_path = os.path.join(stage_rel, f"{bucket_col}={bucket}", "part-0.parquet")
        return pd.DataFrame(
            {
                "bucket": pd.array([bucket], dtype="int32"),
                "path": [rel_path],
                "n_rows": pd.array([len(out)], dtype="int64"),
                "n_upserts": pd.array([n_upserts], dtype="int64"),
                "n_deletes": pd.array([n_deletes], dtype="int64"),
                "min_lsn": pd.array([b_min_lsn], dtype="int64"),
                "max_lsn": pd.array([b_max_lsn], dtype="int64"),
                "n_dups": pd.array([n_dups], dtype="int64"),
            }
        )

    return fold


def numpy_tokens_equal(a, b) -> bool:
    """Exact token-array equality helper (tests)."""
    if a is None or b is None:
        return a is None and b is None
    return np.array_equal(np.asarray(a), np.asarray(b))
