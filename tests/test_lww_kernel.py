"""The one LWW kernel (arrow_merge.lww_order) and its callers against
scalar Python oracles, on adversarial batches: null keys, a repeated
(key, lsn), equal lsns across keys, one row, an empty batch, int and
string keys, bigints above 2**53 next to a null, and merge-on-read base
rows at (-1, -1) against deltas that tie on __lsn across __seq. No
Spark: the kernel is plain Arrow."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from agr_loader_spark.lake.arrow_merge import (
    DELTA_LSN,
    DELTA_SEQ,
    MIN_LSN_COL,
    lww_order,
    precombine_winners,
    read_bucket_state,
)
from agr_loader_spark.lake.table import ColumnSpec

BIG = 2**53

# (key type, [(key, lsn, seq)]); a row's payload is its input position
BATCHES = {
    "empty": ("string", []),
    "one_row": ("string", [("a", 5, 0)]),
    "null_keys": ("string", [(None, 9, 0), ("a", 1, 0), (None, 3, 0), ("b", 2, 0),
                             ("a", 4, 0), (None, 9, 0)]),
    "repeated_key_lsn": ("string", [("a", 7, 0), ("b", 1, 0), ("a", 7, 0), ("a", 3, 0),
                                    ("b", 1, 0)]),
    "equal_lsn_across_keys": ("string", [("c", 4, 0), ("a", 4, 0), ("b", 4, 0), ("a", 4, 0)]),
    "int_keys": ("bigint", [(3, 1, 0), (-2, 5, 0), (3, 8, 0), (0, 2, 0), (-2, 5, 0)]),
    "bigints_next_to_null": ("bigint", [(BIG + 1, 2, 0), (BIG, 1, 0), (None, 4, 0),
                                        (BIG + 1, 3, 0), (BIG, 6, 0), (BIG + 3, BIG + 1, 0),
                                        (BIG + 3, BIG, 0)]),
    # base rows rank (-1, -1); key "a"'s deltas tie on __lsn 5 across
    # __seq 2 and 3, and the later commit wins
    "mor_ranks": ("string", [("a", -1, -1), ("b", -1, -1), ("a", 5, 2), ("a", 5, 3),
                             ("c", 2, 1), ("a", 4, 4), ("c", 2, 1)]),
}


def _table(ktype, rows):
    return pa.table({
        "k": pa.array([r[0] for r in rows], pa.int64() if ktype == "bigint" else pa.string()),
        "lsn": pa.array([r[1] for r in rows], pa.int64()),
        "seq": pa.array([r[2] for r in rows], pa.int64()),
        "pos": pa.array(range(len(rows)), pa.int64()),
    })


def _oracle_winners(rows, n_ranks):
    """key -> input position of its winner: the first row reaching the
    key's best rank tuple."""
    best = {}
    for i, r in enumerate(rows):
        rank = r[1:1 + n_ranks]
        if r[0] not in best or rank > best[r[0]][0]:
            best[r[0]] = (rank, i)
    return {k: i for k, (_, i) in best.items()}


def _sort_key(ktype, key):
    """Keys ascending, nulls last."""
    return (key is None, key if key is not None else (0 if ktype == "bigint" else ""))


@pytest.mark.parametrize("name", sorted(BATCHES))
@pytest.mark.parametrize("n_ranks", [1, 2])
def test_lww_order_matches_scalar_oracle(name, n_ranks):
    ktype, rows = BATCHES[name]
    order, first = lww_order(_table(ktype, rows), "k", ["lsn", "seq"][:n_ranks])
    assert sorted(order.tolist()) == list(range(len(rows)))
    # a stable sort: key ascending, ranks descending
    want_order = sorted(range(len(rows)), key=lambda i: (
        _sort_key(ktype, rows[i][0]), *(-x for x in rows[i][1:1 + n_ranks])))
    assert order.tolist() == want_order
    winners = _oracle_winners(rows, n_ranks)
    got = {rows[i][0]: int(i) for i in order[first]}
    assert got == winners
    # winners come out key-sorted
    assert [rows[i][0] for i in order[first]] == \
        sorted(winners, key=lambda k: _sort_key(ktype, k))


@pytest.mark.parametrize("name", sorted(BATCHES))
def test_precombine_winners_matches_scalar_oracle(name):
    """Per non-null key: the first max-lsn row and the key's min lsn, in
    key order; null keys are dropped."""
    ktype, rows = BATCHES[name]
    got = precombine_winners(_table(ktype, rows), "k", "lsn")
    assert got.column_names == ["k", "lsn", "seq", "pos", MIN_LSN_COL]
    winners = _oracle_winners(rows, 1)
    keys = sorted((k for k in winners if k is not None), key=lambda k: _sort_key(ktype, k))
    assert got["k"].to_pylist() == keys
    assert got["pos"].to_pylist() == [winners[k] for k in keys]
    assert got[MIN_LSN_COL].to_pylist() == [min(r[1] for r in rows if r[0] == k) for k in keys]
    assert got[MIN_LSN_COL].type == pa.int64()


def _pandas_precombine(t, key, lsn_col):
    """The pandas groupby-idxmax precombine the kernel replaced: winner
    rows plus per-key min lsn, keys in first-appearance order."""
    nar = pd.DataFrame({"k": t[key].to_pandas(),
                        "l": t[lsn_col].to_numpy(zero_copy_only=False)})
    g = nar.groupby("k", sort=False)["l"]
    return t.take(pa.array(g.idxmax().to_numpy(), pa.int64())).append_column(
        MIN_LSN_COL, pa.array(g.min().to_numpy(), pa.int64()))


# pandas widens an int64 key column holding a null to float64, which
# merges keys above 2**53: it is no oracle for that batch
@pytest.mark.parametrize("name", sorted(set(BATCHES) - {"empty", "bigints_next_to_null"}))
def test_precombine_winners_match_pandas_precombine(name):
    t = _table(*BATCHES[name])
    got = precombine_winners(t, "k", "lsn").sort_by("pos")
    assert got.equals(_pandas_precombine(t, "k", "lsn").sort_by("pos"))


def test_read_bucket_state_resolves_base_and_deltas(tmp_path):
    """A base file and two delta files resolve to the live 'U' winners
    under (__lsn, __seq), key-sorted: the later commit wins a tie on
    __lsn, a tombstone deletes, any delta event beats its base row."""
    cols = [ColumnSpec(1, "k", "string"), ColumnSpec(2, "v", "bigint")]
    files = []

    def write(name, table, kind):
        pq.write_table(table, os.path.join(tmp_path, name))
        files.append({"path": name, "schema_version": 0, "kind": kind})

    write("base.parquet", pa.table({"k": ["a", "b", "c", "d"], "v": [1, 2, 3, BIG + 1]}), "base")
    for seq, (keys, vals, ops, lsns) in enumerate([
        (["a", "b", "e", "a"], [10, 20, 50, 11], ["U", "D", "U", "U"], [5, 4, 2, 5]),
        (["a", "e"], [12, 51], ["U", "D"], [5, 1]),
    ], start=2):
        write(f"delta{seq}.parquet", pa.table({
            "k": keys, "v": pa.array(vals, pa.int64()), "__op": ops,
            DELTA_LSN: pa.array(lsns, pa.int64()),
            DELTA_SEQ: pa.array([seq] * len(keys), pa.int64())}), "delta")
    got = read_bucket_state(files, {0: cols}, cols, str(tmp_path), "k", "__op")
    assert got.to_pydict() == {"k": ["a", "c", "d", "e"], "v": [12, 3, BIG + 1, 50]}

    base_only = read_bucket_state(files[:1], {0: cols}, cols, str(tmp_path), "k", "__op")
    assert base_only.to_pydict() == {"k": ["a", "b", "c", "d"], "v": [1, 2, 3, BIG + 1]}
