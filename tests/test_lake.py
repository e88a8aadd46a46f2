"""LakeTable unit tests: merge semantics, exactly-once, evolution, COW."""

import glob
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from agr_loader_spark.lake.table import OP_COL, CommitConflict, LakeTable

COLS = [("doc_id", "string", "doc_id"), ("tokens", "array<int>", "tokens"),
        ("n_tok", "int", "n_tok"), ("source", "string", "source")]


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, __op string"
    )


def _mk(spark, tmproot, n_buckets=8):
    return LakeTable.create(spark, tmproot + "/t", COLS, key="doc_id", n_buckets=n_buckets)


def test_merge_upsert_delete_roundtrip(spark, tmproot):
    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1, 2], 2, "FB", "U"), ("b", [3], 1, "WB", "U")]), "0:0")
    t.merge(_changes(spark, [("a", [9], 1, "FB", "U"), ("b", None, None, None, "D"),
                             ("c", [7, 7], 2, "MGI", "U")]), "1:0")
    rows = {r["doc_id"]: r.asDict() for r in t.read().collect()}
    assert set(rows) == {"a", "c"}
    assert rows["a"]["tokens"] == [9] and rows["a"]["n_tok"] == 1
    assert rows["c"]["tokens"] == [7, 7]


def test_exactly_once_skip(spark, tmproot):
    t = _mk(spark, tmproot)
    r1 = t.merge(_changes(spark, [("a", [1], 1, "FB", "U")]), "0:0")
    assert not r1["skipped"]
    r2 = t.merge(_changes(spark, [("a", [999], 1, "FB", "U")]), "0:0")
    assert r2["skipped"]
    assert [r["tokens"] for r in t.read().collect()] == [[1]]
    # reload from disk sees the same applied epoch set
    t2 = LakeTable.load(spark, t.root)
    assert "0:0" in t2.applied_epochs()


def test_stale_handle_commit_raises_conflict(spark, tmproot):
    """A handle whose snapshot is no longer current must not commit: its
    fold would stage files under the snapshot id the other handle
    already committed, overwriting that snapshot's data files."""
    _mk(spark, tmproot, n_buckets=1)
    a = LakeTable.load(spark, tmproot + "/t")
    b = LakeTable.load(spark, tmproot + "/t")
    a.merge(_changes(spark, [("x", [1], 1, "FB", "U")]), "a:0")
    part = os.path.join(a.root, "data", "1", "__bucket=0", "part-0.parquet")
    with open(part, "rb") as f:
        committed = f.read()
    y = _changes(spark, [("y", [2], 1, "FB", "U")])
    for commit in (lambda: b.merge(y, "b:0"),
                   lambda: b.merge(y.filter("false"), "b:0", touched_buckets=[]),
                   lambda: b.add_column("lang", "string", epoch_key="b:1"),
                   lambda: b.delete_where("n_tok > 0", "b:2")):
        with pytest.raises(CommitConflict):
            commit()
    t = LakeTable.load(spark, a.root)
    assert t.snapshot_id == 1 and t.applied_epochs() == {"a:0"}
    assert [(r["doc_id"], r["tokens"]) for r in t.read().collect()] == [("x", [1])]
    assert [(r["doc_id"], r["tokens"]) for r in t.at_snapshot(1).read().collect()] \
        == [("x", [1])]
    with open(part, "rb") as f:
        assert f.read() == committed
    assert [r["epoch_key"] for r in t.lineage()] == ["a:0"]
    # a reloaded handle commits as usual
    assert not t.merge(y, "b:0")["skipped"]
    assert sorted(r["doc_id"] for r in t.read().collect()) == ["x", "y"]


def test_copy_on_write_touches_only_changed_buckets(spark, tmproot):
    t = _mk(spark, tmproot, n_buckets=8)
    many = [(f"d{i}", [i], 1, "FB", "U") for i in range(100)]
    t.merge(_changes(spark, many), "0:0")
    before = dict(t._m["buckets"])
    r = t.merge(_changes(spark, [("d1", [42], 1, "FB", "U")]), "1:0")
    assert len(r["buckets_touched"]) == 1
    after = t._m["buckets"]
    unchanged = [b for b in after if int(b) not in r["buckets_touched"]]
    assert unchanged and all(after[b] == before[b] for b in unchanged)
    assert t.read().count() == 100


def test_schema_evolution_metadata_only(spark, tmproot):
    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1], 1, "FB", "U")]), "0:0")
    files_before = sorted(f["path"] for fs in t._m["buckets"].values() for f in fs)
    t.add_column("lang", "string", src_field="lang", epoch_key="1:0")
    t.rename_column("source", "origin", epoch_key="1:1")
    t.widen_column("n_tok", "bigint", epoch_key="1:2")
    files_after = sorted(f["path"] for fs in t._m["buckets"].values() for f in fs)
    assert files_before == files_after  # no data rewrite
    df = t.read()
    assert df.columns == ["doc_id", "tokens", "n_tok", "origin", "lang"]
    assert dict(df.dtypes)["n_tok"] == "bigint"
    row = df.collect()[0]
    assert row["origin"] == "FB" and row["lang"] is None and row["n_tok"] == 1
    # evolution commits are idempotent under epoch_key too
    assert t.add_column("x", "int", epoch_key="1:0")["skipped"]


def test_widen_rejects_narrowing(spark, tmproot):
    t = _mk(spark, tmproot)
    with pytest.raises(ValueError):
        t.widen_column("doc_id", "int")


def test_merge_after_rename_routes_by_src_field(spark, tmproot):
    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1], 1, "FB", "U")]), "0:0")
    t.rename_column("source", "origin", epoch_key="0:1")
    ch = _changes(spark, [("b", [2], 1, "WB", "U")]).withColumnRenamed("source", "origin")
    t.merge(ch, "1:0")
    got = {r["doc_id"]: r["origin"] for r in t.read().collect()}
    assert got == {"a": "FB", "b": "WB"}


def test_insert_if_absent_mode(spark, tmproot):
    """First-writer-wins (reference default MERGE ON CREATE SET)."""
    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1], 1, "FB", "U")]), "0:0", mode="insert_if_absent")
    t.merge(_changes(spark, [("a", [999], 1, "WB", "U"), ("b", [2], 1, "WB", "U")]),
            "1:0", mode="insert_if_absent")
    rows = {r["doc_id"]: r.asDict() for r in t.read().collect()}
    assert rows["a"]["tokens"] == [1] and rows["a"]["source"] == "FB"  # first writer kept
    assert rows["b"]["tokens"] == [2]
    # deletes still apply in FWW mode (K7)
    t.merge(_changes(spark, [("a", None, None, None, "D")]), "2:0", mode="insert_if_absent")
    assert {r["doc_id"] for r in t.read().collect()} == {"b"}


def test_merge_keeps_bigint_exact_next_to_nulls(spark, tmproot):
    """A bucket rewrite must not round a stored bigint above 2**53 when
    another stored row of the bucket holds a null in that column."""
    t = LakeTable.create(spark, tmproot + "/big", [("k", "string", None), ("v", "bigint", None)],
                         key="k", n_buckets=1)
    big = 2**53 + 1
    schema = "k string, v bigint, __op string"
    t.merge(spark.createDataFrame([("b", None, "U")], schema), "0:0")
    t.merge(spark.createDataFrame([("a", big, "U")], schema), "1:0")
    t.merge(spark.createDataFrame([("c", 5, "U")], schema), "2:0")
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": big, "b": None, "c": 5}


def test_time_travel_and_lineage_lookup(spark, tmproot):
    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1], 1, "FB", "U")]), "0:0")
    sid1 = t.snapshot_id
    t.merge(_changes(spark, [("a", [2], 1, "FB", "U"), ("b", [3], 1, "WB", "U")]), "1:0")
    # current state
    assert {r["doc_id"]: r["tokens"] for r in t.read().collect()} == {"a": [2], "b": [3]}
    # as-of earlier snapshot
    old = t.at_snapshot(sid1)
    assert {r["doc_id"]: r["tokens"] for r in old.read().collect()} == {"a": [1]}
    # lineage: epoch -> snapshot
    assert t.snapshot_for_epoch("0:0") == sid1
    assert t.at_snapshot(t.snapshot_for_epoch("1:0")).read().count() == 2


def test_key_uniqueness_invariant(spark, tmproot):
    t = _mk(spark, tmproot)
    for e in range(3):
        t.merge(_changes(spark, [(f"d{i % 5}", [e], 1, "FB", "U") for i in range(5)]), f"{e}:0")
    dup = t.read().groupBy("doc_id").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_drop_column_metadata_only(spark, tmproot):
    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1, 2], 2, "FB", "U")]), "0:0")
    files_before = sorted(f["path"] for fs in t._m["buckets"].values() for f in fs)
    t.drop_column("source", epoch_key="1:0")
    assert sorted(f["path"] for fs in t._m["buckets"].values() for f in fs) == files_before
    df = t.read()
    assert df.columns == ["doc_id", "tokens", "n_tok"]
    assert df.collect()[0]["tokens"] == [1, 2]
    # dropping the merge key or a missing column is rejected
    with pytest.raises(ValueError):
        t.drop_column("doc_id")
    with pytest.raises(ValueError):
        t.drop_column("nope")
    # a later re-add under the SAME name gets a NEW field id: old files
    # must NOT leak their dropped values into the reborn column
    t.add_column("source", "string", src_field="source", epoch_key="2:0")
    assert t.read().collect()[0]["source"] is None


def test_update_only_mode_merge(spark, tmproot):
    """K6 through merge(): matched-only patch — absent keys must NOT be
    inserted."""
    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1], 1, "FB", "U"), ("b", [2], 1, "WB", "U")]), "0:0")
    r = t.merge(
        _changes(spark, [("a", [9], 1, "FB", "U"),      # matched -> patched
                         ("ghost", [5], 1, "ZFIN", "U"),  # absent -> dropped
                         ("b", None, None, None, "D")]),  # matched delete applies
        "1:0", mode="update_only",
    )
    assert not r["skipped"]
    rows = {x["doc_id"]: x.asDict() for x in t.read().collect()}
    assert set(rows) == {"a"}
    assert rows["a"]["tokens"] == [9]


def test_update_only_mode_arrow_sink(spark, tmproot):
    t = _mk(spark, tmproot)

    def _ch(rows):
        return spark.createDataFrame(
            rows,
            "doc_id string, tokens array<int>, n_tok int, source string,"
            " __op string, event_lsn long",
        )

    t.merge_arrow(_ch([("a", [1], 1, "FB", "U", 1), ("b", [2], 1, "WB", "U", 2)]),
                  "0:0", lsn_col="event_lsn")
    t.merge_arrow(
        _ch([("a", [9], 1, "FB", "U", 10),
             ("ghost", [5], 1, "ZFIN", "U", 11),
             ("b", None, None, None, "D", 12)]),
        "1:0", lsn_col="event_lsn", mode="update_only",
    )
    rows = {x["doc_id"]: x.asDict() for x in t.read().collect()}
    assert set(rows) == {"a"}
    assert rows["a"]["tokens"] == [9]
    with pytest.raises(ValueError, match="unknown merge mode"):
        t.merge_arrow(_ch([]), "2:0", lsn_col="event_lsn", mode="nope")


def test_insert_if_absent_mode_arrow_fold(spark, tmproot):
    """K3 in the bucket fold itself: the batch's LWW winner per key
    decides — 'D' deletes, 'U' inserts only an absent key, an existing
    row keeps its payload."""
    t = _mk(spark, tmproot)

    def _ch(rows):
        return spark.createDataFrame(
            rows,
            "doc_id string, tokens array<int>, n_tok int, source string,"
            " __op string, event_lsn long",
        )

    t.merge_arrow(_ch([("a", [1], 1, "FB", "U", 1), ("b", [2], 1, "WB", "U", 2)]),
                  "0:0", lsn_col="event_lsn", mode="insert_if_absent")
    r = t.merge_arrow(
        _ch([("a", [999], 1, "WB", "U", 10),         # re-send of an existing key
             ("c", [5], 1, "MGI", "U", 11),          # several events, one key:
             ("c", [7, 7], 2, "MGI", "U", 13),       # the max-lsn winner inserts
             ("c", [6], 1, "MGI", "U", 12),
             ("b", None, None, None, "D", 14),       # delete of an existing key
             ("d", [8], 1, "ZFIN", "U", 15),         # inserted, then deleted
             ("d", None, None, None, "D", 16)]),      # in the same batch
        "1:0", lsn_col="event_lsn", mode="insert_if_absent",
    )
    assert not r["skipped"]
    rows = {x["doc_id"]: (x["tokens"], x["n_tok"], x["source"]) for x in t.read().collect()}
    assert rows == {"a": ([1], 1, "FB"), "c": ([7, 7], 2, "MGI")}


def test_delete_where_predicate(spark, tmproot):
    """K7: predicate-conditional delete — epoch-keyed, bucket-COW,
    NULL-predicate rows kept (three-valued logic)."""
    t = _mk(spark, tmproot, n_buckets=8)
    rows = [(f"d{i}", [i], i % 5, "FB" if i % 2 else "WB", "U") for i in range(40)]
    rows.append(("dnull", [0], None, "FB", "U"))  # n_tok NULL -> predicate NULL
    t.merge(_changes(spark, rows), "0:0")
    before_buckets = dict(t._m["buckets"])

    r = t.delete_where("n_tok = 0 AND source = 'WB'", epoch_key="1:0")
    assert not r["skipped"]
    expect_deleted = {f"d{i}" for i in range(40) if i % 5 == 0 and i % 2 == 0}
    assert r["n_deletes"] == len(expect_deleted)
    left = {x["doc_id"] for x in t.read().collect()}
    assert left == ({f"d{i}" for i in range(40)} | {"dnull"}) - expect_deleted
    assert "dnull" in left, "NULL predicate must keep the row"
    # only buckets containing matches were rewritten
    untouched = [b for b in t._m["buckets"] if int(b) not in r["buckets_touched"]]
    assert untouched and all(t._m["buckets"][b] == before_buckets[b] for b in untouched)
    # exactly-once: same epoch key is a no-op
    assert t.delete_where("true", epoch_key="1:0")["skipped"]
    # no matches -> noop commit, state intact
    r2 = t.delete_where("source = 'NOPE'", epoch_key="2:0")
    assert r2["n_deletes"] == 0 and t.read().count() == len(left)


def test_audit_changes_dry_run(spark, tmproot):
    """K11: changeset classification without commit; state untouched."""
    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1], 1, "FB", "U"), ("b", [2], 1, "WB", "U")]), "0:0")
    sid = t.snapshot_id
    audit = t.audit_changes(
        _changes(spark, [("a", [9], 1, "FB", "U"),     # update
                         ("c", [3], 1, "MGI", "U"),    # insert
                         ("b", None, None, None, "D"),  # delete
                         ("zz", None, None, None, "D")]),  # delete_absent
        audit_path=tmproot + "/audit",
    )
    got = {r["doc_id"]: r["action"] for r in audit.collect()}
    assert got == {"a": "update", "c": "insert", "b": "delete", "zz": "delete_absent"}
    # nothing committed
    assert t.snapshot_id == sid
    assert {r["doc_id"] for r in t.read().collect()} == {"a", "b"}
    # audit parquet persisted for offline review
    assert spark.read.parquet(tmproot + "/audit").count() == 4


def test_arrow_and_pandas_folds_equal(spark, tmproot):
    """The Arrow-native merge path's bucket fold (mapInArrow) against
    hand-derived state and lineage for a change stream with re-delivered
    (key, lsn) duplicates, interleaved deletes, winner-by-max-lsn, empty
    buckets, and a schema-evolved old-schema state file."""

    def _ch(rows):
        return spark.createDataFrame(
            rows,
            "doc_id string, tokens array<int>, n_tok int, source string,"
            " __op string, event_lsn long",
        )

    batches = [
        # seed state incl. a doc that later gets deleted
        [("a", [1, 2], 2, "FB", "U", 1), ("b", [3], 1, "WB", "U", 2),
         ("c", [4], 1, "MGI", "U", 3)],
        # re-delivery of (a, 10) + out-of-order older event + delete
        [("a", [9], 1, "FB", "U", 10), ("a", [9], 1, "FB", "U", 10),
         ("a", [8], 1, "FB", "U", 5), ("b", None, None, None, "D", 11),
         ("d", [6, 6], 2, "ZFIN", "U", 12)],
    ]

    t = LakeTable.create(spark, f"{tmproot}/t", COLS, key="doc_id", n_buckets=4)
    m = [t.merge_arrow(_ch(rows), f"{i}:0", lsn_col="event_lsn")
         for i, rows in enumerate(batches)]
    # schema evolution between merges: old-schema file projection
    t.add_column("lang", "string", src_field="lang")
    m.append(t.merge_arrow(
        spark.createDataFrame(
            [("c", [4, 4], 2, "MGI", "en", "U", 20)],
            "doc_id string, tokens array<int>, n_tok int, source string,"
            " lang string, __op string, event_lsn long",
        ),
        "2:0", lsn_col="event_lsn",
    ))
    state = {r["doc_id"]: r.asDict() for r in t.read().collect()}

    assert set(state) == {"a", "c", "d"}
    assert state["a"]["tokens"] == [9]          # max-lsn wins, dup collapsed
    assert "b" not in state                      # delete applied
    assert state["d"]["lang"] is None            # evolved col null-filled
    assert state["c"]["lang"] == "en" and state["c"]["tokens"] == [4, 4]
    # upsert/delete/dedup counts and offset lineage per commit
    assert [(r["n_upserts"], r["n_deletes"], r["n_duplicates_dropped"]) for r in m] \
        == [(3, 0, 0), (3, 1, 1), (1, 0, 0)]
    for r in m:
        offs = r["per_bucket_offsets"]
        assert set(offs) == {str(b) for b in r["buckets_touched"]}
        assert min(o["min_lsn"] for o in offs.values()) == \
            {"0:0": 1, "1:0": 5, "2:0": 20}[r["epoch_key"]]
        assert max(o["max_lsn"] for o in offs.values()) == \
            {"0:0": 3, "1:0": 12, "2:0": 20}[r["epoch_key"]]
    # the fold's phase columns, summed per commit: rows in from the
    # batch, rows and bytes out to the files the commit wrote
    assert [r["rows_in"] for r in m] == [3, 5, 1]
    assert all(r[c] >= 0 for r in m for c in ("t_read", "t_lww", "t_write"))
    written = [os.path.join(t.root, fe["path"])
               for b in m[-1]["buckets_touched"] for fe in t._m["buckets"][str(b)]]
    assert m[-1]["rows_out"] == sum(pq.read_metadata(p).num_rows for p in written)
    assert m[-1]["bytes_written"] == sum(os.path.getsize(p) for p in written)
    # each attempt's temp file was renamed to the deterministic final name
    assert glob.glob(f"{t.root}/data/**/*.inprogress", recursive=True) == []
    assert {os.path.basename(p) for p in written} == {"part-0.parquet"}


def test_evolve_lineage_in_side_log_and_commit_order(spark, tmproot):
    """Evolve commits route lineage through _lineage.jsonl like every
    other commit path (r3 ADVICE): lineage() must come back in true
    commit order when evolves interleave with merges, and the manifest's
    legacy in-line list must stay empty (O(1) commit metadata)."""
    import json as _json
    import os as _os

    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1], 1, "FB", "U")]), "0:0")
    t.add_column("lang", "string", epoch_key="0:1")
    ch2 = spark.createDataFrame(
        [("b", [2], 1, "FB", "en", "U")],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "lang string, __op string")
    t.merge(ch2, "1:0")
    keys = [lin["epoch_key"] for lin in t.lineage()]
    assert keys == ["0:0", "0:1", "1:0"]
    assert t.snapshot_for_epoch("0:1") == 2
    # nothing accumulates inside the manifest itself
    assert t._m["lineage"] == []
    # every row lives in the side log
    with open(_os.path.join(t.root, "_lineage.jsonl")) as f:
        side = [_json.loads(line) for line in f if line.strip()]
    assert [r["epoch_key"] for r in side] == ["0:0", "0:1", "1:0"]
    assert side[1]["operation"] == "evolve"


def test_lineage_side_log_cache_invalidation(spark, tmproot):
    """The parsed side log is cached per (mtime, size); an append must
    invalidate it so readers never see stale lineage."""
    t = _mk(spark, tmproot)
    t.merge(_changes(spark, [("a", [1], 1, "FB", "U")]), "0:0")
    assert len(t.lineage()) == 1
    first = t._lineage_rows()
    assert t._lineage_rows() is first  # cache hit, same object
    t.merge(_changes(spark, [("b", [2], 1, "FB", "U")]), "1:0")
    assert [lin["epoch_key"] for lin in t.lineage()] == ["0:0", "1:0"]


def test_fold_partitions_sparse_cap(spark, tmproot):
    """CDC trickle regime: a tiny segment must not pay a full wave of
    Arrow round-trips. With 64 touched buckets and 100 rows the fold is
    one task; steady-state segments (>= cores x SPARSE_FOLD_ROWS rows)
    keep the one-balanced-wave plan unchanged."""
    t = _mk(spark, tmproot, n_buckets=64)
    cores = spark.sparkContext.defaultParallelism
    wave = t.fold_partitions(64, n_rows=cores * t.SPARSE_FOLD_ROWS)
    # sparse: capped by rows, not by wave
    assert t.fold_partitions(64, n_rows=100) == 1
    assert t.fold_partitions(64, n_rows=t.SPARSE_FOLD_ROWS * 3) == 3
    # steady state: unchanged full wave (bounded by touched buckets)
    assert wave == min(64, cores)
    # unknown row count: conservative, no cap applied
    assert t.fold_partitions(64) == min(64, cores)


def test_fold_partitions_sparse_cap_state_floor(spark, tmproot):
    """A trickle patch over a table whose buckets already CARRY state
    must keep the state rewrites parallel: each fold task re-reads and
    rewrites its buckets' existing files, so the cap is floored at
    ceil(state_buckets / per-task budget) even when the changeset is
    100 rows (the advice-flagged serialization regression)."""
    t = _mk(spark, tmproot, n_buckets=8)
    # seed every bucket with state
    t.merge(_changes(spark, [(f"d{i}", [i], 1, "FB", "U") for i in range(64)]),
            "0:0")
    n_state = sum(1 for f in t._m["buckets"].values() if f)
    assert n_state >= 7  # 64 keys over 8 buckets: all or nearly all carry state
    # 100-row trickle: floored by state buckets / budget (2), not 1 task
    assert t.fold_partitions(8, n_rows=100) == -(-n_state // 2)
    # fresh table (no state): the pure-sparse cap still collapses to 1
    t2 = _mk(spark, tmproot + "/fresh", n_buckets=8)
    assert t2.fold_partitions(8, n_rows=100) == 1


@pytest.mark.parametrize("sink", ["merge_arrow", "merge_delta"])
def test_fold_keeps_batch_bigint_exact_next_to_nulls(spark, tmproot, sink):
    """A bigint above 2**53 that arrives in one bucket's batch next to a
    null in the same column is written exactly, on both commit paths."""
    t = LakeTable.create(spark, f"{tmproot}/{sink}", [("k", "string", None), ("v", "bigint", None)],
                         key="k", n_buckets=1)
    big = 2**53 + 1
    rows = spark.createDataFrame([("a", big, "U", 1), ("b", None, "U", 2)],
                                 "k string, v bigint, __op string, lsn long")
    getattr(t, sink)(rows, "0:0", lsn_col="lsn")
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": big, "b": None}


def test_precombined_n_upserts_counts_applied_upserts(spark, tmproot):
    """A precombined commit counts the upserts it applied, not the state
    rows its bucket rewrite kept: 10 keys, then 1 key, into one bucket."""
    from agr_loader_spark.lake.table import BUCKET_COL
    from agr_loader_spark.lake.arrow_merge import precombine_lww

    t = _mk(spark, tmproot, n_buckets=1)

    def commit(keys, epoch_key):
        rows = _changes(spark, [(k, [1], 1, "FB", "U") for k in keys]) \
            .withColumn("lsn", F.lit(int(epoch_key.split(":")[0])).cast("long")) \
            .withColumn(BUCKET_COL, F.lit(0))
        combined = precombine_lww(rows, key="doc_id", lsn_col="lsn")
        return t.merge_arrow(combined.repartition(1), epoch_key, lsn_col="lsn",
                             prepared=True, precombined=True)

    assert commit([f"k{i}" for i in range(10)], "0:0")["n_upserts"] == 10
    r = commit(["k3"], "1:0")
    assert r["n_upserts"] == 1
    assert "n_duplicates_dropped" not in r
    assert t.read().count() == 10


def test_fold_placement_matches_spark_hash(spark, tmproot):
    """The in-process placement reproduces Spark's own: the numpy hash
    equals F.hash on ints, each salt is the smallest non-negative int
    that Spark's hash sends to its partition, and a placed changeset
    puts bucket b in partition b % p."""
    from agr_loader_spark.lake.table import BUCKET_COL, fold_salts, spark_hash_int

    ints = spark.range(-5000, 10001).select(F.col("id").cast("int").alias("v"))
    got = ints.select("v", F.hash("v").alias("h")).orderBy("v").toPandas()
    assert (spark_hash_int(got["v"].to_numpy()) == got["h"].to_numpy()).all()

    # per p: the first v in 0..64p-1 landing in each partition, as Spark
    # computes it
    probe = (
        spark.range(1, 65).toDF("p").crossJoin(spark.range(64 * 64).toDF("v"))
        .filter(F.col("v") < 64 * F.col("p"))
        .groupBy("p", F.pmod(F.hash(F.col("v").cast("int")), F.col("p")).alias("t"))
        .agg(F.min("v").alias("v"))
        .collect()
    )
    want: dict[int, dict[int, int]] = {}
    for r in probe:
        want.setdefault(r["p"], {})[r["t"]] = r["v"]
    for p in range(1, 65):
        assert fold_salts(p).tolist() == [want[p][i] for i in range(p)], p

    t = _mk(spark, tmproot, n_buckets=16)
    ch = _changes(spark, [(f"d{i}", [i], 1, "FB", "U") for i in range(400)]) \
        .withColumn("lsn", F.lit(1).cast("long"))
    placed = t.balanced_fold_repartition(t.project_changes(ch, "lsn"), 16)
    p = t.fold_partitions(16)
    assert p > 1
    seen = placed.select(BUCKET_COL, F.spark_partition_id().alias("pid")) \
        .distinct().collect()
    assert len({r[BUCKET_COL] for r in seen}) == 16
    assert all(r["pid"] == r[BUCKET_COL] % p for r in seen), sorted(map(tuple, seen))
