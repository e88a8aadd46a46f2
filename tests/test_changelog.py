"""Snapshot-diff changelog (CDC read-side) + bucket point lookup:
changes_between(s1, s2) applied to state(s1) reproduces state(s2) exactly,
ops are classified I/U/D, unchanged buckets are pruned via manifests,
and the diff is well-defined across schema evolution."""

import pyspark.sql.functions as F

from agr_loader_spark.generator import generate_binlog
from agr_loader_spark.lake.table import OP_COL, LakeTable
from agr_loader_spark.schema import TOKENS_MERGE_KEY, TOKENS_TABLE_COLUMNS
from agr_loader_spark.streaming.runner import ReplayRunner


def _tokens_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    return list(a) == list(b)


def test_changes_between_reconstructs_state(spark, tmproot):
    log = generate_binlog(spark, n_events=6000, n_docs=400, epoch_size=2000,
                          seed=9, with_schema_changes=False)
    path = tmproot + "/log"
    log.write.partitionBy("epoch").parquet(path)
    table = LakeTable.create(spark, tmproot + "/t", TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=8)
    ReplayRunner(spark, table, source_path=path).run()
    table = LakeTable.load(spark, table.root)
    lineage = table.lineage()
    assert len(lineage) >= 3
    s1 = int(lineage[0]["snapshot_id"])
    s3 = int(lineage[-1]["snapshot_id"])

    diff = table.changes_between(s1, s3)
    rows = diff.collect()
    assert rows, "epochs 2..3 must net-change something"
    assert set(r[OP_COL] for r in rows) <= {"I", "U", "D"}
    # no duplicate keys in a net diff
    keys = [r["doc_id"] for r in rows]
    assert len(keys) == len(set(keys))

    # invariant: state(s1) + diff == state(s3)
    old = {r["doc_id"]: r for r in table.at_snapshot(s1).read().collect()}
    new = {r["doc_id"]: r for r in table.at_snapshot(s3).read().collect()}
    replayed = dict(old)
    for r in rows:
        if r[OP_COL] == "D":
            assert r["doc_id"] in old, "delete of a key absent at s1"
            replayed.pop(r["doc_id"])
        else:
            if r[OP_COL] == "I":
                assert r["doc_id"] not in old
            else:
                assert r["doc_id"] in old
            replayed[r["doc_id"]] = r
    assert set(replayed) == set(new)
    for k in new:
        assert _tokens_eq(replayed[k]["tokens"], new[k]["tokens"]), k
        assert replayed[k]["n_tok"] == new[k]["n_tok"], k

    # self-diff is empty; unchanged-bucket pruning means zero scan too
    assert table.changes_between(s3, s3).count() == 0


def test_changes_between_mor_snapshots_equal_cow_twin(spark, tmproot):
    """The diff of two merge-on-read snapshots (delta-carrying buckets on
    both sides, resolved by read()) equals the diff of a copy-on-write
    twin fed the same batches."""
    log = generate_binlog(spark, n_events=6000, n_docs=400, epoch_size=2000,
                          seed=17, with_schema_changes=False)
    diffs = []
    for sink in ("delta", "arrow"):
        table = LakeTable.create(spark, f"{tmproot}/{sink}", TOKENS_TABLE_COLUMNS,
                                 key=TOKENS_MERGE_KEY, n_buckets=8)
        ReplayRunner(spark, table, source_df=log, sink=sink,
                     compact_at_end=False).run()
        keys = [r["epoch_key"] for r in table.lineage()]
        s1, s3 = (table.snapshot_for_epoch(k) for k in (keys[0], keys[-1]))
        if sink == "delta":
            for sid in (s1, s3):
                assert any(fe.get("kind") == "delta" for fs in
                           table.at_snapshot(sid)._m["buckets"].values() for fe in fs)
        diffs.append(sorted(
            (r[OP_COL], r["doc_id"], r["tokens"] and tuple(r["tokens"]), r["n_tok"],
             r["source"])
            for r in table.changes_between(s1, s3).collect()))
    assert diffs[0] and diffs[0] == diffs[1]


def test_changes_between_across_schema_evolution(spark, tmproot):
    log = generate_binlog(spark, n_events=6000, n_docs=300, epoch_size=2000,
                          seed=13, with_schema_changes=True)
    path = tmproot + "/log"
    log.write.partitionBy("epoch").parquet(path)
    table = LakeTable.create(spark, tmproot + "/t", TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=8)
    ReplayRunner(spark, table, source_path=path).run()
    table = LakeTable.load(spark, table.root)
    lineage = table.lineage()
    s1 = int(lineage[0]["snapshot_id"])
    s_last = int(lineage[-1]["snapshot_id"])
    diff = table.changes_between(s1, s_last)
    # diff carries the TO snapshot's (evolved) schema
    to_cols = [c.name for c in table.at_snapshot(s_last).columns()]
    assert list(diff.columns) == [OP_COL] + to_cols
    assert diff.count() > 0


def test_point_lookup_reads_only_touched_buckets(spark, tmproot):
    log = generate_binlog(spark, n_events=4000, n_docs=300, epoch_size=2000,
                          seed=21, with_schema_changes=False)
    table = LakeTable.create(spark, tmproot + "/t", TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=16)
    ReplayRunner(spark, table, source_df=log).run()
    table = LakeTable.load(spark, table.root)
    all_rows = {r["doc_id"]: r for r in table.read().collect()}
    some = sorted(all_rows)[:5]
    got = table.lookup(some).collect()
    assert sorted(r["doc_id"] for r in got) == some
    for r in got:
        assert _tokens_eq(r["tokens"], all_rows[r["doc_id"]]["tokens"])
    # missing key -> no row, no error
    assert table.lookup(["__nope__"]).count() == 0


def test_changes_between_null_compensating_shift(spark, tmproot):
    """ADVICE r1: a row whose values move between columns in a
    null-compensating way (tokens [5] -> null while source null -> set)
    must appear as 'U' — xxhash64 skips nulls and would hash both sides
    equal. Also: equal-lsn re-sends of identical rows stay absent."""
    table = LakeTable.create(spark, tmproot + "/t", TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=4)
    runner = ReplayRunner(spark, table, source_df=spark.createDataFrame(
        [
            {"event_lsn": 1, "epoch": 0, "op": "U", "doc_id": "d1",
             "tokens": [5], "n_tok": 1, "source": None, "lang": None,
             "schema_change": None, "ts": None},
            {"event_lsn": 2, "epoch": 1, "op": "U", "doc_id": "d1",
             "tokens": None, "n_tok": 1, "source": "xx", "lang": None,
             "schema_change": None, "ts": None},
        ],
        "event_lsn long, epoch int, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string, lang string, "
        "schema_change struct<kind:string,column:string,new_name:string,"
        "new_type:string,src_field:string>, ts timestamp",
    ))
    runner.run()
    table = LakeTable.load(spark, table.root)
    lin = table.lineage()
    s1, s2 = int(lin[0]["snapshot_id"]), int(lin[-1]["snapshot_id"])
    rows = table.changes_between(s1, s2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r[OP_COL] == "U" and r["doc_id"] == "d1"
    assert r["tokens"] is None and r["source"] == "xx"
