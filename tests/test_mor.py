"""Merge-on-read delta sink: LWW across base+delta files, tombstones,
compaction, exactly-once, schema evolution, and end-to-end runner
equivalence with the COW sink."""

import pyspark.sql.functions as F
import pytest

from agr_loader_spark.lake.table import LakeTable

COLS = [("doc_id", "string", "doc_id"), ("tokens", "array<int>", "tokens"),
        ("n_tok", "int", "n_tok"), ("source", "string", "source")]


def _ch(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string,"
        " __op string, event_lsn long",
    )


def _mk(spark, tmproot, name="t", n_buckets=4):
    return LakeTable.create(spark, f"{tmproot}/{name}", COLS, key="doc_id",
                            n_buckets=n_buckets)


def test_delta_lww_across_commits(spark, tmproot):
    t = _mk(spark, tmproot)
    # base state via COW, then two delta commits with out-of-order lsns
    t.merge_arrow(_ch(spark, [("a", [1], 1, "FB", "U", 1),
                              ("b", [2], 1, "WB", "U", 2)]),
                  "0:0", lsn_col="event_lsn")
    t.merge_delta(_ch(spark, [("a", [9], 1, "FB", "U", 10),
                              ("c", [5], 1, "MGI", "U", 11)]),
                  "1:0", lsn_col="event_lsn")
    # older event for a (lsn 5 < 10) arrives in a LATER delta: must lose
    t.merge_delta(_ch(spark, [("a", [8], 1, "FB", "U", 5),
                              ("b", None, None, None, "D", 12)]),
                  "2:0", lsn_col="event_lsn")
    rows = {r["doc_id"]: r.asDict() for r in t.read().collect()}
    assert set(rows) == {"a", "c"}
    assert rows["a"]["tokens"] == [9]
    # resolved per bucket by the fold's kernel: no shuffle, no JVM agg
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Exchange" not in plan
    # delta files accumulated, base untouched
    fs = t._m["buckets"]
    kinds = [fe.get("kind", "base") for files in fs.values() for fe in files]
    assert kinds.count("delta") >= 2


def test_delta_redelivery_tiebreak_and_exactly_once(spark, tmproot):
    t = _mk(spark, tmproot)
    t.merge_delta(_ch(spark, [("a", [1], 1, "FB", "U", 7),
                              ("a", [1], 1, "FB", "U", 7)]),  # in-batch dup
                  "0:0", lsn_col="event_lsn")
    # same (key, lsn) re-delivered in a later commit: __seq breaks the tie
    t.merge_delta(_ch(spark, [("a", [1], 1, "FB", "U", 7)]),
                  "1:0", lsn_col="event_lsn")
    assert [r["tokens"] for r in t.read().collect()] == [[1]]
    r = t.merge_delta(_ch(spark, [("a", [999], 1, "FB", "U", 99)]),
                      "1:0", lsn_col="event_lsn")
    assert r["skipped"]
    assert [r["tokens"] for r in t.read().collect()] == [[1]]


def test_compaction_collapses_and_purges_tombstones(spark, tmproot):
    t = _mk(spark, tmproot, n_buckets=2)
    t.merge_delta(_ch(spark, [(f"d{i}", [i], 1, "FB", "U", i) for i in range(20)]),
                  "0:0", lsn_col="event_lsn")
    t.merge_delta(_ch(spark, [("d3", None, None, None, "D", 100),
                              ("d4", [44], 1, "WB", "U", 101)]),
                  "1:0", lsn_col="event_lsn")
    before = {r["doc_id"]: r.asDict() for r in t.read().collect()}
    res = t.compact()
    assert not res.get("skipped")
    after = {r["doc_id"]: r.asDict() for r in t.read().collect()}
    assert before == after
    assert "d3" not in after and after["d4"]["tokens"] == [44]
    # every bucket now holds at most one file, and no deltas remain
    for files in t._m["buckets"].values():
        assert len(files) <= 1
        assert all(fe.get("kind", "base") == "base" for fe in files)
    # tombstone is physically gone from data files
    reread = LakeTable.load(spark, t.root)
    assert "d3" not in {r["doc_id"] for r in reread.read().collect()}
    # compacting again is a no-op
    assert t.compact()["skipped"]


def test_delta_all_tombstoned_bucket_empties_on_compact(spark, tmproot):
    t = _mk(spark, tmproot, n_buckets=1)
    t.merge_delta(_ch(spark, [("a", [1], 1, "FB", "U", 1)]), "0:0",
                  lsn_col="event_lsn")
    t.merge_delta(_ch(spark, [("a", None, None, None, "D", 2)]), "1:0",
                  lsn_col="event_lsn")
    assert t.read().count() == 0
    res = t.compact()
    assert (res["n_upserts"], res["n_deletes"]) == (0, 0)
    assert t.history()[-1]["operation"] == "compact"
    assert t.read().count() == 0
    assert all(files == [] for files in t._m["buckets"].values())
    upsert_b = _ch(spark, [("b", [2], 1, "FB", "U", 3)]).drop("event_lsn")
    t.merge(upsert_b, "2:0")
    assert [r["doc_id"] for r in t.read().collect()] == ["b"]


def _mor_twin(spark, root):
    """A table whose every bucket carries a base file and delta files:
    keys overwritten, tombstoned and resurrected across commits, with an
    older lsn arriving in a later delta."""
    t = LakeTable.create(spark, root, COLS, key="doc_id", n_buckets=2)
    t.merge_arrow(_ch(spark, [(f"d{i}", [i], 1, "FB", "U", i) for i in range(12)]),
                  "0:0", lsn_col="event_lsn")
    t.merge_delta(_ch(spark, [("d0", [100], 2, "WB", "U", 20),
                              ("d1", None, None, None, "D", 21),
                              ("d2", None, None, None, "D", 22),
                              ("n0", [7], 3, "MGI", "U", 23),
                              ("n1", [8], 3, "MGI", "U", 24)]),
                  "1:0", lsn_col="event_lsn")
    t.merge_delta(_ch(spark, [("d0", [99], 2, "WB", "U", 5),  # older: loses
                              ("d2", [202], 2, "RGD", "U", 30),
                              ("n1", None, None, None, "D", 31),
                              ("d3", None, None, None, "D", 32)]),
                  "2:0", lsn_col="event_lsn")
    assert all(any(fe.get("kind") == "delta" for fe in fs)
               for fs in t._m["buckets"].values())
    return t


_BATCH = [("d0", [1000], 9, "ZFIN", "U"), ("d1", [1001], 9, "ZFIN", "U"),
          ("d3", [1003], 9, "ZFIN", "U"), ("n0", [1004], 9, "ZFIN", "U"),
          ("n9", [1009], 9, "ZFIN", "U"), ("d2", None, None, None, "D"),
          ("d5", None, None, None, "D")]


def _commit(t, spark, case):
    if case == "delete_where":
        return t.delete_where("n_tok >= 2", "3:0")
    ch = spark.createDataFrame(
        _BATCH, "doc_id string, tokens array<int>, n_tok int, source string, __op string")
    return t.merge(ch, "3:0", mode=case)


@pytest.mark.parametrize("case", ["lww", "update_only", "insert_if_absent",
                                  "delete_where"])
def test_cow_commit_over_deltas_equals_compact_first(spark, tmproot, case):
    direct = _mor_twin(spark, f"{tmproot}/direct")
    first = _mor_twin(spark, f"{tmproot}/first")
    assert not first.compact().get("skipped")
    r = _commit(direct, spark, case)
    _commit(first, spark, case)
    rows = lambda t: sorted((x["doc_id"], x["tokens"], x["n_tok"], x["source"])
                            for x in t.read().collect())
    assert rows(direct) == rows(first)
    assert r["buckets_touched"]
    for b in r["buckets_touched"]:
        files = direct._m["buckets"][str(b)]
        assert len(files) <= 1 and all("kind" not in fe for fe in files)
    got = {k for k, *_ in rows(direct)}
    if case == "update_only":
        assert "d1" not in got and "n9" not in got  # tombstoned / absent
    if case == "insert_if_absent":
        assert ("n0", [7], 3, "MGI") in rows(direct)  # live delta row kept


def test_delta_schema_evolution_projection(spark, tmproot):
    t = _mk(spark, tmproot)
    t.merge_delta(_ch(spark, [("a", [1], 1, "FB", "U", 1)]), "0:0",
                  lsn_col="event_lsn")
    t.add_column("lang", "string", src_field="lang")
    t.merge_delta(
        spark.createDataFrame(
            [("b", [2], 1, "WB", "en", "U", 2)],
            "doc_id string, tokens array<int>, n_tok int, source string,"
            " lang string, __op string, event_lsn long",
        ),
        "1:0", lsn_col="event_lsn",
    )
    rows = {r["doc_id"]: r.asDict() for r in t.read().collect()}
    assert rows["a"]["lang"] is None and rows["b"]["lang"] == "en"
    t.compact()
    rows2 = {r["doc_id"]: r.asDict() for r in t.read().collect()}
    assert rows == rows2


def test_runner_delta_sink_equals_cow_end_to_end(spark, tmproot):
    from agr_loader_spark.generator import generate_binlog
    from agr_loader_spark.schema import TOKENS_MERGE_KEY, TOKENS_TABLE_COLUMNS
    from agr_loader_spark.streaming.runner import ReplayRunner

    log = generate_binlog(spark, n_events=30_000, n_docs=2_000,
                          epoch_size=10_000, seed=11)
    finals = []
    for sink in ("arrow", "delta"):
        t = LakeTable.create(spark, f"{tmproot}/{sink}", TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=8)
        metrics = ReplayRunner(spark, t, source_df=log, sink=sink).run()
        assert all(not m.get("skipped") for m in metrics)
        if sink == "delta":
            assert metrics[-1].get("operation") == "compact"
            # post-compaction: fully read-optimized, no deltas left
            assert all(
                fe.get("kind", "base") == "base"
                for fs in t._m["buckets"].values() for fe in fs
            )
        finals.append({r["doc_id"]: r.asDict() for r in t.read().collect()})
    assert finals[0] == finals[1]
