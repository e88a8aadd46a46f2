"""Hot-key skew stress + snapshot expiry maintenance."""

import pyspark.sql.functions as F

from agr_loader_spark.generator import generate_binlog
from agr_loader_spark.lake.table import LakeTable
from agr_loader_spark.schema import TOKENS_MERGE_KEY, TOKENS_TABLE_COLUMNS
from agr_loader_spark.streaming.runner import ReplayRunner


def _table(spark, root, n_buckets=8):
    return LakeTable.create(spark, root, TOKENS_TABLE_COLUMNS,
                            key=TOKENS_MERGE_KEY, n_buckets=n_buckets)


def test_extreme_hot_key_replay_correct(spark, tmproot):
    """One doc_id carries ~60% of all events (far past the F2 dial);
    both sinks must still produce the exact scalar LWW fold."""
    log = generate_binlog(spark, n_events=8000, n_docs=5, zipf_s=2.0,
                          epoch_size=2000, seed=13, with_schema_changes=False)
    top_share = (
        log.groupBy("doc_id").count().orderBy(F.desc("count")).first()["count"] / 8000
    )
    assert top_share > 0.5  # genuinely pathological

    # oracle: replay the log one event at a time in lsn order
    want = {}
    for r in sorted(log.collect(), key=lambda r: r["event_lsn"]):
        if r["op"] == "D":
            want.pop(r["doc_id"], None)
        else:
            want[r["doc_id"]] = (r["n_tok"], list(r["tokens"]))
    assert 0 < len(want) <= 5
    for sink in ("arrow", "delta"):
        t = _table(spark, f"{tmproot}/{sink}")
        ReplayRunner(spark, t, source_df=log, sink=sink).run()
        got = {r["doc_id"]: (r["n_tok"], list(r["tokens"])) for r in t.read().collect()}
        assert got == want, sink


def test_expire_snapshots(spark, tmproot):
    t = _table(spark, tmproot + "/t")
    for e in range(6):
        ch = spark.createDataFrame(
            [(f"d{e}", [e], 1, "FB", "U")],
            "doc_id string, tokens array<int>, n_tok int, source string, __op string",
        )
        t.merge(ch, f"{e}:0")
    state_before = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    out = t.expire_snapshots(keep_last=2)
    assert out["removed_snapshots"] >= 4
    # reload from disk: current state intact, exactly-once memory intact
    t2 = LakeTable.load(spark, t.root)
    assert {r["doc_id"]: r["tokens"] for r in t2.read().collect()} == state_before
    assert t2.merge(
        spark.createDataFrame(
            [("dX", [9], 1, "FB", "U")],
            "doc_id string, tokens array<int>, n_tok int, source string, __op string",
        ),
        "0:0",  # already-applied epoch key survives expiry
    )["skipped"]
