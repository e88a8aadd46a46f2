"""Property-based replay equivalence: hypothesis-generated event logs
(adversarial op mixes, duplicate lsns, delete/insert churn, empty
epochs) must fold to exactly the scalar-oracle state, on the copy-on-write
sink and on the merge-on-read sink."""

import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from agr_loader_spark.lake.table import LakeTable
from agr_loader_spark.schema import EVENT_SCHEMA, TOKENS_MERGE_KEY, TOKENS_TABLE_COLUMNS
from agr_loader_spark.streaming.runner import ReplayRunner

DOCS = [f"doc:{i}" for i in range(6)]

event_st = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.sampled_from(DOCS),
    st.lists(st.integers(0, 100), min_size=0, max_size=4),
)
log_st = st.lists(event_st, min_size=1, max_size=30)
dup_mask_st = st.lists(st.booleans(), min_size=30, max_size=30)


def _rows(log, dup_mask, epoch_size):
    rows = []
    for lsn, (op, doc, toks) in enumerate(log):
        r = {
            "event_lsn": lsn, "epoch": lsn // epoch_size, "op": op,
            "doc_id": doc,
            "tokens": None if op == "D" else toks,
            "n_tok": None if op == "D" else len(toks),
            "source": None if op == "D" else "FB",
            "lang": None, "schema_change": None, "ts": None,
        }
        rows.append(r)
        if dup_mask[lsn]:  # exact re-delivery
            rows.append(dict(r))
    return rows


def _oracle(log):
    state = {}
    for op, doc, toks in log:  # already in lsn order
        if op == "D":
            state.pop(doc, None)
        else:
            state[doc] = toks
    return state


@pytest.mark.parametrize("sink", ["arrow", "delta"])
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(log=log_st, dup_mask=dup_mask_st, epoch_size=st.sampled_from([3, 7, 50]))
def test_random_logs_fold_to_oracle(spark, sink, log, dup_mask, epoch_size):
    root = tempfile.mkdtemp(prefix="prop_")
    try:
        df = spark.createDataFrame(_rows(log, dup_mask, epoch_size), schema=EVENT_SCHEMA)
        table = LakeTable.create(spark, root + "/t", TOKENS_TABLE_COLUMNS,
                                 key=TOKENS_MERGE_KEY, n_buckets=4)
        ReplayRunner(spark, table, source_df=df, sink=sink).run()
        got = {r["doc_id"]: list(r["tokens"]) for r in table.read().collect()}
        assert got == _oracle(log)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(log=log_st, dup_mask=dup_mask_st, seg_size=st.sampled_from([2, 5, 11]))
def test_mixed_cow_mor_segments_fold_to_oracle(spark, log, dup_mask, seg_size):
    """Segments alternate merge_delta and merge_arrow (copy-on-write
    commits over delta-carrying buckets), with one compact() mid-log;
    read() equals the oracle before and after the final compact()."""
    root = tempfile.mkdtemp(prefix="prop_mixed_")
    try:
        rows = [(r["doc_id"], r["tokens"], r["n_tok"], r["source"],
                 "D" if r["op"] == "D" else "U", r["event_lsn"])
                for r in _rows(log, dup_mask, seg_size)]
        table = LakeTable.create(spark, root + "/t", TOKENS_TABLE_COLUMNS,
                                 key=TOKENS_MERGE_KEY, n_buckets=4)
        segs = [[r for r in rows if r[-1] // seg_size == s]
                for s in range(rows[-1][-1] // seg_size + 1)]
        for i, seg in enumerate(segs):
            ch = spark.createDataFrame(
                seg, "doc_id string, tokens array<int>, n_tok int, source string,"
                     " __op string, event_lsn long")
            commit = table.merge_delta if i % 2 == 0 else table.merge_arrow
            commit(ch, f"{i}:0", lsn_col="event_lsn")
            if i == len(segs) // 2:
                table.compact()
        want = _oracle(log)
        read = lambda: {r["doc_id"]: list(r["tokens"]) for r in table.read().collect()}
        assert read() == want
        table.compact()
        assert all(fe.get("kind", "base") == "base"
                   for fs in table._m["buckets"].values() for fe in fs)
        assert read() == want
    finally:
        shutil.rmtree(root, ignore_errors=True)
