"""Replay-equivalence tests (FIXTURES.md F3, SURVEY.md §5 layer 2).

Synthesize a deterministic event log, replay it through the engine,
compare final lake state to the scalar pandas oracle fold byte-for-byte
under token-array equality — including duplicate re-delivery, delete-
then-insert, mid-stream schema change, and resume-from-checkpoint.
"""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from agr_loader_spark.generator import generate_binlog, schema_change_plan
from agr_loader_spark.lake.table import LakeTable
from agr_loader_spark.schema import TOKENS_MERGE_KEY, TOKENS_TABLE_COLUMNS
from agr_loader_spark.streaming.runner import ReplayRunner

from .replay_oracle import oracle_fold

N_EVENTS, N_DOCS, EPOCH = 6_000, 400, 1_000


@pytest.fixture(scope="module")
def binlog(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("binlog") / "log")
    generate_binlog(
        spark, n_events=N_EVENTS, n_docs=N_DOCS, epoch_size=EPOCH, seed=7,
    ).write.partitionBy("epoch").parquet(path)
    return path


@pytest.fixture(scope="module")
def oracle_df(spark, binlog):
    pdf = spark.read.parquet(binlog).toPandas()
    pdf["schema_change"] = pdf["schema_change"].map(
        lambda r: None if r is None else (r if isinstance(r, dict) else r.asDict())
    )
    return oracle_fold(pdf)


def _fresh_table(spark, tmproot):
    return LakeTable.create(
        spark, tmproot + "/tokens", TOKENS_TABLE_COLUMNS, key=TOKENS_MERGE_KEY, n_buckets=16
    )


def _assert_state_equals_oracle(table, oracle_df):
    got = table.read().toPandas().sort_values("doc_id").reset_index(drop=True)
    exp = oracle_df.sort_values("doc_id").reset_index(drop=True)
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    for g, e in zip(got["tokens"], exp["tokens"]):
        assert (g is None and e is None) or list(g) == list(e)  # token-array equality
    for col in got.columns:
        if col in ("tokens",):
            continue
        ge, ee = got[col], exp[col]
        assert [None if pd.isna(x) else x for x in ge] == [
            None if pd.isna(x) else x for x in ee
        ], col


@pytest.mark.parametrize("sink,pipeline", [("arrow", False), ("arrow", True)])
def test_replay_matches_oracle(spark, tmproot, binlog, oracle_df, sink, pipeline):
    """pipeline=True exercises the schema-aware async prefetch: every
    prepared segment is planned under a SIMULATED future schema and must
    still produce the byte-identical final state."""
    import json
    import os

    table = _fresh_table(spark, tmproot)
    runner = ReplayRunner(spark, table, source_path=binlog, sink=sink, pipeline=pipeline)
    metrics = runner.run()
    _assert_state_equals_oracle(table, oracle_df)
    # schema evolution happened mid-stream
    assert [c.name for c in table.columns()] == ["doc_id", "tokens", "n_tok", "origin", "lang"]
    assert dict(table.read().dtypes)["n_tok"] == "bigint"
    # every schema commit is timed in the metrics stream, like data segments
    with open(os.path.join(table.root, "_metrics.jsonl")) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    evolves = [r for r in recs if str(r.get("operation", "")).startswith("evolve:")]
    assert len(evolves) == len(schema_change_plan(N_EVENTS))
    assert all(r["seconds"] >= 0 for r in evolves)
    # every data segment's record splits its fold job into phases
    folds = [r for r in recs if "sec_job" in r]
    assert folds and all(r["rows_in"] > 0 and r["rows_out"] > 0 and r["bytes_written"] > 0
                         and min(r["t_read"], r["t_lww"], r["t_write"]) >= 0 for r in folds)
    # metrics per micro-batch: every data segment produced a lineage row
    lineage = table.lineage()
    data_keys = {m["epoch_key"] for m in metrics if "n_upserts" in m and not m.get("skipped")}
    assert data_keys == {l["epoch_key"] for l in lineage if "n_upserts" in l}
    # duplicates were present and dropped (the precombined default
    # estimates them in planning, the uncombined fold counts them exactly)
    assert sum(
        l.get("n_duplicates_dropped", l.get("n_duplicates_dropped_approx", 0)) or 0
        for l in lineage
    ) > 0
    # lineage offsets are contiguous, ordered, non-overlapping
    spans = [(l["min_lsn"], l["max_lsn"]) for l in lineage
             if l.get("min_lsn") is not None]
    assert spans == sorted(spans) and all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
    # per-PARTITION lineage: each touched bucket records the offset range
    # it absorbed, bounded by the segment's own span
    for l in lineage:
        pb = l.get("per_bucket_offsets")
        if not pb:
            continue
        assert set(pb) == {str(b) for b in l["buckets_touched"]}
        for ofs in pb.values():
            assert l["min_lsn"] <= ofs["min_lsn"] <= ofs["max_lsn"] <= l["max_lsn"]


def test_resume_from_checkpoint_mid_stream(spark, tmproot, binlog, oracle_df):
    table = _fresh_table(spark, tmproot)
    # crash after 3 segment commits
    ReplayRunner(spark, table, source_path=binlog).run(stop_after=3)
    # fresh process: reload table from disk, re-run from the start
    table2 = LakeTable.load(spark, table.root)
    metrics = ReplayRunner(spark, table2, source_path=binlog).run()
    assert sum(1 for m in metrics if m.get("skipped")) >= 3  # prefix was a no-op
    _assert_state_equals_oracle(table2, oracle_df)
    # second full replay: everything is a no-op, state unchanged
    snap = table2.snapshot_id
    m3 = ReplayRunner(spark, LakeTable.load(spark, table.root), source_path=binlog).run()
    assert all(m.get("skipped") for m in m3)
    assert LakeTable.load(spark, table.root).snapshot_id == snap


def test_resume_prunes_applied_epochs(spark, tmproot, binlog, oracle_df):
    """The resume fast path: epochs whose final segment committed carry
    an epoch_final lineage stamp, and a re-run prunes them BEFORE the
    planning scan — resuming a 10^10-event replay near its end must not
    re-scan the whole log. Same observable semantics as the slow path:
    one skip record per applied segment, state and snapshot untouched."""
    table = _fresh_table(spark, tmproot)
    m0 = ReplayRunner(spark, table, source_path=binlog).run()
    n_committed = sum(1 for m in m0 if not m.get("skipped"))
    # full re-run: every epoch complete -> no planning scan at all
    t2 = LakeTable.load(spark, table.root)
    snap = t2.snapshot_id
    m = ReplayRunner(spark, t2, source_path=binlog).run()
    assert m and all(x.get("skipped") for x in m)
    assert all(x.get("pruned") for x in m)  # every record from the prune path
    assert len(m) == n_committed  # one synthesized skip per applied segment
    assert LakeTable.load(spark, table.root).snapshot_id == snap
    _assert_state_equals_oracle(LakeTable.load(spark, table.root), oracle_df)
    # escape hatch: prune_applied=False walks the slow path, same answer
    m2 = ReplayRunner(spark, LakeTable.load(spark, table.root),
                      source_path=binlog, prune_applied=False).run()
    assert all(x.get("skipped") for x in m2)
    assert not any(x.get("pruned") for x in m2)
    assert LakeTable.load(spark, table.root).snapshot_id == snap
    # partial resume: crash mid-replay, re-run prunes only complete epochs
    # and still converges to the oracle
    t3root = tmproot + "/tokens_prune_partial"
    t3 = LakeTable.create(spark, t3root, TOKENS_TABLE_COLUMNS,
                          key=TOKENS_MERGE_KEY, n_buckets=16)
    ReplayRunner(spark, t3, source_path=binlog).run(stop_after=4)
    m3 = ReplayRunner(spark, LakeTable.load(spark, t3root),
                      source_path=binlog).run()
    assert sum(1 for x in m3 if not x.get("skipped")) >= 1  # tail applied
    _assert_state_equals_oracle(LakeTable.load(spark, t3root), oracle_df)


def test_stepped_replay_with_precomputed_plan(spark, tmproot, binlog, oracle_df):
    """The scaling-v3 worker shape: plan once on a static log, then step
    through it one commit at a time with run(stop_after=1, plan=plan).
    Must converge to the same final state as a single run() and stop
    committing once the log is exhausted."""
    table = _fresh_table(spark, tmproot)
    runner = ReplayRunner(spark, table, source_path=binlog)
    planobj = runner.plan()
    steps = 0
    while True:
        before = table.snapshot_id
        runner.run(stop_after=1, plan=planobj)
        if table.snapshot_id == before:
            break
        steps += 1
        assert steps < 64
    # one commit per data segment + schema events, at least epochs count
    assert steps >= N_EVENTS // EPOCH
    _assert_state_equals_oracle(table, oracle_df)
    # a further stepped call with the same plan is a pure no-op
    snap = table.snapshot_id
    m = runner.run(plan=planobj)
    assert all(x.get("skipped") for x in m) and table.snapshot_id == snap


def test_invariants(spark, tmproot, binlog):
    table = _fresh_table(spark, tmproot)
    ReplayRunner(spark, table, source_path=binlog).run()
    final = table.read()
    # F6: no duplicate merge keys (analog test_uuid_is_not_duplicated)
    assert final.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    # F6: n_tok == size(tokens) on every row
    bad = final.filter(F.col("n_tok") != F.size("tokens")).count()
    assert bad == 0
    # F6: per-source coverage — every provider tag survives
    assert final.select("origin").distinct().count() == 8
    # F6: every applied data epoch has exactly one lineage row
    keys = [l["epoch_key"] for l in table.lineage()]
    assert len(keys) == len(set(keys))


@pytest.fixture(scope="module")
def precombine_pair(spark, binlog, tmp_path_factory):
    """The same log replayed by the default runner (map-local combine)
    and by precombine=False (every event reaches the fold)."""
    root = str(tmp_path_factory.mktemp("precombine"))
    out = []
    for name, pc in (("pre", True), ("ref", False)):
        t = LakeTable.create(spark, f"{root}/{name}", TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=16)
        ReplayRunner(spark, t, source_path=binlog, precombine=pc).run()
        out.append(t)
    return out


def _commit_lineage(t):
    return {l["epoch_key"]: l for l in t.lineage() if "n_upserts" in l}


def test_precombine_replay_equivalent(precombine_pair, oracle_df):
    """The default precombine run (map-local LWW combine before the
    bucket shuffle, operators/dedup.py:precombine_lww) produces the
    byte-identical final state and the same exact lineage fields —
    n_deletes / offset ranges / touched buckets / per-bucket offsets —
    as precombine=False, on a log containing re-deliveries, deletes, and
    mid-stream schema evolution."""
    t_pre, t_ref = precombine_pair
    _assert_state_equals_oracle(t_pre, oracle_df)
    _assert_state_equals_oracle(t_ref, oracle_df)
    lp, lr = _commit_lineage(t_pre), _commit_lineage(t_ref)
    assert lp.keys() == lr.keys()
    for k in lp:
        for f in ("n_deletes", "min_lsn", "max_lsn", "n_events",
                  "buckets_touched", "per_bucket_offsets"):
            assert lp[k][f] == lr[k][f], (k, f, lp[k][f], lr[k][f])
    # the uncombined fold counts re-deliveries exactly
    assert sum(l["n_duplicates_dropped"] for l in lr.values()) > 0


def test_precombine_default_approx_counters(precombine_pair):
    """Default precombine mode: the dedup counters appear as *_approx
    keys (HLL estimates from the planning agg — within a few % of the
    exact counts of precombine=False) with NO false-zero
    n_duplicates_dropped recorded; n_upserts counts applied upserts,
    at most the segment's distinct U events."""
    t_pre, t_ref = precombine_pair
    lp, lr = _commit_lineage(t_pre), _commit_lineage(t_ref)
    for k in lp:
        # the fold cannot measure dups post-collapse: no false zero
        assert "n_duplicates_dropped" not in lp[k], k
        # the dup estimate is n_events - HLL(distinct lsn): its error is
        # relative to SEGMENT SIZE (3 sigma of rsd=0.02), not to the dup
        # count — honest bound, see runner.PLAN_HLL_RSD
        approx = lp[k]["n_duplicates_dropped_approx"]
        exact = lr[k]["n_duplicates_dropped"]
        assert abs(approx - exact) <= max(5, int(0.06 * lp[k]["n_events"])), \
            (k, approx, exact, lp[k]["n_events"])
        # applied upserts: one per winning U key, never kept state rows
        assert 0 <= lp[k]["n_upserts"] <= lr[k]["n_upserts"], k
        assert lp[k]["n_upserts_approx"] > 0


def test_precombine_exact_dups_across_partitions(spark, tmproot):
    """A re-delivered (key, lsn) pair split across DIFFERENT map
    partitions, with a later event for the same key sharing a partition
    with one copy. Exact counters come from precombine=False: every copy
    reaches the key's bucket fold, which counts the duplicate exactly
    once (a map-local collapse would have dropped the loser copy before
    any global view)."""
    rows = [
        # partition 0: dup copy of (d1, 5) + the key's winner (lsn 9)
        ("d1", [1, 2], 2, "s", "U", 5, 0),
        ("d1", [9, 9], 2, "s", "U", 9, 0),
        # partition 1: the other dup copy of (d1, 5)
        ("d1", [1, 2], 2, "s", "U", 5, 1),
        # control key, no dups
        ("d2", [7], 1, "s", "U", 6, 1),
    ]
    from agr_loader_spark.schema import SCHEMA_CHANGE_TYPE

    df = (
        spark.createDataFrame(
            rows,
            "doc_id string, tokens array<int>, n_tok int, source string, "
            "op string, event_lsn long, part int",
        )
        .repartition(2, "part")
        .drop("part")
        .withColumn("epoch", F.lit(0))
        .withColumn("schema_change", F.lit(None).cast(SCHEMA_CHANGE_TYPE))
    )
    table = LakeTable.create(spark, tmproot + "/xp", TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=4)
    ReplayRunner(spark, table, source_df=df, precombine=False).run()
    lin = [l for l in table.lineage() if "n_upserts" in l]
    assert len(lin) == 1
    # 4 rows, distinct (key, lsn) = {(d1,5),(d1,9),(d2,6)} -> exactly 1 dup
    assert lin[0]["n_duplicates_dropped"] == 1
    assert lin[0]["n_upserts"] == 3
    got = {r["doc_id"]: list(r["tokens"]) for r in table.read().collect()}
    assert got == {"d1": [9, 9], "d2": [7]}


def test_generator_determinism_and_skew(spark, binlog):
    df1 = spark.read.parquet(binlog)
    df2 = generate_binlog(spark, n_events=N_EVENTS, n_docs=N_DOCS, epoch_size=EPOCH,
                          seed=7, partitions=3)  # different partitioning
    a = df1.orderBy("event_lsn", "doc_id").toPandas()
    b = df2.orderBy("event_lsn", "doc_id").toPandas()
    assert a["event_lsn"].tolist() == b["event_lsn"].tolist()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    ta, tb = a["tokens"].tolist(), b["tokens"].tolist()
    assert all(
        (x is None and y is None) or np.array_equal(x, y) for x, y in zip(ta, tb)
    )
    # hot-key skew: top doc gets a disproportionate share
    top = (df1.filter(F.col("op") != "S").groupBy("doc_id").count()
           .orderBy(F.desc("count")).first())
    assert top["count"] > 3 * (N_EVENTS / N_DOCS)
    # schema plan is reserved: no data events at those lsns
    reserved = [p["event_lsn"] for p in schema_change_plan(N_EVENTS)]
    assert df1.filter(F.col("event_lsn").isin(reserved)).filter(F.col("op") != "S").count() == 0


def test_metrics_df_is_queryable(spark, tmproot, binlog, oracle_df):
    import pyspark.sql.functions as F
    table = _fresh_table(spark, tmproot)
    ReplayRunner(spark, table, source_path=binlog).run()
    m = LakeTable.load(spark, table.root).metrics_df()
    agg = m.filter(F.col("n_events").isNotNull()).agg(
        F.sum("n_events").alias("n"), F.count("*").alias("segs")
    ).collect()[0]
    assert agg["n"] > 0 and agg["segs"] >= 3


def test_empty_segment_noops_with_zero_jobs_in_fast_plan(spark, tmproot):
    """An EMPTY data segment (two consecutive schema events with no data
    between their lsns) must commit as a merge-noop with ZERO Spark jobs
    under the narrow planning pass (r4 verdict item 6): the narrow
    (epoch, lsn, op) planning scan already knows n_rows==0 — no stats
    group forms — so the runner hands merge an empty touched set and the
    noop short-circuit fires before any fold task is scheduled."""
    from agr_loader_spark.schema import SCHEMA_CHANGE_TYPE

    sc_widen = {"kind": "widen", "column": "n_tok", "new_name": None,
                "new_type": "bigint", "src_field": None}
    sc_rename = {"kind": "rename", "column": "source", "new_name": "origin",
                 "new_type": None, "src_field": None}
    rows = [
        # segment 0: two data events
        ("d1", [1, 2], 2, "s", "U", 1, None),
        ("d2", [3], 1, "s", "U", 2, None),
        # segment 1: schema commit (widen); segment 2 (lsn 10..20): EMPTY
        (None, None, None, None, "S", 10, sc_widen),
        # segment 3: schema commit (rename); segment 4: one data event
        (None, None, None, None, "S", 20, sc_rename),
        ("d3", [4, 5], 2, "s", "U", 25, None),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "op string, event_lsn long",
    ).withColumn("epoch", F.lit(0))
    # zip the schema_change column on by lsn (createDataFrame over mixed
    # None/dict struct rows is fiddly; a join on lsn is deterministic)
    sc_rows = [(r[5], r[6]) for r in rows if r[6] is not None]
    sc_df = spark.createDataFrame(
        sc_rows,
        "event_lsn long, schema_change struct<kind:string,column:string,"
        "new_name:string,new_type:string,src_field:string>",
    )
    df = df.join(sc_df, "event_lsn", "left").select(
        "doc_id", "tokens", "n_tok", "source", "op", "event_lsn", "epoch",
        F.col("schema_change").cast(SCHEMA_CHANGE_TYPE).alias("schema_change"),
    )

    table = LakeTable.create(spark, tmproot + "/noopfast", TOKENS_TABLE_COLUMNS,
                             key=TOKENS_MERGE_KEY, n_buckets=8)
    runner = ReplayRunner(spark, table, source_df=df)
    plan = runner.plan()
    # commit through the first schema event (seg 0 data + seg 1 schema)
    runner.run(plan=plan, stop_after=2)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    m = runner.run(plan=plan, stop_after=1)  # next commit = empty seg 2
    after = set(tracker.getJobIdsForGroup(None))
    rec = [r for r in m if r.get("epoch_key") == "0:2" and not r.get("skipped")]
    assert len(rec) == 1
    assert rec[0]["n_upserts"] == 0 and rec[0]["buckets_touched"] == []
    assert after - before == set(), f"empty segment ran Spark jobs: {after - before}"

    runner.run(plan=plan)  # finish the replay
    got = {r["doc_id"]: list(r["tokens"])
           for r in LakeTable.load(spark, table.root).read().collect()}
    assert got == {"d1": [1, 2], "d2": [3], "d3": [4, 5]}
