"""LWW reduce: the production reducer matches the readable window
reference, incl. under hot-key skew."""

import pyspark.sql.functions as F

from agr_loader_spark.operators.dedup import lww_reduce, lww_reduce_window


def _frame(spark):
    rows = []
    # hot key: 500 events on one doc; 50 cold docs with a few events each
    for lsn in range(500):
        rows.append((lsn, "hot", [lsn], lsn % 7))
    for d in range(50):
        for j in range(3):
            lsn = 1000 + d * 10 + j
            rows.append((lsn, f"cold{d}", [lsn], j))
    return spark.createDataFrame(rows, "event_lsn long, doc_id string, tokens array<int>, v int")


def test_lww_implementations_agree(spark):
    """lww_reduce against its oracle, the row_number() window spec."""
    df = _frame(spark)
    got, want = [
        {r["doc_id"]: (r["event_lsn"], r["tokens"], r["v"]) for r in impl(df).collect()}
        for impl in (lww_reduce, lww_reduce_window)
    ]
    assert got == want
    assert got["hot"] == (499, [499], 499 % 7)
    assert len(got) == 51


def test_lww_output_schema_matches_input(spark):
    df = _frame(spark)
    assert lww_reduce(df).columns == df.columns


def test_dedup_redelivery(spark):
    df = _frame(spark)
    doubled = df.unionAll(df.limit(100))
    assert doubled.dropDuplicates(["doc_id", "event_lsn"]).count() == df.count()
    # LWW itself is also insensitive to redelivery
    a = {r["doc_id"]: r["event_lsn"] for r in lww_reduce(doubled).collect()}
    b = {r["doc_id"]: r["event_lsn"] for r in lww_reduce(df).collect()}
    assert a == b


def test_lww_is_jvm_side(spark):
    """The default LWW path must stay JVM-side (no Python eval) with a
    map-side partial combine of the narrow (key, lsn) aggregation."""
    plan = lww_reduce(_frame(spark))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_max" in plan and "LeftSemi" in plan
