"""Physical-plan quality gates: the optimizations the engine depends on
at 100 TB must be visible in explain() output, not assumed."""

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = l.filter(F.col("l_shipdate") > "2024-01-01").select("l_orderkey", "l_quantity")
    ex = q._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate)" in ex
    # scan must read only the 3 needed columns, not all 11
    read_schema = ex.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_small_dims_broadcast(spark):
    import __spark_entry__ as e

    plan = _plan(e.q_region_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_fk_guard_uses_broadcast_semi_join(spark):
    import __spark_entry__ as e

    plan = _plan(e.q_fk_guard_kept(spark, SF))
    assert "LeftSemi" in plan and "Broadcast" in plan


def test_epoch_partition_pruning(spark, tmproot):
    from agr_loader_spark.generator import generate_binlog

    path = tmproot + "/log"
    generate_binlog(spark, n_events=3000, n_docs=100, epoch_size=1000, seed=2,
                    with_schema_changes=False).write.partitionBy("epoch").parquet(path)
    q = spark.read.parquet(path).filter(F.col("epoch") == 1)
    ex = q._jdf.queryExecution().toString()
    # partition filter reaches the scan: only epoch=1 files are read
    assert "PartitionFilters: [isnotnull(epoch" in ex or "PartitionFilters: [(epoch" in ex \
        or "epoch = 1" in ex.split("PartitionFilters:")[1].splitlines()[0]


def test_lww_reduce_has_semi_join_and_no_window_sort(spark):
    """The winners aggregation exchanges only (key, lsn); the payload
    crosses one semi join — no window sort of the full payload (the
    failure mode of the naive row_number approach)."""
    from agr_loader_spark.operators.dedup import lww_reduce, lww_reduce_window

    df = spark.createDataFrame(
        [(1, "a", list(range(50)))], "event_lsn long, doc_id string, tokens array<int>"
    )
    plan = _plan(lww_reduce(df))
    assert "LeftSemi" in plan and "Window" not in plan
    # the naive variant DOES window-sort — the contrast the default avoids
    assert "Window" in _plan(lww_reduce_window(df))


def test_dedup_edge_union_keeps_broadcast_joins(spark):
    """Dense-vocab regime (this corpus): the pair join tree is replaced
    outright by the MapInArrow GEMM kernel — no join of any kind may
    appear. On the legacy join path (dense disabled) the original guard
    still holds: the edge-doc union must carry honest size stats — a
    LogicalRDD branch (createDataFrame) defaults to Long.Max
    sizeInBytes and flips every downstream dedup join from broadcast to
    sort-merge (measured 3x slower); guard the VALUES-LocalRelation
    fix."""
    import os

    import __spark_entry__ as e

    df = e.q_ngram_jaccard(spark, SF)
    df.count()  # AQE: final plan only exists after execution
    plan = _plan(df)
    assert "MapInArrow" in plan and "Join" not in plan
    os.environ["SPARK_JACCARD_DENSE"] = "0"
    try:
        df = e.q_ngram_jaccard(spark, SF)
        df.count()
        plan = _plan(df)
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
    finally:
        os.environ.pop("SPARK_JACCARD_DENSE", None)


def test_contamination_broadcasts_eval_side(spark):
    """The big (train) side must never shuffle: dense regime probes the
    broadcast eval indicator matrix inside MapInArrow (no join node);
    legacy path broadcast-joins the exploded eval shingles."""
    import os

    import __spark_entry__ as e

    df = e.q_contamination(spark, SF)
    df.count()
    plan = _plan(df)
    assert "MapInArrow" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    os.environ["SPARK_JACCARD_DENSE"] = "0"
    try:
        df = e.q_contamination(spark, SF)
        df.count()
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    finally:
        os.environ.pop("SPARK_JACCARD_DENSE", None)


def test_split_and_sample_are_shuffle_free(spark):
    """hash_split / stratified_sample are row-local expressions: no
    exchange at all, and no Python eval nodes."""
    import __spark_entry__ as e

    for q in (e.q_hash_split, e.q_stratified_sample):
        plan = _plan(q(spark, SF))
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


def test_pack_chunks_single_group_shuffle(spark):
    """Concat-chunk packing: exactly one exchange (by group) feeding the
    per-group window — no global sort of the corpus."""
    import __spark_entry__ as e

    plan = _plan(e.q_pack_chunks(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan  # a global orderBy would show this


def test_precombine_plan_adds_no_exchange_and_no_sort(spark):
    """The map-LOCAL LWW combine (mapInArrow) must sit BELOW the bucket
    shuffle with ZERO exchanges of its own and ZERO sorts/aggregates:
    the whole point is that LWW-loser payloads die inside each map task
    before the shuffle, without the SortAggregate (payload sort per
    partition) or ObjectHashAggregate (unbounded collect_set state) a
    JVM groupBy-based combine degenerates to — both were measured
    slower/higher-variance than no combine (BENCH/BASELINE.md r4)."""
    from agr_loader_spark.operators.dedup import precombine_lww

    df = spark.createDataFrame(
        [("d1", [1, 2], "U", 5, 0)],
        "doc_id string, tokens array<int>, __op string, event_lsn long, __bucket int",
    )
    combined = precombine_lww(df, key="doc_id", op_col="__op",
                              lsn_col="event_lsn")
    plan = _plan(combined.repartition(4, "__bucket"))
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or \
        "PythonMapInArrow" in plan, plan
    # only the bucket shuffle — the combine itself is exchange-free
    assert plan.count("Exchange") == 1, plan
    assert "SortAggregate" not in plan and "ObjectHashAggregate" not in plan, plan


def test_precombine_exact_counts_plan_is_codegen_hashagg(spark):
    """The exact dedup counters the combine displaced live in the
    runner's planning pass as a two-level distinct-lsn aggregation over
    ONLY narrow columns — it must plan as codegen HashAggregate
    (primitive buffers) with no Expand, no ObjectHashAggregate, and no
    payload (tokens) column in the scan."""
    import pyspark.sql.functions as F

    data = spark.createDataFrame(
        [(0, 5, "U", "d1", [1, 2])],
        "epoch int, event_lsn long, op string, doc_id string, tokens array<int>",
    )
    lvl1 = data.groupBy("epoch", F.lit(0).alias("seg"), "event_lsn").agg(
        F.count("*").alias("copies"),
        # int flag, NOT max(op): a string buffer demotes to SortAggregate
        F.max(F.when(F.col("op") == "D", 1).otherwise(0)).alias("is_d"))
    stats = lvl1.groupBy("epoch", "seg").agg(
        F.sum("copies").alias("n_events"),
        F.count("*").alias("n_unique"),
        F.sum(F.when(F.col("is_d") == 0, 1).otherwise(0)).alias("n_unique_u"),
    )
    plan = _plan(stats)
    assert "HashAggregate" in plan, plan
    assert "ObjectHashAggregate" not in plan and "SortAggregate" not in plan, plan
    assert "Expand" not in plan, plan
