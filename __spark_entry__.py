"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes one entry per implemented operator from SURVEY.md §2
plus the training-data-pipeline operators (dedup/similarity/text/
multimodal). Each callable takes (spark, sf_dir) and returns a
DataFrame; oracle_sql() gives the DuckDB-equivalent ANSI SQL. Column
names and (rounded) values are aligned between both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: CDC LWW snapshot of the events changelog (SURVEY.md A3/K3/K4)
# ---------------------------------------------------------------------------

def q_cdc_lww_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat `events` as a binlog keyed by user_id ordered by event_id;
    event_type='error' acts as a delete. Final state = LWW fold."""
    from agr_loader_spark.operators.dedup import lww_reduce

    ev = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "D").otherwise("U")
    )
    latest = lww_reduce(ev, key="user_id", order_col="event_id")
    return (
        latest.filter(F.col("op") == "U")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 6).alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )


def q_cdc_precombine_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same final-state semantics as cdc_lww_snapshot, materialized
    END-TO-END through the COW arrow sink with the map-side LWW combine
    on (ReplayRunner(precombine=True) -> lake/arrow_merge.py:
    precombine_lww -> bucket fold with exact carried counters): the
    changeset is collapsed to one winner row per key BEFORE the bucket
    shuffle. Oracle = the identical LWW SQL — proving combine + fold
    composes to the same snapshot."""
    import tempfile

    from agr_loader_spark.lake.table import LakeTable
    from agr_loader_spark.schema import SCHEMA_CHANGE_TYPE
    from agr_loader_spark.streaming.runner import ReplayRunner

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("event_id").alias("event_lsn"),
        F.lit(0).alias("epoch"),
        F.lit(None).cast(SCHEMA_CHANGE_TYPE).alias("schema_change"),
    )
    root = tempfile.mkdtemp(prefix="precombine_snapshot_")
    t = LakeTable.create(
        spark, root + "/t",
        [("user_id", "bigint", "user_id"), ("event_id", "bigint", "event_id"),
         ("event_type", "string", "event_type"), ("value", "double", "value")],
        key="user_id", n_buckets=16,
    )
    ReplayRunner(spark, t, source_df=ev, sink="arrow", precombine=True).run()
    ts = _t(spark, sf_dir, "events").select("event_id", "ts")
    return (
        t.read()
        .join(ts, "event_id")  # event_id is globally unique in this table
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 6).alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )


def q_cdc_mor_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same final-state semantics as cdc_lww_snapshot, but materialized
    END-TO-END through the write-optimized merge-on-read sink
    (lake/arrow_merge.py:make_bucket_fold, delta mode): the event log is
    split into three lsn-ordered micro-batches, each committed with
    LakeTable.merge_delta (bucket state never read during ingest,
    deletes as tombstones), the deltas compacted back to base files,
    and the snapshot read from the table. Oracle = the identical LWW
    SQL the COW path uses — proving ingest-as-deltas + read-time
    resolution + compaction composes to the same answer."""
    import tempfile

    from agr_loader_spark.lake.table import LakeTable

    ev = _t(spark, sf_dir, "events").withColumn(
        "__op", F.when(F.col("event_type") == "error", "D").otherwise("U")
    )
    # the table dir must outlive this call (the returned frame scans it
    # lazily when the driver collects), so no cleanup here — one tiny
    # tmp table per invocation
    root = tempfile.mkdtemp(prefix="mor_snapshot_")
    t = LakeTable.create(
        spark, root + "/t",
        [("user_id", "bigint", "user_id"), ("event_id", "bigint", "event_id"),
         ("event_type", "string", "event_type"), ("value", "double", "value")],
        key="user_id", n_buckets=8,
    )
    hi = ev.agg(F.max("event_id")).first()[0] or 0
    cut1, cut2 = hi // 3, 2 * hi // 3
    batches = [
        ev.filter(F.col("event_id") <= cut1),
        ev.filter((F.col("event_id") > cut1) & (F.col("event_id") <= cut2)),
        ev.filter(F.col("event_id") > cut2),
    ]
    for i, b in enumerate(batches):
        t.merge_delta(
            b.select("user_id", "event_id", "event_type", "value", "__op",
                     F.col("event_id").alias("event_lsn")),
            epoch_key=f"{i}:0", lsn_col="event_lsn",
        )
    t.compact()
    ts = _t(spark, sf_dir, "events").select("event_id", "ts")
    return (
        t.read()
        .join(ts, "event_id")  # event_id is globally unique in this table
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 6).alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )


def _cdc_batches(spark: SparkSession, sf_dir: str):
    """The shared 3-micro-batch split of `events` used by the mode
    snapshots: lsn-ordered thirds by event_id, op='D' on 'error'."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "__op", F.when(F.col("event_type") == "error", "D").otherwise("U")
    )
    hi = ev.agg(F.max("event_id")).first()[0] or 0
    cut1, cut2 = hi // 3, 2 * hi // 3
    return [
        ev.filter(F.col("event_id") <= cut1),
        ev.filter((F.col("event_id") > cut1) & (F.col("event_id") <= cut2)),
        ev.filter(F.col("event_id") > cut2),
    ]


_CDC_TABLE_COLS = [
    ("user_id", "bigint", "user_id"), ("event_id", "bigint", "event_id"),
    ("event_type", "string", "event_type"), ("value", "double", "value"),
]


def q_cdc_ifabsent_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 insert-if-absent (`MERGE ... ON CREATE SET`, the reference's
    default upsert, src/etl/bgi_etl.py:99-115) exercised END-TO-END
    through LakeTable.merge(mode='insert_if_absent'): 3 lsn-ordered
    micro-batches, each LWW-reduced then committed. Per key the FIRST
    writer after the most recent delete wins; deletes still delete.
    Oracle replays the same fold in SQL (first 'U' batch after the last
    'D' batch per key)."""
    import tempfile

    from agr_loader_spark.lake.table import LakeTable
    from agr_loader_spark.operators.dedup import lww_reduce

    root = tempfile.mkdtemp(prefix="ifabsent_snapshot_")
    t = LakeTable.create(spark, root + "/t", _CDC_TABLE_COLS, key="user_id", n_buckets=8)
    for i, b in enumerate(_cdc_batches(spark, sf_dir)):
        one = lww_reduce(
            b.select("user_id", "event_id", "event_type", "value", "__op"),
            key="user_id", order_col="event_id",
        )
        t.merge(one, epoch_key=f"{i}:0", mode="insert_if_absent")
    return t.read().select(
        "user_id",
        F.col("event_id").alias("first_event_id"),
        F.col("event_type").alias("first_event_type"),
        F.round("value", 6).alias("first_value"),
    )


def q_cdc_update_only_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 matched-only patch (`MATCH (e {primaryKey}) SET ...`,
    src/etl/ecomap_etl.py:22-30) exercised END-TO-END: batch 0 seeds the
    table via the default LWW merge, batches 1-2 apply with
    mode='update_only' — source rows whose key is absent are dropped,
    not inserted; matched 'U' patches, matched 'D' deletes. Oracle
    replays the fold in SQL (seeded in batch 0, never deleted later,
    payload from the key's last touching batch)."""
    import tempfile

    from agr_loader_spark.lake.table import LakeTable
    from agr_loader_spark.operators.dedup import lww_reduce

    root = tempfile.mkdtemp(prefix="updonly_snapshot_")
    t = LakeTable.create(spark, root + "/t", _CDC_TABLE_COLS, key="user_id", n_buckets=8)
    for i, b in enumerate(_cdc_batches(spark, sf_dir)):
        one = lww_reduce(
            b.select("user_id", "event_id", "event_type", "value", "__op"),
            key="user_id", order_col="event_id",
        )
        t.merge(one, epoch_key=f"{i}:0", mode="lww" if i == 0 else "update_only")
    return t.read().select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 6).alias("last_value"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    shipped_late = o.join(
        l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi"
    )
    return shipped_late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def q_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(10)
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag window (SURVEY.md §2.6)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    brk = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("brk", brk)
        .groupBy("user_id")
        .agg(F.sum("brk").alias("n_sessions"), F.count("*").alias("n_events"))
    )


def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


# ----------------------------------------------------------- dedup / text ops

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.dedup_docs import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


# edge-case rows unioned into the dedup contract corpora on BOTH sides
# (Spark + oracle): sub-n-token docs prove the shingle guard, the twin
# long docs prove edge rows still pair. Keeps the oracle green on a
# corpus that r1 crashed on.
_EDGE_DOCS = [
    (9000001, "tiny"),
    (9000002, ""),
    (9000003, "edge twin doc alpha beta gamma delta"),
    (9000004, "edge twin doc alpha beta gamma delta"),
]
_EDGE_DOCS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT * FROM (VALUES "
    + ", ".join(f"({i}, '{t}')" for i, t in _EDGE_DOCS)
    + ") AS t(doc_id, text)"
)


def _docs_with_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # VALUES (LocalRelation), NOT createDataFrame: the latter plans as a
    # LogicalRDD whose size stat defaults to Long.Max, which poisons the
    # union's stats and silently flips every downstream join from
    # broadcast to sort-merge (measured 3x slower on ngram_jaccard)
    edge = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"(CAST({i} AS LONG), '{t}')" for i, t in _EDGE_DOCS)
        + " AS t(doc_id, text)"
    )
    return d.unionByName(edge)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.dedup_docs import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs_with_edges(spark, sf_dir), threshold=0.5, n=2)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.dedup_docs import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs_with_edges(spark, sf_dir), threshold=0.5, n=2)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the oracle-portable md5 token hash;
    max_hamming=6 now runs on 7 derived chunks (pigeonhole-complete)."""
    from agr_loader_spark.operators.dedup_docs import md5_token_hash, simhash_pairs

    out = simhash_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=6, token_hash=md5_token_hash
    )
    return out.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair -> cluster resolution: connected components over the
    exact-Jaccard pair graph (incl. the edge-doc twins), component = min
    doc id. Oracle: DuckDB recursive CTE (min reachable id per node)."""
    from agr_loader_spark.operators.clusters import connected_components
    from agr_loader_spark.operators.dedup_docs import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_docs_with_edges(spark, sf_dir), threshold=0.5, n=2)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.textqc import lang_id, quality_score, token_count

    # lang_id/quality are interpreted higher-order exprs (pure per-row
    # CPU); the sf fixture is one small file (one scan partition), so fan
    # out first — same rationale as q_date_normalize: at production scale
    # splittable inputs provide this parallelism for free
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tok"),
        lang_id("text").alias("lang_pred"),
        quality_score("text", "n_chars").alias("quality"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.textqc import doc_fingerprint

    # the rolling-hash pandas_udf otherwise runs in the fixture file's
    # single scan partition (one Python worker); same fan-out rationale
    # as q_date_normalize / q_text_profile
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return d.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


# ------------------------------------------------------------- similarity

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.filter(F.col("vec_id") < 10), k=5)


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH top-k with md5-Rademacher planes: the banding/bucketing is
    bit-for-bit reproducible outside Spark, so the DuckDB oracle
    recomputes the SAME candidate sets and exact re-rank (a values
    oracle for the whole approximate pipeline, not just rows). The
    production counter-hash plane path keeps its recall-floor pytest."""
    from agr_loader_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    return lsh_topk(e, e.filter(F.col("vec_id") < 10), k=5, bands=8, n_planes=32,
                    plane_method="rademacher")


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF path at nprobe == n_centroids: probing every inverted list is
    exhaustive, so the result must EQUAL brute force — the oracle is the
    exact-cosine SQL, while the query still exercises the full IVF
    machinery (DataFrame Lloyd's, inverted-list probe, re-rank)."""
    from agr_loader_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e, e.filter(F.col("vec_id") < 10), k=5,
                    n_centroids=8, nprobe=8, iters=2)


# ------------------------------------------------------ joins / guards / keys

def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.similarity import cosine_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(e, threshold=0.4)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: for every event, the value of the user's
    latest 'signup' event at-or-before its timestamp (custom as-of
    operator; oracle = DuckDB ASOF LEFT JOIN)."""
    from agr_loader_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("signup_value")
    )
    out = asof_join(ev, signups, key="user_id", left_ts="ts", right_ts="ts",
                    right_cols=["signup_value"])
    return out.select(
        "event_id", "user_id",
        F.round("asof_signup_value", 6).alias("last_signup_value"),
    )


def q_fk_guard_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.fk_guard import fk_guard

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    kept, _ = fk_guard(o, c, fk="o_custkey", dim_key="c_custkey")
    return kept.groupBy("o_orderstatus").agg(F.count("*").alias("n_orders"))


def q_reject_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.fk_guard import fk_guard, reject_tally

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    _, rejected = fk_guard(o, c, fk="o_custkey", dim_key="c_custkey")
    return reject_tally(rejected, by="o_orderpriority")


def q_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.closure import transitive_closure

    p = _t(spark, sf_dir, "part")
    edges = p.filter(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").alias("child_id"),
        F.floor(F.col("p_partkey") / 2).cast("long").alias("parent_id"),
    )
    return transitive_closure(edges)


def q_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.functions.keys import composite_key

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        composite_key("o_custkey", "o_orderstatus", "o_orderpriority").alias("row_key"),
    )


def q_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.functions.dates import normalize_date

    # the format-cascade parse is pure per-row CPU; the sf fixture is one
    # small file (one scan partition), so fan out first — at production
    # scale splittable inputs provide this parallelism for free
    o = _t(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    raw = (
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("not-a-date"))
        .when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy/MM/dd"))
        .otherwise(F.date_format("o_orderdate", "MM/dd/yyyy"))
    )
    return o.select("o_orderkey", raw.alias("raw_date"), normalize_date(raw).alias("norm_date"))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode + feature extraction, values-oracled end-to-end: the
    synthetic payloads are SQL-recomputable (audio = deterministic sine
    burst through the REAL WAV codec; image/video = md5-chain bytes
    through the byte-histogram stub), so DuckDB re-derives every feature
    vector from scratch — see oracle_sql()['multimodal_features']."""
    from agr_loader_spark.operators.multimodal import extract_features, synthesize_media

    media = synthesize_media(spark, n=64)
    feats = extract_features(media, feat_dim=8)
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("feat_first"),
        F.round(F.aggregate(F.transform("features", lambda x: x.cast("double")),
                            F.lit(0.0), lambda a, x: a + x), 4).alias("feat_sum"),
    )


def q_hgvs_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HGVS nomenclature + synonym (SURVEY.md T14 — the when/otherwise
    re-expression of src/etl/variation_etl.py:194-237) over variant rows
    synthesized deterministically from orders: all 5 SO type families,
    an unknown type, and NULL starts/variant sequences."""
    from agr_loader_spark.functions.hgvs import hgvs_nomenclature, hgvs_synonym

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    vt = (
        F.when(k % 7 == 0, "SO:1000002")
        .when(k % 7 == 1, "SO:1000008")
        .when(k % 7 == 2, "SO:0000667")
        .when(k % 7 == 3, "SO:0000159")
        .when(k % 7 == 4, "SO:0002007")
        .when(k % 7 == 5, "SO:1000032")
        .otherwise("SO:0001059")
    )
    start = F.when(k % 11 == 0, F.lit(None).cast("long")).otherwise(k % 100000 + 1)
    end = start + 3
    refs = F.substring(F.lit("ACGT"), (k % 4 + 1).cast("int"), 1)
    vars_ = F.when(k % 13 == 0, F.lit(None).cast("string")).otherwise(
        F.substring(F.lit("TGCA"), (k % 4 + 1).cast("int"), 1)
    )
    v = o.select(
        "o_orderkey",
        F.concat(F.lit("RefSeq:NT_"), k.cast("string")).alias("refseq_id"),
        vt.alias("variant_type"), start.alias("start_pos"), end.alias("end_pos"),
        refs.alias("ref_seq"), vars_.alias("var_seq"),
        F.lit("R6").alias("assembly"), (k % 4).cast("string").alias("chromosome"),
    )
    return v.select(
        "o_orderkey",
        hgvs_nomenclature("refseq_id", "variant_type", "start_pos", "end_pos",
                          "ref_seq", "var_seq").alias("hgvs"),
        hgvs_synonym("assembly", "chromosome", "variant_type", "start_pos",
                     "end_pos", "ref_seq", "var_seq").alias("hgvs_syn"),
    )


def q_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered group re-join (SURVEY.md J8): the reference stitches CDS
    fragments per transcript ordered by start position in a Python loop
    (src/etl/protein_sequence_etl.py:107-212); here: collect_list of
    structs + array_sort + transform/array_join — one aggregation."""
    l = _t(spark, sf_dir, "lineitem")
    parts = F.array_sort(
        F.collect_list(F.struct(F.col("l_linenumber"), F.col("l_returnflag")))
    )
    return l.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(parts, lambda x: x["l_returnflag"]), ""
        ).alias("flag_seq"),
        F.count("*").alias("n_lines"),
    )


def q_xref_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading identifier resolution (SURVEY.md J2/J3): probe two
    broadcast lookup maps in priority order, coalesce the first hit —
    replacing the reference's per-row dict-cascade
    (src/etl/molecular_interaction_etl.py:308-403)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    primary = F.broadcast(
        c.filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("k1"), F.col("c_name").alias("name1"))
    )
    fallback = F.broadcast(
        c.select(F.col("c_custkey").alias("k2"), F.upper("c_mktsegment").alias("name2"))
    )
    return (
        o.join(primary, o.o_custkey == F.col("k1"), "left")
        .join(fallback, o.o_custkey == F.col("k2"), "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("name1"), F.col("name2"), F.lit("UNRESOLVED")).alias("resolved"),
            F.when(F.col("name1").isNotNull(), "primary")
            .when(F.col("name2").isNotNull(), "fallback")
            .otherwise("none").alias("resolution"),
        )
    )


def q_count_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table row counts (SURVEY.md A1 — NodeCountETL analog,
    src/etl/node_count_etl.py:20-78)."""
    frames = []
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        frames.append(
            _t(spark, sf_dir, t).select(F.lit(t).alias("tbl")).groupBy("tbl")
            .agg(F.count("*").alias("n_rows"))
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def q_pubid_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19: publication-id regex cascade (molecular_interaction_etl.py:
    406-428) over deterministic synthesized raw ids — pubmed (both
    cases), DOI, FBrf, and an unresolvable scheme that yields NULL."""
    from agr_loader_spark.functions.text import publication_id

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ks = k.cast("string")
    raw = (
        F.when(k % 5 == 0, F.concat(F.lit("pubmed:"), ks))
        .when(k % 5 == 1, F.concat(F.lit("DOI:10."), (1000 + k % 9000).cast("string"),
                                   F.lit("/x"), ks))
        .when(k % 5 == 2, F.concat(F.lit("flybase:FBrf"), ks))
        .when(k % 5 == 3, F.concat(F.lit("wormbase:WBPaper"), ks))
        .otherwise(F.concat(F.lit("PUBMED:"), ks))
    )
    return o.select(
        "o_orderkey", raw.alias("raw_id"), publication_id(raw).alias("publication")
    )


def q_count_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 completed: counts compared against a prior-release baseline
    with a shrinkage flag (src/etl/node_count_etl.py:20-41). Baseline is
    derived deterministically: 'events' is inflated so exactly that
    label trips the shrunk warning; every other label grew."""
    from agr_loader_spark.operators.counts import count_regression_report

    current = q_count_regression(spark, sf_dir)
    baseline = current.select(
        "tbl",
        F.when(F.col("tbl") == "events", F.col("n_rows") * 2 + 7)
        .otherwise(F.floor(F.col("n_rows") * 0.8) + 1)
        .cast("long")
        .alias("n_rows"),
    )
    return count_regression_report(current, baseline)


def q_url_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL templating + pattern validation (SURVEY.md T13 — the
    resource-descriptor [%s] substitution + gid_pattern rlike,
    src/etl/helpers/resource_descriptor_helper_2.py:244-336)."""
    d = _t(spark, sf_dir, "documents")
    url = F.format_string("https://%s.example.org/doc/%d", F.col("source"), F.col("doc_id"))
    return d.select(
        "doc_id", url.alias("url"),
        url.rlike("^https://src[0-9]+\\.example\\.org/doc/[0-9]+$").alias("valid"),
    )


def q_sequence_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-access sequence slicing via the chunked-contig range join
    (SURVEY.md S10/T15 — pyfaidx slice + flank clamp,
    src/etl/helpers/assembly_sequence_helper.py:59-73). The Spark side
    MUST reassemble from 64-char chunks; the oracle slices the intact
    string — value equality proves the chunked reassembly exact."""
    from agr_loader_spark.operators.sequence import chunk_contigs, slice_intervals

    docs = _t(spark, sf_dir, "documents")
    contigs = docs.select(F.col("doc_id").alias("contig"), F.col("text").alias("seq"))
    chunks = chunk_contigs(contigs, chunk_size=64, id_col="contig", seq_col="seq")
    start = (
        F.lit(1)
        + (F.col("n_chars") * 7) % F.greatest(F.col("n_chars") - 60, F.lit(1))
    ).cast("int")
    iv = docs.select(
        F.col("doc_id").alias("interval_id"),
        F.col("doc_id").alias("contig"),
        start.alias("start_pos"),
        "n_chars",
    ).withColumn(
        "end_pos", F.least(F.col("start_pos") + 59, F.col("n_chars")).cast("int")
    ).drop("n_chars")
    return slice_intervals(
        chunks, iv, chunk_size=64, start_col="start_pos", end_col="end_pos"
    ).select("interval_id", "start_pos", "end_pos", "seq")


# ------------------------------------------------- split / sample / packing

def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (md5 backend so the
    oracle recomputes each row's bucket bit-for-bit)."""
    from agr_loader_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(d, key="doc_id",
                      weights={"train": 0.8, "val": 0.1, "test": 0.1},
                      salt="split", method="md5")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap the 'en' stratum at 25%, keep the rest — deterministic subset."""
    from agr_loader_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(d, key="doc_id", fractions={"en": 0.25},
                             strata_col="lang", salt="sample", method="md5")


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing plan per source shard (window math,
    SQL-expressible; the no-split next-fit variant is pytest-covered)."""
    from agr_loader_spark.operators.sampling import pack_concat_chunks

    d = _t(spark, sf_dir, "documents")
    return pack_concat_chunks(d, group_col="source", len_col="n_chars",
                              id_col="doc_id", max_len=4096)


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agr_loader_spark.operators.textqc import token_histogram

    # explode + map-side partial agg otherwise run inside the single
    # scan partition; fan out first (measured 1.9 -> 0.85 s at sf1.0)
    return token_histogram(
        _t(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        ),
        min_freq=2,
    )


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup verdict: pairs -> components -> canonical keep.
    Every unpaired doc is kept; in a near-dup cluster only the min id
    survives. Oracle: recursive CTE components left-joined to the corpus."""
    from agr_loader_spark.operators.clusters import dedup_corpus
    from agr_loader_spark.operators.dedup_docs import ngram_jaccard_pairs

    docs = _docs_with_edges(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, n=2)
    return dedup_corpus(docs, pairs).select("doc_id", "component", "is_kept")


def q_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split next-fit packing. The greedy recurrence is sequential
    per group; the oracle replays it as a DuckDB recursive CTE stepping
    one id-ordered row per group per iteration (invariants additionally
    pytest-asserted in test_sampling)."""
    from agr_loader_spark.operators.sampling import pack_sequences_nextfit

    d = _t(spark, sf_dir, "documents")
    return pack_sequences_nextfit(d, group_col="source", len_col="n_chars",
                                  id_col="doc_id", max_len=4096)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval overlap: eval = the doc_id % 101 == 0 slice standing in
    for a benchmark set; bigram containment of each eval doc."""
    from agr_loader_spark.operators.dedup_docs import contamination_pairs

    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 101 == 0)
    return contamination_pairs(d, ev, n=2, min_common=2)


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: CDC LWW snapshot."""
    return q_cdc_lww_snapshot(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_lww_snapshot": q_cdc_lww_snapshot,
        "cdc_precombine_snapshot": q_cdc_precombine_snapshot,
        "cdc_mor_snapshot": q_cdc_mor_snapshot,
        "cdc_ifabsent_snapshot": q_cdc_ifabsent_snapshot,
        "cdc_update_only_snapshot": q_cdc_update_only_snapshot,
        "pricing_summary": q_pricing_summary,
        "shipping_priority": q_shipping_priority,
        "order_priority": q_order_priority,
        "region_revenue": q_region_revenue,
        "revenue_forecast": q_revenue_forecast,
        "top_users": q_top_users,
        "sessionization": q_sessionization,
        "daily_rollup": q_daily_rollup,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "simhash_pairs": q_simhash_pairs,
        "text_profile": q_text_profile,
        "doc_fingerprint": q_doc_fingerprint,
        "ann_topk": q_ann_topk,
        "lsh_topk": q_lsh_topk,
        "cosine_near_dup": q_cosine_near_dup,
        "asof_join": q_asof_join,
        "fk_guard_kept": q_fk_guard_kept,
        "reject_tally": q_reject_tally,
        "closure": q_closure,
        "composite_key": q_composite_key,
        "hgvs_key": q_hgvs_key,
        "date_normalize": q_date_normalize,
        "multimodal_features": q_multimodal_features,
        "ordered_concat": q_ordered_concat,
        "xref_resolve": q_xref_resolve,
        "count_regression": q_count_regression,
        "count_delta": q_count_delta,
        "pubid_cascade": q_pubid_cascade,
        "url_template": q_url_template,
        "sequence_slice": q_sequence_slice,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "pack_chunks": q_pack_chunks,
        "pack_nextfit": q_pack_nextfit,
        "token_histogram": q_token_histogram,
        "contamination": q_contamination,
        "dedup_corpus": q_dedup_corpus,
        "ivf_topk": q_ivf_topk,
    }


def oracle_sql() -> dict[str, str]:
    sql = {}
    sql["cdc_lww_snapshot"] = """
        WITH latest AS (
            SELECT user_id, event_id, event_type, value, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events)
        SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
               round(value, 6) AS last_value, ts AS last_ts
        FROM latest WHERE rn = 1 AND event_type <> 'error'
    """
    # identical oracle to cdc_lww_snapshot: the MOR path (delta ingest +
    # read-time resolution + compaction) must produce the same snapshot
    sql["cdc_mor_snapshot"] = sql["cdc_lww_snapshot"]
    # identical oracle again: map-side combine + COW fold must compose
    # to the same snapshot as the plain LWW fold
    sql["cdc_precombine_snapshot"] = sql["cdc_lww_snapshot"]
    # shared batch split for the mode snapshots: thirds by event_id
    # (hi//3, 2*hi//3 — match the Python integer cuts exactly), batch
    # winner = max event_id within (user, batch)
    _cdc_pb = """
        WITH hi AS (SELECT max(event_id) AS h FROM events),
        ev AS (
            SELECT e.user_id, e.event_id, e.event_type, e.value,
                   CASE WHEN e.event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                   CASE WHEN e.event_id <= h // 3 THEN 0
                        WHEN e.event_id <= (2 * h) // 3 THEN 1
                        ELSE 2 END AS b
            FROM events e, hi),
        pb AS (
            SELECT * FROM (
                SELECT user_id, b, event_id, event_type, value, op,
                       row_number() OVER (PARTITION BY user_id, b
                                          ORDER BY event_id DESC) AS rn
                FROM ev) WHERE rn = 1)
    """
    sql["cdc_ifabsent_snapshot"] = _cdc_pb + """
        , lastdel AS (
            SELECT user_id, max(b) AS bd FROM pb WHERE op = 'D' GROUP BY user_id),
        winner AS (
            SELECT p.user_id, p.b, p.event_id, p.event_type, p.value,
                   row_number() OVER (PARTITION BY p.user_id ORDER BY p.b) AS wn
            FROM pb p LEFT JOIN lastdel d USING (user_id)
            WHERE p.op = 'U' AND (d.bd IS NULL OR p.b > d.bd))
        SELECT user_id, event_id AS first_event_id,
               event_type AS first_event_type,
               round(value, 6) AS first_value
        FROM winner WHERE wn = 1
    """
    sql["cdc_update_only_snapshot"] = _cdc_pb + """
        , flags AS (
            SELECT user_id,
                   bool_or(b = 0 AND op = 'U') AS seeded,
                   bool_or(b > 0 AND op = 'D') AS deleted_later
            FROM pb GROUP BY user_id),
        surv AS (
            SELECT p.user_id, p.event_id, p.event_type, p.value,
                   row_number() OVER (PARTITION BY p.user_id ORDER BY p.b DESC) AS rn2
            FROM pb p JOIN flags f USING (user_id)
            WHERE f.seeded AND NOT f.deleted_later)
        SELECT user_id, event_id AS last_event_id,
               event_type AS last_event_type,
               round(value, 6) AS last_value
        FROM surv WHERE rn2 = 1
    """
    sql["pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 4) AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """
    sql["shipping_priority"] = """
        SELECT o_orderkey, o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """
    sql["order_priority"] = """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
    """
    sql["region_revenue"] = """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      JOIN customer ON o_custkey = c_custkey
                      JOIN supplier ON l_suppkey = s_suppkey
                      JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
        GROUP BY n_name
    """
    sql["revenue_forecast"] = """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """
    sql["top_users"] = """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events GROUP BY user_id
        ORDER BY total_value DESC, user_id ASC LIMIT 10
    """
    sql["sessionization"] = """
        WITH d AS (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('second', lag(ts) OVER w, ts) > 1800
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events
        FROM d GROUP BY user_id
    """
    sql["daily_rollup"] = """
        SELECT date_trunc('day', ts) AS day, event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 4) AS total_value
        FROM events GROUP BY 1, 2
    """
    sql["exact_dedup"] = """
        SELECT min(doc_id) AS doc_id, md5(text) AS content_md5,
               CAST(count(*) AS BIGINT) AS n_dups
        FROM documents GROUP BY md5(text)
    """
    _jaccard_cte = f"""
        WITH documents2 AS ({_EDGE_DOCS_SQL}),
        toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                 FROM documents2),
        sh AS (SELECT doc_id,
                      unnest(list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS s
               FROM toks),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
              FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(nc * 1.0 / (x.n + y.n - nc), 6) AS jaccard
        FROM c JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        WHERE nc * 1.0 / (x.n + y.n - nc) >= 0.5
    """
    sql["ngram_jaccard"] = _jaccard_cte
    # minhash_lsh verifies candidates with exact jaccard, and at this corpus
    # every >=0.5 pair shares an LSH band, so the oracle is the exact query
    sql["minhash_lsh"] = _jaccard_cte
    # clusters: same pair graph, component = min reachable node id
    sql["dedup_clusters"] = f"""
        WITH RECURSIVE documents2 AS ({_EDGE_DOCS_SQL}),
        toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                 FROM documents2),
        sh AS (SELECT doc_id,
                      unnest(list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS s
               FROM toks),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
              FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2),
        p AS (SELECT doc_a, doc_b
              FROM c JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
              WHERE nc * 1.0 / (x.n + y.n - nc) >= 0.5),
        e AS (SELECT doc_a AS u, doc_b AS v FROM p
              UNION SELECT doc_b, doc_a FROM p),
        r AS (SELECT u, u AS reach FROM (SELECT DISTINCT u FROM e)
              UNION
              SELECT e.u, r.reach FROM e JOIN r ON e.v = r.u)
        SELECT u AS doc_id, min(reach) AS component FROM r GROUP BY u
    """
    # simhash oracle: recompute the 64-bit simhash per doc IN SQL from the
    # same md5-derived token hashes (bit votes over all token occurrences,
    # vote > 0 -> bit set), then exact all-pairs hamming via bit_count(xor).
    # Proves both the hash portability AND banding completeness end-to-end.
    _wh = (
        "('0x'||substr(md5(t),1,4))::BIGINT::HUGEINT * 281474976710656"
        " + ('0x'||substr(md5(t),5,4))::BIGINT::HUGEINT * 4294967296"
        " + ('0x'||substr(md5(t),9,4))::BIGINT::HUGEINT * 65536"
        " + ('0x'||substr(md5(t),13,4))::BIGINT::HUGEINT"
    )
    _votes = ",\n               ".join(
        f"sum(CASE WHEN (wh // {1 << j}::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    _assemble = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j}::HUGEINT ELSE 0::HUGEINT END)"
        for j in range(64)
    )
    sql["simhash_pairs"] = f"""
        WITH tok AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents),
        h AS (SELECT doc_id, {_wh} AS wh FROM tok),
        v AS (SELECT doc_id,
               {_votes}
              FROM h GROUP BY doc_id),
        s AS (SELECT doc_id, ({_assemble}) AS u FROM v),
        sb AS (SELECT doc_id,
                      CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                           THEN u - 18446744073709551616::HUGEINT ELSE u END
                           AS BIGINT) AS sh
               FROM s)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM sb a JOIN sb b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 6
    """
    sql["text_profile"] = """
        WITH t AS (SELECT doc_id, text, n_chars,
                          regexp_split_to_array(trim(text), '\\s+') AS toks
                   FROM documents),
        s AS (SELECT doc_id, text, n_chars, toks,
                     len(list_filter(toks, x -> x IN ('der','und','das'))) AS s_de,
                     len(list_filter(toks, x -> x IN ('the','a','and'))) AS s_en,
                     len(list_filter(toks, x -> x IN ('el','y','los'))) AS s_es,
                     len(list_filter(toks, x -> x IN ('le','et','les'))) AS s_fr,
                     len(list_filter(toks, x -> x IN ('de5','shi4','le5'))) AS s_zh
              FROM t)
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END AS lang_pred,
               round(0.4 * least(n_chars / 500.0, 1.0)
                     + 0.3 * (1.0 - length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / n_chars)
                     + 0.3 * (len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) * 1.0 / len(toks)),
                     6) AS quality
        FROM s
    """
    # polynomial rolling hash mod 2^64: list_reduce's seed-from-first-
    # element equals the 0-seeded fold (h1 = 0*base + b0 = b0); the
    # corpus is ASCII so ascii(ch) == the utf-8 byte the UDF folds
    sql["doc_fingerprint"] = """
        SELECT doc_id,
               CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                    THEN h - 18446744073709551616::HUGEINT ELSE h END
                    AS BIGINT) AS fingerprint
        FROM (
            SELECT doc_id,
                   CASE WHEN text IS NULL OR length(text) = 0 THEN 0::HUGEINT
                        ELSE list_reduce(
                            [ascii(x)::HUGEINT for x in str_split(text, '')],
                            (acc, ch) -> (acc * 1099511628211::HUGEINT + ch)
                                         % 18446744073709551616::HUGEINT)
                   END AS h
            FROM documents)
    """
    sql["ann_topk"] = """
        WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 10),
        e AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS nv FROM embeddings),
        s AS (SELECT qid, nid,
                     round(list_dot_product(qv, nv)
                           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))),
                           6) AS cs
              FROM q, e WHERE qid <> nid),
        r AS (SELECT qid AS query_id, nid AS neighbor_id, cs AS cos_sim,
                     row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid ASC) AS rank
              FROM s)
        SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 5
    """
    sql["asof_join"] = """
        SELECT e.event_id, e.user_id,
               round(s.value, 6) AS last_signup_value
        FROM events e
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                        WHERE event_type = 'signup') s
        ON e.user_id = s.user_id AND e.ts >= s.ts
    """
    sql["cosine_near_dup"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                     6) AS cos_sim
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                    6) >= 0.4
    """
    sql["fk_guard_kept"] = """
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM customer
                      WHERE c_custkey = o_custkey AND c_acctbal > 5000)
        GROUP BY o_orderstatus
    """
    sql["reject_tally"] = """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rejected
        FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM customer
                          WHERE c_custkey = o_custkey AND c_acctbal > 5000)
        GROUP BY o_orderpriority
    """
    sql["closure"] = """
        WITH RECURSIVE e AS (
            SELECT p_partkey AS child_id, p_partkey // 2 AS parent_id
            FROM part WHERE p_partkey >= 2),
        cl AS (
            SELECT child_id AS descendant_id, parent_id AS ancestor_id FROM e
            UNION
            SELECT cl.descendant_id, e.parent_id
            FROM cl JOIN e ON cl.ancestor_id = e.child_id)
        SELECT descendant_id, ancestor_id FROM cl
    """
    sql["composite_key"] = """
        SELECT o_orderkey,
               sha256(concat_ws(chr(31), CAST(o_custkey AS VARCHAR),
                                o_orderstatus, o_orderpriority)) AS row_key
        FROM orders
    """
    sql["hgvs_key"] = """
        WITH v AS (
            SELECT o_orderkey,
                   'NT_' || CAST(o_orderkey AS VARCHAR) AS refseq_local,
                   CASE o_orderkey % 7
                        WHEN 0 THEN 'SO:1000002' WHEN 1 THEN 'SO:1000008'
                        WHEN 2 THEN 'SO:0000667' WHEN 3 THEN 'SO:0000159'
                        WHEN 4 THEN 'SO:0002007' WHEN 5 THEN 'SO:1000032'
                        ELSE 'SO:0001059' END AS vt,
                   CASE WHEN o_orderkey % 11 = 0 THEN NULL
                        ELSE o_orderkey % 100000 + 1 END AS start_pos,
                   substr('ACGT', CAST(o_orderkey % 4 + 1 AS INT), 1) AS ref_seq,
                   CASE WHEN o_orderkey % 13 = 0 THEN NULL
                        ELSE substr('TGCA', CAST(o_orderkey % 4 + 1 AS INT), 1)
                   END AS var_seq,
                   'R6' AS assembly,
                   CAST(o_orderkey % 4 AS VARCHAR) AS chromosome
            FROM orders),
        w AS (
            SELECT o_orderkey, refseq_local, vt, assembly, chromosome,
                   coalesce(CAST(start_pos AS VARCHAR), '') AS start_s,
                   coalesce(CAST(start_pos + 3 AS VARCHAR), '') AS end_s,
                   coalesce(ref_seq, '') AS ref_s,
                   coalesce(var_seq, '') AS var_s
            FROM v),
        x AS (
            SELECT o_orderkey, refseq_local, assembly, chromosome, start_s,
                   CASE WHEN vt IN ('SO:1000002','SO:1000008')
                             THEN ref_s || '>' || var_s
                        WHEN vt = 'SO:0000667' THEN '_' || end_s || 'ins' || var_s
                        WHEN vt = 'SO:0000159' THEN '_' || end_s || 'del'
                        WHEN vt IN ('SO:0002007','SO:1000032')
                             THEN '_' || end_s || 'delins' || var_s
                   END AS sfx
            FROM w)
        SELECT o_orderkey,
               CASE WHEN sfx IS NULL THEN ''
                    ELSE refseq_local || ':g.' || start_s || sfx END AS hgvs,
               CASE WHEN sfx IS NULL THEN ''
                    ELSE '(' || assembly || ')' || chromosome || ':' || start_s || sfx
               END AS hgvs_syn
        FROM x
    """
    sql["ordered_concat"] = """
        SELECT l_orderkey,
               string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag) AS flag_seq,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    """
    sql["xref_resolve"] = """
        SELECT o_orderkey,
               coalesce(p.name1, f.name2, 'UNRESOLVED') AS resolved,
               CASE WHEN p.name1 IS NOT NULL THEN 'primary'
                    WHEN f.name2 IS NOT NULL THEN 'fallback'
                    ELSE 'none' END AS resolution
        FROM orders
        LEFT JOIN (SELECT c_custkey AS k1, c_name AS name1
                   FROM customer WHERE c_acctbal > 0) p ON o_custkey = p.k1
        LEFT JOIN (SELECT c_custkey AS k2, upper(c_mktsegment) AS name2
                   FROM customer) f ON o_custkey = f.k2
    """
    sql["count_regression"] = """
        SELECT 'region' AS tbl, CAST(count(*) AS BIGINT) AS n_rows FROM region
        UNION ALL SELECT 'nation', CAST(count(*) AS BIGINT) FROM nation
        UNION ALL SELECT 'customer', CAST(count(*) AS BIGINT) FROM customer
        UNION ALL SELECT 'supplier', CAST(count(*) AS BIGINT) FROM supplier
        UNION ALL SELECT 'part', CAST(count(*) AS BIGINT) FROM part
        UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
        UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
        UNION ALL SELECT 'events', CAST(count(*) AS BIGINT) FROM events
        UNION ALL SELECT 'documents', CAST(count(*) AS BIGINT) FROM documents
        UNION ALL SELECT 'embeddings', CAST(count(*) AS BIGINT) FROM embeddings
    """
    sql["pubid_cascade"] = """
        WITH raw AS (
            SELECT o_orderkey,
                   CASE o_orderkey % 5
                        WHEN 0 THEN 'pubmed:' || CAST(o_orderkey AS VARCHAR)
                        WHEN 1 THEN 'DOI:10.' || CAST(1000 + o_orderkey % 9000 AS VARCHAR)
                                    || '/x' || CAST(o_orderkey AS VARCHAR)
                        WHEN 2 THEN 'flybase:FBrf' || CAST(o_orderkey AS VARCHAR)
                        WHEN 3 THEN 'wormbase:WBPaper' || CAST(o_orderkey AS VARCHAR)
                        ELSE 'PUBMED:' || CAST(o_orderkey AS VARCHAR)
                   END AS raw_id
            FROM orders)
        SELECT o_orderkey, raw_id,
               CASE WHEN regexp_extract(raw_id, '(?i)(pubmed:\\d+)', 1) <> ''
                         THEN regexp_replace(regexp_extract(raw_id, '(?i)(pubmed:\\d+)', 1),
                                             '(?i)pubmed', 'PMID', 'g')
                    WHEN regexp_extract(raw_id, '(?i)^((?:DOI:)?\\d{2}\\.\\d{4}.*)$', 1) <> ''
                         THEN regexp_replace(regexp_extract(raw_id, '(?i)^((?:DOI:)?\\d{2}\\.\\d{4}.*)$', 1),
                                             '(?i)DOI', 'doi', 'g')
                    WHEN regexp_extract(raw_id, '(?i)^(flybase:FBrf\\d+)', 1) <> ''
                         THEN regexp_replace(regexp_extract(raw_id, '(?i)^(flybase:FBrf\\d+)', 1),
                                             '(?i)flybase', 'FB', 'g')
                    ELSE NULL END AS publication
        FROM raw
    """
    sql["count_delta"] = """
        WITH cur AS (
            SELECT 'region' AS tbl, CAST(count(*) AS BIGINT) AS n_rows FROM region
            UNION ALL SELECT 'nation', CAST(count(*) AS BIGINT) FROM nation
            UNION ALL SELECT 'customer', CAST(count(*) AS BIGINT) FROM customer
            UNION ALL SELECT 'supplier', CAST(count(*) AS BIGINT) FROM supplier
            UNION ALL SELECT 'part', CAST(count(*) AS BIGINT) FROM part
            UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
            UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
            UNION ALL SELECT 'events', CAST(count(*) AS BIGINT) FROM events
            UNION ALL SELECT 'documents', CAST(count(*) AS BIGINT) FROM documents
            UNION ALL SELECT 'embeddings', CAST(count(*) AS BIGINT) FROM embeddings),
        base AS (
            SELECT tbl,
                   CAST(CASE WHEN tbl = 'events' THEN n_rows * 2 + 7
                        ELSE CAST(floor(n_rows * 0.8) AS BIGINT) + 1 END AS BIGINT)
                       AS baseline_rows
            FROM cur)
        SELECT cur.tbl AS label, cur.n_rows AS n_rows,
               base.baseline_rows AS baseline_rows,
               cur.n_rows - base.baseline_rows AS delta,
               cur.n_rows < base.baseline_rows AS shrunk
        FROM cur JOIN base USING (tbl)
    """
    sql["url_template"] = """
        SELECT doc_id,
               printf('https://%s.example.org/doc/%d', source, doc_id) AS url,
               regexp_full_match(
                   printf('https://%s.example.org/doc/%d', source, doc_id),
                   'https://src[0-9]+\\.example\\.org/doc/[0-9]+') AS valid
        FROM documents
    """
    sql["date_normalize"] = """
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'not-a-date'
                    WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                    WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y/%m/%d')
                    ELSE strftime(o_orderdate, '%m/%d/%Y') END AS raw_date,
               CASE WHEN o_orderkey % 10 = 0 THEN NULL
                    WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ')
                    ELSE strftime(date_trunc('day', o_orderdate), '%Y-%m-%dT%H:%M:%SZ')
               END AS norm_date
        FROM orders
    """
    sql["sequence_slice"] = """
        WITH iv AS (
            SELECT doc_id AS interval_id,
                   CAST(1 + (n_chars * 7) % greatest(n_chars - 60, 1) AS INT) AS start_pos,
                   n_chars, text
            FROM documents)
        SELECT interval_id, start_pos,
               CAST(least(start_pos + 59, n_chars) AS INT) AS end_pos,
               substr(text, start_pos,
                      CAST(least(start_pos + 59, n_chars) AS INT) - start_pos + 1) AS seq
        FROM iv
    """
    sql["hash_split"] = """
        SELECT doc_id,
               CASE WHEN b < 838860 THEN 'train'
                    WHEN b < 943718 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT AS b
              FROM documents) t
    """
    sql["stratified_sample"] = """
        SELECT doc_id, lang
        FROM (SELECT doc_id, lang,
                     ('0x' || substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT AS b
              FROM documents) t
        WHERE b < CASE WHEN lang = 'en' THEN 262144 ELSE 1048576 END
    """
    sql["pack_chunks"] = """
        WITH c AS (
            SELECT doc_id, source, n_chars,
                   sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM documents)
        SELECT doc_id, source, n_chars,
               CAST(floor((cum - n_chars) * 1.0 / 4096) AS BIGINT) AS chunk_id,
               CAST((cum - n_chars) % 4096 AS BIGINT) AS chunk_offset,
               floor((cum - 1) * 1.0 / 4096) > floor((cum - n_chars) * 1.0 / 4096)
                   AS spans_boundary
        FROM c
    """
    # next-fit greedy is a per-group sequential recurrence: the oracle
    # replays it as a recursive CTE stepping one id-ordered row per group
    # per iteration (same pattern that oracled dedup_clusters).
    sql["pack_nextfit"] = """
        WITH RECURSIVE ordered AS (
            SELECT doc_id, source AS grp, n_chars AS len,
                   row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
            FROM documents),
        pack AS (
            SELECT doc_id, grp, len, rn,
                   CAST(0 AS BIGINT) AS bin_id, CAST(len AS BIGINT) AS bin_fill
            FROM ordered WHERE rn = 1
            UNION ALL
            SELECT o.doc_id, o.grp, o.len, o.rn,
                   CASE WHEN p.bin_fill > 0 AND p.bin_fill + o.len > 4096
                        THEN p.bin_id + 1 ELSE p.bin_id END,
                   CASE WHEN p.bin_fill > 0 AND p.bin_fill + o.len > 4096
                        THEN CAST(o.len AS BIGINT) ELSE p.bin_fill + o.len END
            FROM pack p JOIN ordered o ON o.grp = p.grp AND o.rn = p.rn + 1)
        SELECT doc_id, grp AS "group", bin_id, bin_fill FROM pack
    """
    sql["token_histogram"] = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
            FROM documents)
        SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM toks WHERE token <> ''
        GROUP BY token HAVING count(*) >= 2
    """
    # full-probe IVF is exhaustive -> must equal the exact-cosine result
    sql["ivf_topk"] = sql["ann_topk"]
    # lsh_topk: recompute the md5-Rademacher plane signs, band buckets,
    # candidate join, and exact cosine re-rank entirely in DuckDB. The
    # ±1 plane literals are derived here with hashlib.md5 — the same
    # public derivation the Spark query inlines — so candidates match
    # bit-for-bit and this is a full values oracle of the approximate
    # pipeline (dim=64 across all sf fixtures).
    from agr_loader_spark.operators.similarity import rademacher_planes

    _planes = rademacher_planes(42, 32, 64)
    _sign_cols = ",\n               ".join(
        "(list_dot_product(v, ["
        + ",".join(f"{c:.1f}" for c in pl)
        + f"]) >= 0)::BIGINT AS s{p}"
        for p, pl in enumerate(_planes)
    )
    _band_rows = "\n            UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " + ".join(f"s{b * 4 + j} * {1 << j}" for j in range(4))
        + " AS bucket FROM sv"
        for b in range(8)
    )
    sql["lsh_topk"] = f"""
        WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sv AS (
            SELECT vec_id,
               {_sign_cols}
            FROM ev),
        bv AS (
            {_band_rows}),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id
            FROM bv q JOIN bv e ON q.band = e.band AND q.bucket = e.bucket
            WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
        s AS (
            SELECT c.query_id, c.neighbor_id,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
            FROM cand c
            JOIN ev a ON a.vec_id = c.query_id
            JOIN ev b ON b.vec_id = c.neighbor_id),
        r AS (
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM s)
        SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 5
    """
    sql["dedup_corpus"] = f"""
        WITH RECURSIVE documents2 AS ({_EDGE_DOCS_SQL}),
        toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                 FROM documents2),
        sh AS (SELECT doc_id,
                      unnest(list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS s
               FROM toks),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
              FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2),
        p AS (SELECT doc_a, doc_b
              FROM c JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
              WHERE nc * 1.0 / (x.n + y.n - nc) >= 0.5),
        e AS (SELECT doc_a AS u, doc_b AS v FROM p
              UNION SELECT doc_b, doc_a FROM p),
        r AS (SELECT u, u AS reach FROM (SELECT DISTINCT u FROM e)
              UNION
              SELECT e.u, r.reach FROM e JOIN r ON e.v = r.u),
        comp AS (SELECT u AS doc_id, min(reach) AS component FROM r GROUP BY u)
        SELECT d.doc_id,
               coalesce(comp.component, d.doc_id) AS component,
               d.doc_id = coalesce(comp.component, d.doc_id) AS is_kept
        FROM documents2 d LEFT JOIN comp ON comp.doc_id = d.doc_id
    """
    sql["contamination"] = """
        WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
                      FROM documents),
        sh AS (SELECT doc_id,
                      unnest(list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS s
               FROM toks),
        ev AS (SELECT * FROM sh WHERE doc_id % 101 = 0),
        sz AS (SELECT doc_id, count(*) AS n FROM ev GROUP BY doc_id),
        c AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS n_common
              FROM sh t JOIN ev e USING (s)
              GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT train_id, eval_id, n_common,
               round(n_common * 1.0 / sz.n, 6) AS containment
        FROM c JOIN sz ON sz.doc_id = c.eval_id
    """
    # multimodal_features: re-derive every feature from scratch in SQL.
    # Audio rows (i % 3 = 1): regenerate the sine burst exactly as
    # synthesize_media does (0.8*sin(2*pi*f*t), trunc to int16 = the WAV
    # payload's PCM samples), decode back to int/32768, 8 windows of 50,
    # per-window RMS, L2-normalize, cast REAL — the full real-WAV-codec
    # feature path. Image/video rows: regenerate the md5-chain payload
    # bytes (byte k's low hex nibble mod 8 == byte mod 8, since 16 = 0
    # mod 8), bucketed byte histogram, L2-normalize, cast REAL — the
    # documented decode stub. feat_first/feat_sum match the Spark query's
    # float32-then-double arithmetic element-for-element.
    sql["multimodal_features"] = """
        WITH ids AS (SELECT unnest(range(0, 64)) AS i),
        aud AS (
            SELECT i, list_transform(range(0, 400), s ->
                CAST(trunc(0.8 * sin(((2 * pi())
                        * (100.0 + CAST(i % 40 AS DOUBLE) * 55.0))
                        * (CAST(s AS DOUBLE) / 8000.0)) * 32767.0) AS INT)
                / 32768.0) AS x
            FROM ids WHERE i % 3 = 1),
        rmsw AS (
            SELECT i, list_transform(range(0, 8), w ->
                sqrt(list_sum(list_transform(range(0, 50), j ->
                    x[CAST(w * 50 + j + 1 AS INT)]
                    * x[CAST(w * 50 + j + 1 AS INT)])) / 50.0)) AS v
            FROM aud),
        fk AS (
            SELECT i, printf('media:%06d', i) AS media_id,
                   CAST(64 + (i * 37) % 1984 AS INT) AS size
            FROM ids WHERE i % 3 <> 1),
        hx AS (
            SELECT i, media_id, size,
                   list_aggregate(list_transform(
                       range(0, CAST(ceil(size / 16.0) AS INT)),
                       j -> md5(media_id || ':' || j)), 'string_agg', '') AS h
            FROM fk),
        hist AS (
            SELECT i, media_id, size, list_transform(range(0, 8), d ->
                CAST(len(list_filter(range(0, size), k ->
                    (strpos('0123456789abcdef',
                            substr(h, CAST(2 * k + 2 AS INT), 1)) - 1) % 8
                    = d)) AS DOUBLE)) AS v
            FROM hx),
        allrows AS (
            SELECT i, printf('media:%06d', i) AS media_id,
                   844 AS n_bytes, v FROM rmsw
            UNION ALL
            SELECT i, media_id, size AS n_bytes, v FROM hist),
        feat AS (
            SELECT i, media_id, n_bytes,
                   list_transform(v, r -> CAST(r / sqrt(
                       list_sum(list_transform(v, q -> q * q))) AS REAL)) AS f
            FROM allrows)
        SELECT media_id,
               CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                          ELSE 'video' END AS kind,
               n_bytes,
               round(CAST(f[1] AS DOUBLE), 6) AS feat_first,
               round(CAST(f[1] AS DOUBLE) + CAST(f[2] AS DOUBLE)
                     + CAST(f[3] AS DOUBLE) + CAST(f[4] AS DOUBLE)
                     + CAST(f[5] AS DOUBLE) + CAST(f[6] AS DOUBLE)
                     + CAST(f[7] AS DOUBLE) + CAST(f[8] AS DOUBLE), 4)
                   AS feat_sum
        FROM feat
    """
    return sql
