"""Per-batch dedup by (key, lsn) + last-writer-wins conflict resolution.

Reference semantics being re-expressed (SURVEY.md A3/K3/K4):
- in-batch key dedup via Python sets/dicts
  (src/etl/molecular_interaction_etl.py:601-603,
  src/etl/helpers/experimental_condition_helper.py:78-92);
- "first writer wins" MERGE ON CREATE (src/etl/bgi_etl.py:99-115) /
  "last writer wins" MERGE SET (src/etl/allele_etl.py:142-144) collapsed
  into an ordered-log LWW: the event with the max event_lsn per doc_id is
  the one whose op/payload survives the micro-batch;
- duplicate re-delivery tolerance: the reference requeues failed batches
  and re-applies them (src/transactors/neo4j_transactor.py:108-118);
  here exact (doc_id, event_lsn) re-deliveries are identical rows, so
  they collapse in the final dedup.

One production reducer plus a readable reference, both vectorized (no
per-row Python, per the north rule). Null keys: rows with a null ``key``
are dropped (the caller routes schema events before LWW). The replay
runner itself calls neither: its LWW happens inside the bucket fold
(lake/arrow_merge.py), optionally after ``precombine_lww`` below.

- ``lww_reduce`` (DEFAULT, production path) — two-phase local/global
  reduce that never sorts or aggregates the payload:
    phase 1 (local):  per-map-task partial max(lsn) per key, then a
                      narrow global max — only (key, lsn) shuffles;
    phase 2 (global): left-semi join of the full rows against the
                      winning (key, lsn) pairs + a co-partitioned
                      dropDuplicates.
  Skew: the hot key's payload rows route by the COMPOSITE (key, lsn)
  hash — lsn is unique per event, so a doc_id carrying 5% of the batch
  still spreads across all partitions (the lsn acts as a built-in salt
  for every payload shuffle); only the narrow pre-aggregated
  (key, max_lsn) pairs ever converge on one reducer. ~10x faster than
  the struct-aggregation variants on token-array payloads (measured:
  1.9s vs 18.4s on a 2M-event segment, local[32]).
- ``lww_reduce_window`` — naive row_number() window; the readable spec
  that tests compare ``lww_reduce`` against. NOT skew-safe: a hot key
  sorts all its rows in one partition.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_redelivery(df: DataFrame, key: str = "doc_id", order_col: str = "event_lsn") -> DataFrame:
    """Drop exact (key, lsn) re-deliveries. The default lww_reduce also
    collapses them; kept for callers that need the deduped stream."""
    return df.dropDuplicates([key, order_col])


def lww_reduce(
    df: DataFrame,
    key: str = "doc_id",
    order_col: str = "event_lsn",
) -> DataFrame:
    """Keep, per key, the full row of the max-``order_col`` event.

    Output has exactly the input columns, one row per (non-null) key.
    See module docstring for the two-phase/skew design.
    """
    winners = df.groupBy(key).agg(F.max(order_col).alias(order_col))
    return (
        df.join(winners, on=[key, order_col], how="left_semi")
        .dropDuplicates([key, order_col])
        .select(*df.columns)
    )


def lww_reduce_window(df: DataFrame, key: str = "doc_id", order_col: str = "event_lsn") -> DataFrame:
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact(df: DataFrame, cols: Iterable[str] | None = None) -> DataFrame:
    """Plain distinct-by-columns (SURVEY.md A2, dropDuplicates)."""
    return df.dropDuplicates(list(cols) if cols else None)


#: counter column emitted by :func:`precombine_lww`, consumed by the
#: bucket fold (lake/arrow_merge.py) and stripped by the prefetch
#: schema check (streaming/runner.py) — every consumer references these
#: names, so adding a counter column is a one-line change here
MIN_LSN_COL = "__min_lsn"
PRECOMBINE_COLS = (MIN_LSN_COL,)


def precombine_lww(
    df: DataFrame,
    key: str = "doc_id",
    op_col: str = "__op",
    lsn_col: str = "event_lsn",
) -> DataFrame:
    """Map-LOCAL LWW combine: collapse each input partition to one
    winner row per key BEFORE the bucket shuffle.

    Why: on an update-heavy (zipf-skewed) change feed most shuffled bytes
    are LWW losers — payloads that the bucket fold will immediately
    discard. Collapsing per map partition means duplicates of a key die
    inside each task before their token arrays ever hit the shuffle;
    hot keys (the bulk of event volume under zipf) collapse almost
    entirely. This is the classic combiner, and it disproportionately
    helps multi-executor topologies where shuffle bytes cross
    JVMs/network.

    Why ``mapInArrow`` and not a ``groupBy(key)`` aggregation: Spark has
    no hash-based whole-stage plan for a payload-carrying argmax —
    ``max_by(struct(payload), lsn)`` has a non-primitive buffer, so it
    plans as SortAggregate (a full per-partition payload sort), and
    bolting ``collect_set`` counters on top switches it to
    ObjectHashAggregate with UNBOUNDED per-key state (zipf-hot keys
    collect millions of lsns) plus the 128-key sort-based fallback.
    Both were measured slower and wildly higher-variance than no combine
    at all on 4-executor legs (BENCH/BASELINE.md round-4 precombine
    section). The Arrow path is a single vectorized pass: winner indices
    come from a hash groupby over ONLY the narrow (key, lsn) columns,
    then ``Table.take`` selects winner rows without the payload ever
    leaving Arrow buffers. No sort, no extra exchange, bounded memory
    (one input split per task).

    Semantics: within a partition only the max-lsn row per key survives,
    plus ``__min_lsn`` = that partition's min lsn per key, so the bucket
    fold can still report the exact per-bucket source-offset range
    absorbed (north rule: offset -> snapshot lineage). Cross-partition
    winners for the same key are LWW-resolved by the fold, unchanged.
    Ties on (key, lsn) are re-deliveries (a binlog lsn names one event)
    with identical payloads, so the surviving row is unambiguous.

    Commit-level re-delivery dedup counters cannot be measured after a
    local collapse. The replay runner reports them approx by default
    (HLL distinct-lsn expressions riding the narrow planning agg — no
    extra pass) and exactly under ``ReplayRunner(exact_counts=True)``
    (a distinct-lsn two-level HashAggregate over (epoch, seg, lsn, op)
    in the planning pass — one O(n)-row narrow shuffle, measured ~60
    core-s per 34M-event segment, which is why it is opt-in). The
    precombine equivalence tests hold the exact mode bit-identical to
    the uncombined fold's counts; final table STATE is identical in
    every mode.
    """
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from ..zipcache import keep_zip_directory_cache

    # NOTE: StructType.add mutates in place — never call it on df.schema
    out_schema = StructType(
        list(df.schema.fields) + [StructField(MIN_LSN_COL, LongType())]
    )

    def _combine(batches):
        keep_zip_directory_cache()
        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        if t.num_rows == 0:
            return
        # winner selection over the two narrow columns only
        nar = pd.DataFrame({
            "k": t.column(key).to_pandas(),
            "l": t.column(lsn_col).to_numpy(zero_copy_only=False),
        })
        g = nar.groupby("k", sort=False)["l"]
        idx = g.idxmax().to_numpy()
        mins = g.min().to_numpy()
        win = t.take(pa.array(idx, pa.int64()))
        win = win.append_column(MIN_LSN_COL, pa.array(mins, pa.int64()))
        yield from win.to_batches()

    return df.mapInArrow(_combine, out_schema)
