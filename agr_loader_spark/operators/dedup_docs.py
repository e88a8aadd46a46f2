"""Document deduplication suite for training-data pipelines.

Four strategies, ordered by cost/recall trade-off (each a first-class
engine operator per the build brief):

- exact:       hash-groupBy on a content digest — the only one that is
               loss-free; one shuffle on the digest.
- ngram_jaccard: EXACT Jaccard over word n-gram shingle sets via a
               hashed-shingle self-equi-join: explode each doc's
               distinct shingle hashes, join on the hash, count common
               shingles per (doc_a, doc_b) pair (the probe side is
               partitioned by doc id so every copy of a pair collapses
               in the map-side partial aggregate), then Jaccard from
               per-doc set sizes computed in the scan projection.
               Inherently bounded below by the candidate count
               sum_shingle df^2 — this is the loss-free verification
               baseline. The optional `max_df` stop-shingle cap bounds
               the join at sum(min(df, max_df)^2) for web-scale corpora
               at a documented (tiny) recall cost. (A PPJoin-style
               prefix filter was measured and rejected: the global
               df-ordering pass cost more than it saved at every scale
               tested — see BENCH/BASELINE.md.)
- minhash_lsh: MinHash signatures + banded LSH bucketing — the scale
               path: candidate pairs come from equi-joins on (band,
               band_hash) buckets, never a cross product; candidates
               are then verified with exact Jaccard (no false
               positives; recall controlled by bands x rows).
- simhash:     64-bit SimHash + chunk-banded candidate join + Hamming
               verification (chunk count derived from max_hamming so
               the pigeonhole completeness guarantee always holds).

Every n-gram consumer (the Jaccard sets and join paths, MinHash and
both contamination sides) gets its shingles from one vectorized kernel,
`shingle.shingle_sets`: a single mapInArrow step that splits, joins,
dedups and xxhash64-hashes each doc's word n-grams with Arrow/numpy,
bit-identical to Spark's expressions. SimHash's word hashes stay a Spark
projection (the token hash is pluggable); its bit folding is a vectorized
pandas UDF over grouped hash arrays.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel
from pyspark.sql.functions import pandas_udf

from ..zipcache import keep_zip_directory_cache
from .shingle import minhash_seeds, shingle_sets, xxhash64


# ------------------------------------------------------------------ exact
def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per identical text (md5 digest).
    Output: (doc_id, content_md5, n_dups)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, "content_md5", "n_dups")
    )


# ------------------------------------------------------------- shingling
def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 2) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle). Docs with
    fewer than n tokens contribute no rows (explode of empty array)."""
    # the kernel already dedups within a doc, so (id, shingle) is unique
    # with no extra shuffle
    return shingle_sets(docs, text_col, id_col, n, grams=True).select(
        F.col(id_col), F.explode("__grams").alias("shingle")
    )


def _verify_pairs(
    candidates: DataFrame, sets: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) rows
    against per-doc shingle-set arrays: |A∩B| via `array_intersect`
    (linear in doc length, whole-stage codegen), never a re-join on the
    exploded shingle table (which multiplies candidates by shingles/doc).
    Candidate duplicates are allowed in; the surviving (tiny) output is
    deduped at the end. Shared by the prefix-filter and LSH paths."""
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("sh_set").alias("set_a"),
                     F.col("n_sh").alias("n_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("sh_set").alias("set_b"),
                     F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    return (
        candidates.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("n_common", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ------------------------------------------------- dense-vocab fast path
#
# The hashed-shingle self-equi-join materializes sum_h df(h)^2 rows. For a
# DENSE corpus — many docs drawn from a small shingle vocabulary (template
# text, logs, synthetic corpora) — df ~ n_docs/V and that sum explodes to
# ~n_docs^2 * k^2 / V rows (measured 7.4e9 intermediate rows on the 50k-doc
# bench corpus, V=931). In that regime every doc's shingle set fits a V-bit
# bitmap, and EXACT pairwise intersection counts are a blocked dense matmul
# over 0/1 indicator matrices: n_docs^2 * V multiply-adds of SIMD/BLAS work
# instead of n_docs^2 * k^2 / V hash-aggregate row updates — the
# guide-§1.2 "fix the distributed algorithm first" lever, executed per the
# guide-§4.2 pattern (Spark distributes doc blocks via mapInArrow, numpy
# does the per-block heavy lifting; only the tiny surviving pairs cross
# back). float32 is exact here: counts are integers <= V <= the cap, far
# below 2^24.
#
# Both paths produce identical rows (intersection-of-distinct-shingle-
# hash-sets either way); the final jaccard/containment arithmetic runs in
# the SAME Spark expressions as the join path, so values and dtypes match
# bit-for-bit. The numpy side prefilters with a 1e-6 margin and Spark
# re-applies the exact round()-then-threshold filter, so boundary pairs
# are decided by the identical expression in both paths.
#
# Scale honesty: exact all-pairs Jaccard is Omega(candidate pairs) in any
# algorithm; in the dense regime candidates ~= all pairs and BOTH paths
# are quadratic in n_docs — the dense kernel just replaces ~k^2/V
# shuffle+agg row updates per pair (~100 ns each) with V/8 bytes of
# SIMD/BLAS (~1 ns/8 bytes), a ~100x constant. The caps below bound the
# broadcast index and per-task matrix so the path self-disables on real
# web-scale vocabularies, where the join/LSH paths remain the answer.

_DENSE_VOCAB_CAP = int(os.environ.get("SPARK_JACCARD_DENSE_VOCAB_CAP", "4096"))
# max total collected shingle refs (rows*8 bytes bounds the driver pull)
_DENSE_COLLECT_CAP = int(os.environ.get("SPARK_JACCARD_DENSE_COLLECT_CAP",
                                        str(32_000_000)))
# max bytes of the BIT-packed corpus index each executor holds for the
# self-pair kernel (n_docs * ceil(vocab/8)); the float32 expansion is
# per-column-chunk, never whole
_DENSE_INDEX_BYTES = int(os.environ.get("SPARK_JACCARD_DENSE_INDEX_MB",
                                        "256")) * 1_000_000
# max vocab * n_eval cells for contamination's per-task float32 eval
# matrix (the eval side is broadcast expanded)
_DENSE_CELL_CAP = int(os.environ.get("SPARK_JACCARD_DENSE_CELL_CAP",
                                     str(256_000_000)))


def _cheap_dense_pregate(docs: DataFrame, text_col: str) -> bool:
    """Upper-bound gate on the dense-index collect WITHOUT computing the
    shingle projection: whitespace shingle rows per doc are bounded by
    token count <= (chars+1)/2, so sum(length(text))//2 caps the
    collected refs. One cheap columnar scan instead of a full
    split/distinct/hash pass; conservative (may fall back to the join
    path on long-word corpora near the cap, never over-collects). The
    sums ride a no-op write as observed metrics: one job with no
    exchange, where a global aggregate runs its map stage and its
    result as two jobs."""
    obs = Observation()
    docs.select(F.length(F.col(text_col)).alias("__len")).observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("__len").alias("chars")
    ).write.format("noop").mode("overwrite").save()
    st = obs.get
    n, chars = st["n"], (st["chars"] or 0)
    return n >= 2 and 0 < chars and chars // 2 <= _DENSE_COLLECT_CAP


def _dense_set_index(sets: DataFrame, id_col: str, pregated: bool = False):
    """Probe a (id, sh_set, n_sh) frame for the dense-vocab regime and, if
    it qualifies, collect it into a compact numpy index.

    Returns (index, sets) where index is (vocab, ids, ns, indptr,
    indices) — vocab sorted int64 hash values; per-doc sets as CSR of
    int32 positions into vocab — or (None, sets) when any cap trips
    (caller falls back to the join path). The collect is the compact
    per-doc hash sets (8 B/shingle, _DENSE_COLLECT_CAP), the same
    driver-side-build-then-broadcast pattern as a manual Bloom filter
    (guide §3.2). Once the size gate passes, the sets frame is
    localCheckpoint-materialized (bounded by the collect cap) so the
    vocab probe, the collect and the caller's kernel all reuse ONE
    shingle-projection pass instead of recomputing it per job; the
    materialized frame is returned for the caller to reuse on either
    path."""
    if os.environ.get("SPARK_JACCARD_DENSE", "1") == "0":
        return None, sets
    # the kernel emits int64 ids; any other id type keeps the join path
    # (whose output column type follows the input id type)
    if not isinstance(sets.schema[id_col].dataType, T.LongType):
        return None, sets
    if not pregated:
        st = sets.select(
            F.sum("n_sh").alias("tot"), F.count("*").alias("n")
        ).first()
        tot, n = (st["tot"] or 0), st["n"]
        if n < 2 or tot == 0 or tot > _DENSE_COLLECT_CAP:
            return None, sets
    # DISK_ONLY: materialized sets must not compete with execution
    # memory for the rest of the session (same rationale as the
    # runner's prefetch persist) — a long bench session otherwise
    # accumulates checkpoint blocks in unified memory and taxes every
    # later query's shuffles
    sets = sets.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    vocab_rows = (
        sets.select(F.explode("sh_set").alias("h")).distinct()
        .take(_DENSE_VOCAB_CAP + 1)
    )
    if len(vocab_rows) > _DENSE_VOCAB_CAP:
        return None, sets
    vocab = np.sort(np.array([r["h"] for r in vocab_rows], dtype=np.int64))
    tbl = sets.select(F.col(id_col).alias("__id"), "sh_set").toArrow()
    if tbl.num_rows * ((len(vocab) + 7) // 8) > _DENSE_INDEX_BYTES \
            or tbl.num_rows < 2:
        return None, sets
    if tbl.column("__id").null_count:
        # the join path silently drops null-id docs from pairs (equi-join
        # + id-order filter); the numpy kernel would not — fall back
        return None, sets
    ids = tbl.column("__id").to_numpy()
    lists = tbl.column("sh_set").combine_chunks()
    flat = np.searchsorted(vocab, lists.values.to_numpy()).astype(np.int32)
    indptr = lists.offsets.to_numpy().astype(np.int64)
    ns = np.diff(indptr).astype(np.int64)
    # sort by doc id: the self-pair kernel range-partitions its input and
    # prunes columns below each task's id range, which needs the
    # broadcast column side id-ordered
    order = np.argsort(ids, kind="stable")
    if not np.all(order == np.arange(len(ids))):
        ids, ns = ids[order], ns[order]
        new_indptr = np.zeros(len(ids) + 1, dtype=np.int64)
        np.cumsum(ns, out=new_indptr[1:])
        # entry j of sorted doc d comes from flat[indptr[order[d]] + j]
        src = np.repeat(indptr[:-1][order] - new_indptr[:-1], ns) \
            + np.arange(new_indptr[-1])
        flat, indptr = flat[src], new_indptr
    return (vocab, ids, ns, indptr, flat), sets


def _indicator_block(vocab: np.ndarray, hash_lists) -> np.ndarray:
    """(rows, V) float32 indicator matrix from an Arrow list<int64>
    array of shingle hashes; hashes absent from vocab are ignored."""
    offs = hash_lists.offsets.to_numpy().astype(np.int64)
    vals = (hash_lists.values.to_numpy()[offs[0]:offs[-1]]
            if len(hash_lists.values) else np.empty(0, np.int64))
    offs -= offs[0]
    idx = np.searchsorted(vocab, vals)
    np.clip(idx, 0, len(vocab) - 1, out=idx)
    ok = vocab[idx] == vals
    rows = np.repeat(np.arange(len(offs) - 1), np.diff(offs))
    a = np.zeros((len(offs) - 1, len(vocab)), dtype=np.float32)
    a[rows[ok], idx[ok]] = 1.0
    return a


def _dense_self_pairs(sets: DataFrame, index, threshold: float,
                      id_col: str) -> DataFrame:
    """All (doc_a, doc_b, n_common, n_a, n_b) with doc_a < doc_b,
    n_common >= 1 and jaccard >= threshold - 1e-6, via blocked GEMM of
    each partition's doc block against the broadcast corpus index."""
    vocab, ids, ns, indptr, flat = index
    spark = sets.sparkSession
    # BIT-packed corpus matrix, built once at the driver: n x ceil(V/8)
    # bytes (capped by _DENSE_INDEX_BYTES) — 32x smaller than float32,
    # which is what lets the kernel hold a 10x-scale corpus per worker;
    # each column chunk is unpacked to float32 on demand (~15 MB)
    vb = (len(vocab) + 7) // 8
    bp = np.zeros((len(ids), vb), dtype=np.uint8)
    rows_ix = np.repeat(np.arange(len(ids)), np.diff(indptr))
    np.bitwise_or.at(
        bp, (rows_ix, flat >> 3), (1 << (flat & 7)).astype(np.uint8)
    )
    bc = spark.sparkContext.broadcast((vocab, ids, ns, bp))
    thr = float(threshold)

    def gen(batches):
        import pyarrow as pa

        keep_zip_directory_cache()

        vocab, ids, ns, bp = bc.value
        n, v = len(ids), len(vocab)
        nb = ns.astype(np.float64)
        schema = pa.schema([
            ("doc_a", pa.int64()), ("doc_b", pa.int64()),
            ("n_common", pa.int64()), ("n_a", pa.int64()),
            ("n_b", pa.int64()),
        ])
        # bound per-op temporaries to ~2048x4096 cells (float64 mask
        # chain ~67 MB/task peak)
        col_chunk = 4096
        # jaccard >= t  <=>  nc >= c*(na+nb) with c = t/(1+t) (valid
        # whenever nc >= 1, since then na+nb-nc > 0). Precomputing
        # c*na / c*nb vectors turns the per-cell prefilter into one
        # broadcast add + max + compare in float32; the 1e-4 slack
        # absorbs float32 rounding and the downstream Spark expression
        # applies the exact round()-then-threshold decision to the
        # (tiny) surviving superset.
        tm = max(thr - 1e-4, 0.0)
        c = tm / (1.0 + tm)
        cnb = (nb * c).astype(np.float32)
        for batch in batches:
            bids = batch.column(0).to_numpy()
            if not len(bids):
                continue
            a = _indicator_block(vocab, batch.column(1))
            na = a.sum(axis=1, dtype=np.float64)
            cna = (na * c).astype(np.float32)
            # the broadcast column side is id-sorted and the input is
            # range-partitioned by id, so every column with id <= this
            # batch's minimum can never satisfy doc_a < doc_b here —
            # skip it outright (halves the GEMM work on average; each
            # unordered pair is computed in exactly one task either way)
            col0 = int(np.searchsorted(ids, bids.min(), side="right"))
            # column chunk OUTER so its float expansion is reused
            # across the row blocks
            for clo in range(col0 - col0 % col_chunk, n, col_chunk):
                chi = min(clo + col_chunk, n)
                btc = np.unpackbits(
                    bp[clo:chi], axis=1, count=v, bitorder="little"
                ).T.astype(np.float32)
                for lo in range(0, a.shape[0], 2048):
                    hi = min(lo + 2048, a.shape[0])
                    ab = a[lo:hi]
                    ida = bids[lo:hi]
                    nc = ab @ btc
                    rhs = cna[lo:hi, None] + cnb[None, clo:chi]
                    np.maximum(rhs, np.float32(1.0), out=rhs)
                    ra, cb = np.nonzero(nc >= rhs)
                    if len(ra) == 0:
                        continue
                    # id-order filter on the survivors only (pairs are
                    # symmetric; each ordered pair survives in exactly
                    # one row block)
                    keep = ida[ra] < ids[clo + cb]
                    if not keep.any():
                        continue
                    ra, cb = ra[keep], cb[keep]
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(ida[ra], pa.int64()),
                            pa.array(ids[clo + cb], pa.int64()),
                            pa.array(nc[ra, cb].astype(np.int64)),
                            pa.array(na[lo + ra].astype(np.int64)),
                            pa.array(nb[clo + cb].astype(np.int64)),
                        ],
                        schema=schema,
                    )

    # contiguous id ranges per task enable the column pruning above;
    # the range shuffle moves only the compact materialized sets
    p = 2 * spark.sparkContext.defaultParallelism
    return sets.select(F.col(id_col), "sh_set").repartitionByRange(
        p, F.col(id_col)
    ).mapInArrow(
        gen, "doc_a long, doc_b long, n_common long, n_a long, n_b long"
    )


def _dense_contamination(train_sets: DataFrame, eval_index, min_common: int,
                         id_col: str) -> DataFrame:
    """(train_id, eval_id, n_common, containment) via per-task GEMM of
    train doc blocks against the broadcast eval indicator matrix. Train
    shingle hashes outside the eval vocabulary cannot match and are
    dropped at indicator build; n_eval_sh comes from the eval set sizes
    (vocab-independent), so values equal the join path's exactly.

    Train ids pass through Arrow untouched, so any id type works. The
    join path groups by (train_id, eval_id), which pools every null-id
    train doc into one train id; here their counts are summed per eval
    doc and emitted once per task, which equals that pooling because
    ``train_sets`` must be hash-partitioned by id (one task holds every
    null id)."""
    vocab, ev_ids, ev_ns, indptr, flat = eval_index
    spark = train_sets.sparkSession
    bc = spark.sparkContext.broadcast((vocab, ev_ids, ev_ns, indptr, flat))
    # the join path can only ever emit pairs with at least one match
    mc = float(max(min_common, 1))
    id_type = train_sets.schema[id_col].dataType

    def gen(batches):
        import pyarrow as pa

        keep_zip_directory_cache()

        vocab, ev_ids, ev_ns, indptr, flat = bc.value
        n_ev, v = len(ev_ids), len(vocab)
        bt = np.zeros((v, n_ev), dtype=np.float32)
        cols = np.repeat(np.arange(n_ev), np.diff(indptr))
        bt[flat, cols] = 1.0
        null_nc, tid_type = None, None

        def emit(tids, ec, nc):
            return pa.RecordBatch.from_arrays(
                [
                    tids,
                    pa.array(ev_ids[ec], pa.int64()),
                    pa.array(nc.astype(np.int64)),
                    pa.array(ev_ns[ec].astype(np.int64)),
                ],
                names=["train_id", "eval_id", "n_common", "n_eval_sh"],
            )

        # cap emitted RecordBatch rows: a dense train-block x eval
        # extraction can hold millions of surviving pairs, and an
        # unbounded Arrow IPC batch blows the JVM reader's direct
        # memory (measured: 209 MB batches OOMing 32 concurrent tasks
        # at a 500k-doc corpus). 512k rows ~= 16 MB per batch.
        emit_cap = 1 << 19
        for batch in batches:
            tids = batch.column(0)
            tid_type = tids.type
            nulls = (tids.is_null().to_numpy(zero_copy_only=False)
                     if tids.null_count else None)
            a = _indicator_block(vocab, batch.column(1))
            for lo in range(0, a.shape[0], 2048):
                hi = min(lo + 2048, a.shape[0])
                nc = a[lo:hi] @ bt
                if nulls is not None and nulls[lo:hi].any():
                    part = nc[nulls[lo:hi]].sum(axis=0, dtype=np.float64)
                    null_nc = part if null_nc is None else null_nc + part
                    nc[nulls[lo:hi]] = 0.0
                ra, cb = np.nonzero(nc >= mc)
                for e0 in range(0, len(ra), emit_cap):
                    er, ec = ra[e0:e0 + emit_cap], cb[e0:e0 + emit_cap]
                    yield emit(tids.take(pa.array(lo + er)), ec, nc[er, ec])
        if null_nc is not None:
            ec = np.flatnonzero(null_nc >= mc)
            if len(ec):
                yield emit(pa.nulls(len(ec), tid_type), ec, null_nc[ec])

    schema = T.StructType([
        T.StructField("train_id", id_type),
        T.StructField("eval_id", T.LongType()),
        T.StructField("n_common", T.LongType()),
        T.StructField("n_eval_sh", T.LongType()),
    ])
    out = train_sets.select(F.col(id_col), "sh_set").mapInArrow(gen, schema)
    return out.select(
        "train_id", "eval_id", "n_common",
        F.round(F.col("n_common") / F.col("n_eval_sh"), 6).alias("containment"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via a hashed-shingle common-count join.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    to 6dp. Shape: explode shingle hashes (long keys, so the join and
    the pair aggregation stay in whole-stage codegen on primitive
    comparisons) -> self-equi-join on the hash -> map-side partial count
    per (doc_a, doc_b) -> one pair-keyed shuffle -> jaccard from
    broadcast per-doc set sizes (computed in the scan projection, no
    second aggregation).

    Exact all-pairs Jaccard is inherently bounded below by the candidate
    count sum_shingle k^2; this operator is the loss-free verification
    baseline, and `minhash_lsh_pairs` is the scale path whose banded
    equi-join keeps candidates near-linear. Hot-shingle skew in the
    self-join is AQE-splittable (the hot build rows are broadcast here).

    Dense-vocab corpora (see the fast-path comment above) short-circuit
    the self-join into a blocked indicator GEMM with identical output;
    `max_df` keeps the join path (its stop-shingle drop is defined on
    the exploded table).
    """
    # spread the shingle kernel BEFORE it runs: bench-scale inputs are
    # one or two scan partitions, and every consumer below recomputes
    # this subtree — hash-partitioning by doc id here also
    # pre-establishes the partitioning the join path's probe side wants
    # (guide §2.4: share one exchange)
    p = 2 * docs.sparkSession.sparkContext.defaultParallelism
    sets = shingle_sets(docs.repartition(p, F.col(id_col)), text_col, id_col, n)
    if max_df is None:
        # two-stage gate: the cheap char-count bound skips the exact
        # probe when it can prove the collect is small; when it CANNOT
        # (long docs near the cap — the bound over-counts distinct
        # shingles ~3x), fall back to the exact sum(n_sh) probe instead
        # of rejecting the dense path outright
        if _cheap_dense_pregate(docs, text_col):
            index, sets = _dense_set_index(sets, id_col, pregated=True)
        else:
            index, sets = _dense_set_index(sets, id_col)
        if index is not None:
            pairs = _dense_self_pairs(sets, index, threshold, id_col)
            return (
                pairs.withColumn(
                    "jaccard",
                    F.round(
                        F.col("n_common")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
                    ),
                )
                .filter(F.col("jaccard") >= threshold)
                .select("doc_a", "doc_b", "jaccard")
            )
    sh = sets.select(id_col, F.explode("sh_set").alias("h"))
    if max_df is not None:
        # stop-shingle cap: a shingle in > max_df docs contributes
        # O(df^2) candidate pairs but almost no Jaccard discrimination
        # (it's a stopword n-gram). Dropping it bounds the join at
        # sum(min(df, max_df)^2) — the standard guard for web-scale
        # corpora. This makes the result approximate: a pair whose ONLY
        # shared shingles are capped ones is missed (its Jaccard is
        # necessarily low unless the docs are tiny). Default off = exact.
        # broadcast the DROP list, not the keep list: hot shingles are the
        # Zipf head (few), sub-cap shingles are the tail (almost all)
        hot = sh.groupBy("h").count().filter(F.col("count") > max_df).select("h")
        sh = sh.join(F.broadcast(hot), "h", "left_anti")
    # the input may be a single small file (one scan partition); the
    # probe side of the self-join fans out k_shingle-fold, so spread it
    # across the cluster BEFORE the join or the blow-up runs on one core.
    # Partition BY DOC ID (not round-robin, not by h): every copy of a
    # (doc_a, doc_b) pair then lands in one partition, so the pair count
    # collapses fully in the map-side partial aggregate before the
    # exchange (measured ~20% faster than round-robin at sf0.1); hot
    # shingles would skew an h-hash repartition, doc sizes are bounded.
    p = 2 * docs.sparkSession.sparkContext.defaultParallelism
    a = sh.repartition(p, F.col(id_col)).select(F.col(id_col).alias("doc_a"), "h")
    b = sh.select(F.col(id_col).alias("doc_b"), "h")
    common = (
        a.join(b, on="h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------- minhash
def _dense_minhash_signatures(sets: DataFrame, num_hashes: int, id_col: str):
    """Dense-vocab fast path for MinHash signatures over a materialized
    ``shingle_sets(..., grams=True)`` frame, bit-identical by
    construction: the per-(i, shingle) hash values are computed once per
    DISTINCT shingle (the numpy `xxhash64`, pinned to Spark's
    ``xxhash64(lit(i), s)``) instead of once per (doc, shingle)
    occurrence, and the per-doc min-fold is a vectorized gather+reduceat
    in numpy over the broadcast (vocab_hash -> hash-vector) table. On the
    bench corpus this turns 64 min-aggregates over the exploded shingle
    table (165M string hashes + agg updates behind one shuffle) into one
    shuffle-free columnar pass. Returns None when the vocabulary cap
    trips (the caller keeps the aggregation path)."""
    vocab = [
        r[0] for r in sets.select(F.explode("__grams")).distinct()
        .take(_DENSE_VOCAB_CAP + 1)
    ]
    if len(vocab) > _DENSE_VOCAB_CAP or not vocab:
        return None
    va = pa.array(vocab, pa.string())
    vh = xxhash64(va)
    order = np.argsort(vh)
    vh = vh[order]
    hv = np.ascontiguousarray(xxhash64(va, minhash_seeds(num_hashes)).T[order])
    bc = sets.sparkSession.sparkContext.broadcast((vh, hv))
    nh = num_hashes

    def gen(batches):
        import pyarrow as pa

        keep_zip_directory_cache()

        vh, hv = bc.value
        schema = pa.schema([
            ("__id", pa.int64()), ("sig", pa.list_(pa.int64())),
        ])
        for batch in batches:
            tb = pa.Table.from_batches([batch])
            ids = tb.column(0).to_numpy()
            la = tb.column(1).combine_chunks()
            vals = (la.values.to_numpy() if len(la.values)
                    else np.empty(0, np.int64))
            offs = la.offsets.to_numpy().astype(np.int64)
            keep = np.diff(offs) > 0
            if not keep.any():
                continue
            per = hv[np.searchsorted(vh, vals)]
            # docs with no shingles produce no signature row (the
            # aggregation path's groupBy over an empty explode likewise
            # emits nothing); dropping them first keeps every reduceat
            # segment non-empty
            sig = np.minimum.reduceat(per, offs[:-1][keep], axis=0)
            nk = int(keep.sum())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[keep], pa.int64()),
                    pa.ListArray.from_arrays(
                        np.arange(0, (nk + 1) * nh, nh, dtype=np.int32),
                        pa.array(sig.reshape(-1), pa.int64()),
                    ),
                ],
                schema=schema,
            )

    return sets.select(
        F.col(id_col).alias("__id"), "sh_set"
    ).mapInArrow(gen, "__id long, sig array<bigint>").select(
        F.col("__id").alias(id_col), "sig"
    )


def _agg_minhash_signatures(sets: DataFrame, num_hashes: int,
                            id_col: str) -> DataFrame:
    """The general signature path: explode the string shingles of a
    ``shingle_sets(..., grams=True)`` frame, repartition to spread the
    hash CPU, then ONE groupBy(id) with num_hashes codegen'd
    min-aggregates assembled into the signature array (a nested
    transform over per-doc hash sets runs interpreted, outside
    whole-stage codegen, and measured ~1.5x slower on sf0.1)."""
    p = 2 * sets.sparkSession.sparkContext.defaultParallelism
    sh = sets.select(F.col(id_col), F.explode("__grams").alias("shingle")).repartition(p)
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def _minhash(docs: DataFrame, num_hashes: int, n: int, text_col: str,
             id_col: str):
    """(sig, sets): signatures and the ``shingle_sets(..., grams=True)``
    frame they came from (for verification). The dense path is tried
    once, only for int64 ids whose corpus passes `_cheap_dense_pregate`;
    it materializes the sets first so the vocab probe, the signature
    fold and the caller's verify joins share ONE kernel pass. Its
    fallback goes straight to the aggregation path over those same
    sets."""
    p = 2 * docs.sparkSession.sparkContext.defaultParallelism
    sets = shingle_sets(docs.repartition(p, F.col(id_col)), text_col, id_col, n,
                        grams=True)
    if (os.environ.get("SPARK_JACCARD_DENSE", "1") != "0"
            and isinstance(docs.schema[id_col].dataType, T.LongType)
            and _cheap_dense_pregate(docs, text_col)):
        sets = sets.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        sig = _dense_minhash_signatures(sets, num_hashes, id_col)
        if sig is not None:
            return sig, sets
    return _agg_minhash_signatures(sets, num_hashes, id_col), sets


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, n: int = 2,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig: array<bigint>) — sig[i] = min over the doc's string
    shingles s of xxhash64(i, s). Dense-vocab corpora take
    `_dense_minhash_signatures` (identical values, one hash per (i,
    distinct shingle) instead of per occurrence); everything else runs
    `_agg_minhash_signatures`. Docs without shingles get no row."""
    return _minhash(docs, num_hashes, n, text_col, id_col)[0]


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs: LSH banding for candidates, exact Jaccard verify.

    rows-per-band = num_hashes / bands sets the S-curve; candidates are
    generated by an equi-join on (band_idx, band_hash) — the only
    shuffle keys — then verified exactly, so output equals
    ngram_jaccard_pairs up to LSH recall.
    """
    r = num_hashes // bands
    # the banding self-join reads sig on both sides: each side re-runs
    # the numpy min-fold over the materialized sets, cheaper than a
    # checkpoint job of its own
    sig, sets = _minhash(docs, num_hashes, n, text_col, id_col)
    bands_df = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.xxhash64(*[F.col("sig").getItem(b * r + j) for j in range(r)])
                for b in range(bands)
            ])
        ).alias("band_idx", "band_hash"),
    )
    ca = bands_df.select(F.col(id_col).alias("doc_a"), "band_idx", "band_hash")
    cb = bands_df.select(F.col(id_col).alias("doc_b"), "band_idx", "band_hash")
    candidates = (
        ca.join(cb, on=["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    # exact verification on candidates only (sets shared with the
    # signature fold on the fast path — one materialized pass feeds the
    # fold and both verify join sides)
    return _verify_pairs(candidates, sets, threshold, id_col)


# ---------------------------------------------------------------- simhash
@pandas_udf(T.LongType())
def _simhash_fold(hashes: pd.Series) -> pd.Series:
    """array<bigint> of word hashes -> 64-bit SimHash (vectorized bit
    vote: unpack bits, sum +1/-1 votes, re-pack)."""
    out = np.zeros(len(hashes), dtype=np.uint64)
    for i, hs in enumerate(hashes):
        if hs is None or len(hs) == 0:
            continue
        arr = np.asarray(hs, dtype=np.int64).view(np.uint64)
        bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        out[i] = np.sum((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64))
    return pd.Series(out.view(np.int64))


def md5_token_hash(tok) -> F.Column:
    """Deterministic 64-bit token hash assembled from the first 16 hex
    chars of md5, via four 16-bit pieces (shift/or only — no arithmetic
    that ANSI mode could overflow-check). Portable: DuckDB computes the
    identical value with ('0x' || substr(md5(t), ...))::BIGINT, which is
    what makes `simhash_pairs` oracle-checkable end-to-end."""
    h = F.md5(tok)
    pieces = [
        F.conv(F.substring(h, 1 + 4 * k, 4), 16, 10).cast("long") for k in range(4)
    ]
    out = F.shiftleft(pieces[0], 48)
    for k in range(1, 4):
        out = out.bitwiseOR(F.shiftleft(pieces[k], 16 * (3 - k)))
    return out


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            token_hash=None) -> DataFrame:
    """(id, simhash) from whitespace-token hashes. ``token_hash`` maps a
    token Column to a 64-bit hash Column (default xxhash64 — fastest;
    pass `md5_token_hash` for the oracle-portable variant)."""
    th = token_hash or F.xxhash64
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    hashed = docs.select(
        F.col(id_col),
        F.transform(toks, lambda t: th(t)).alias("word_hashes"),
    )
    return hashed.select(id_col, _simhash_fold(F.col("word_hashes")).alias("simhash"))


def _simhash_block_exprs(n_blocks: int) -> list[F.Column]:
    """Split the 64-bit simhash into ``n_blocks`` contiguous bit blocks,
    widths as even as possible; every bit belongs to exactly one block."""
    bounds = [round(k * 64 / n_blocks) for k in range(n_blocks + 1)]
    out = []
    for k in range(n_blocks):
        lo, hi = bounds[k], bounds[k + 1]
        mask = (1 << (hi - lo)) - 1
        out.append(F.shiftrightunsigned(F.col("simhash"), lo).bitwiseAND(F.lit(mask)))
    return out


def simhash_candidates(
    sh: DataFrame, max_hamming: int, id_col: str = "doc_id",
    n_blocks: int | None = None,
) -> DataFrame:
    """Candidate (doc_a, sh_a, doc_b, sh_b) pairs from a (id, simhash)
    frame, complete for Hamming distance <= ``max_hamming`` (possibly
    repeated across band keys; the caller dedups/verifies).

    n_blocks=None — single-chunk pigeonhole: max_hamming+1 chunks, a
    close pair agrees on at least one whole chunk. Chunk width shrinks
    as 64/(k+1): at k=6 each ~9-bit chunk has only ~512 values, so the
    per-chunk candidate join grows ~n^2/512 at corpus scale.

    n_blocks=b (> max_hamming) — multi-block combinations: a pair within
    Hamming k differs in at most k blocks, so at least b-k blocks agree
    — in particular ALL blocks of some (b-k)-subset. Enumerate every
    C(b, b-k) subset as a band whose key is that subset's block values
    (xxhash-combined): at b=8, k=6 that is 28 bands keyed on >=16 bits
    (~65k values) instead of 7 bands on ~9 bits — ~34x fewer candidate
    comparisons for 4x the band fan-out, the right trade at corpus
    scale for wide radii. Keys stay bucketed equi-joins either way.
    """
    if n_blocks is None:
        n_chunks = max_hamming + 1
        keyed = sh.select(
            F.col(id_col), F.col("simhash"),
            F.posexplode(F.array(*_simhash_block_exprs(n_chunks))).alias("band", "key"),
        )
    else:
        if n_blocks <= max_hamming:
            raise ValueError(
                f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming})"
            )
        import itertools

        agree = n_blocks - max_hamming
        blocks = _simhash_block_exprs(n_blocks)
        combo_keys = [
            F.xxhash64(F.lit(ci), *[blocks[i] for i in combo])
            for ci, combo in enumerate(itertools.combinations(range(n_blocks), agree))
        ]
        keyed = sh.select(
            F.col(id_col), F.col("simhash"),
            F.posexplode(F.array(*combo_keys)).alias("band", "key"),
        )
    a = keyed.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"),
                     "band", "key")
    b = keyed.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"),
                     "band", "key")
    return a.join(b, on=["band", "key"]).filter(F.col("doc_a") < F.col("doc_b"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    token_hash=None, n_blocks: int | None = None,
) -> DataFrame:
    """All pairs within Hamming distance ``max_hamming`` of each other's
    64-bit SimHash: banded candidates (see `simhash_candidates` — single
    -chunk pigeonhole by default, C(b, b-k) multi-block combinations via
    ``n_blocks`` for wide radii), verified exactly with bit_count(xor).
    The chunk count is DERIVED from max_hamming, so completeness holds
    for every setting.
    """
    sh = simhash(docs, text_col, id_col, token_hash=token_hash)
    return (
        simhash_candidates(sh, max_hamming, id_col, n_blocks=n_blocks)
        .select("doc_a", "doc_b",
                F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# -------------------------------------------------------- contamination
def contamination_pairs(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    min_common: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train/eval contamination check: for every (train doc, eval doc)
    pair sharing >= min_common distinct word n-grams, emit
    (train_id, eval_id, n_common, containment) where containment =
    n_common / |eval doc's shingle set| — the fraction of the eval
    document already present verbatim-ish in the training corpus.

    Scale shape: the EVAL side is the small one (benchmarks are KBs-MBs
    against a 100 TB corpus), so its exploded shingle table is
    broadcast — the train corpus streams through a map-side hash join
    with NO shuffle of the big side; the only shuffle is the per-pair
    count aggregation, bounded by the number of matches. Sub-n-token
    docs contribute no shingles on either side.

    Dense-eval fast path (same rationale as the ngram_jaccard dense
    path): when the EVAL shingle vocabulary is small, the per-match
    join rows (sum_h df_train * df_eval — tens of millions on a dense
    corpus) collapse into one train-block x eval-matrix GEMM per task:
    broadcast the eval indicator matrix instead of the exploded eval
    shingle table, and no per-match row ever exists. The train side
    still never shuffles its text — only its compact per-doc hash sets.
    """
    ev_sets = None
    if broadcast_eval and os.environ.get("SPARK_JACCARD_DENSE", "1") != "0":
        p = 2 * train.sparkSession.sparkContext.defaultParallelism
        ev_sets = shingle_sets(eval_docs.repartition(p), text_col, id_col, n)
        index, ev_sets = _dense_set_index(
            ev_sets, id_col, pregated=_cheap_dense_pregate(eval_docs, text_col)
        )
        if index is not None and len(index[0]) * len(index[1]) > _DENSE_CELL_CAP:
            # the eval side is expanded to a float32 (V, n_eval) matrix
            # per task; too big -> join path
            index = None
        if index is not None:
            # spread the train-side shingle projection (bench inputs are
            # 1-2 scan partitions; at scale the scan parallelism covers
            # this and the repartition moves only compact text rows once);
            # by id, so every null-id train doc meets in one task
            return _dense_contamination(
                shingle_sets(train.repartition(p, F.col(id_col)), text_col, id_col, n),
                index, min_common, id_col,
            )
    if ev_sets is None:
        ev_sets = shingle_sets(eval_docs, text_col, id_col, n)
    tr = shingle_sets(train, text_col, id_col, n).select(
        F.col(id_col).alias("train_id"), F.explode("sh_set").alias("h")
    )
    ev_sh = ev_sets.select(
        F.col(id_col).alias("eval_id"), F.explode("sh_set").alias("h")
    )
    ev_sz = ev_sh.groupBy("eval_id").agg(F.count("*").alias("n_eval_sh"))
    if broadcast_eval:
        ev_sh, ev_sz = F.broadcast(ev_sh), F.broadcast(ev_sz)
    return (
        tr.join(ev_sh, on="h")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
        .join(ev_sz, on="eval_id")
        .select(
            "train_id", "eval_id", "n_common",
            F.round(F.col("n_common") / F.col("n_eval_sh"), 6).alias("containment"),
        )
    )
