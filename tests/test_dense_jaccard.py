"""Round-6 dense-vocab fast path: the blocked indicator-GEMM kernel in
dedup_docs must (a) engage on small-vocab corpora, (b) produce rows
identical to the hashed-shingle join path, and (c) fall back cleanly
when its caps trip."""

import os
import re

import pyspark.sql.functions as F
import pytest

import agr_loader_spark.operators.dedup_docs as dd
from agr_loader_spark.operators.dedup_docs import (
    _dense_set_index,
    contamination_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from agr_loader_spark.operators.shingle import shingle_sets

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _takes_join_path(plan: str) -> bool:
    """The join path self-joins the exploded shingle hashes on ``h``; the
    dense path's pair kernel is a MapInArrow emitting (doc_a, doc_b,
    n_common, ...). The shingle kernel is a MapInArrow on both paths."""
    self_join = re.search(
        r"(BroadcastHash|ShuffledHash|SortMerge)Join \[h#\d+L\], \[h#\d+L\], Inner", plan)
    pair_kernel = any("MapInArrow" in ln and "doc_a" in ln and "n_common" in ln
                      for ln in plan.splitlines())
    return bool(self_join) and not pair_kernel


def _legacy(monkeypatch_env, fn):
    os.environ["SPARK_JACCARD_DENSE"] = "0"
    try:
        return fn()
    finally:
        os.environ.pop("SPARK_JACCARD_DENSE", None)


def test_dense_index_engages_on_small_vocab(spark, docs):
    sets = shingle_sets(docs, "text", "doc_id", 2)
    index, _ = _dense_set_index(sets, "doc_id")
    assert index is not None
    vocab, ids, ns, indptr, flat = index
    assert len(ids) == docs.count()
    assert int(ns.sum()) == int(len(flat))
    # every per-doc entry resolves inside the vocab
    assert flat.min() >= 0 and flat.max() < len(vocab)


def test_dense_pairs_equal_join_path(spark, docs):
    dense = _rows(ngram_jaccard_pairs(docs, threshold=0.5, n=2))
    legacy = _legacy(None, lambda: _rows(
        ngram_jaccard_pairs(docs, threshold=0.5, n=2)))
    assert dense == legacy and len(dense) > 0


def test_dense_contamination_equals_join_path(spark, docs):
    ev = docs.filter(F.col("doc_id") % 101 == 0)
    dense = _rows(contamination_pairs(docs, ev, n=2, min_common=2))
    legacy = _legacy(None, lambda: _rows(
        contamination_pairs(docs, ev, n=2, min_common=2)))
    assert dense == legacy and len(dense) > 0


def test_dense_plan_is_map_in_arrow(spark, docs):
    plan = ngram_jaccard_pairs(docs, threshold=0.5, n=2)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "MapInArrow" in plan
    assert not _takes_join_path(plan)


def test_vocab_cap_falls_back_to_join_path(spark, docs):
    os.environ["SPARK_JACCARD_DENSE_VOCAB_CAP"] = "4"
    try:
        # cap is read at import time for the default but the helper
        # re-reads env? no — module constant; patch the module instead
        import agr_loader_spark.operators.dedup_docs as dd

        old = dd._DENSE_VOCAB_CAP
        dd._DENSE_VOCAB_CAP = 4
        try:
            sets = shingle_sets(docs, "text", "doc_id", 2)
            assert _dense_set_index(sets, "doc_id")[0] is None
            plan = ngram_jaccard_pairs(docs, threshold=0.5)._jdf.queryExecution(
            ).executedPlan().toString()
            assert _takes_join_path(plan), plan
        finally:
            dd._DENSE_VOCAB_CAP = old
    finally:
        os.environ.pop("SPARK_JACCARD_DENSE_VOCAB_CAP", None)


def test_max_df_keeps_join_path(spark, docs):
    plan = ngram_jaccard_pairs(docs, threshold=0.5, max_df=50)._jdf\
        .queryExecution().executedPlan().toString()
    assert _takes_join_path(plan), plan


def _nullable_rows(df):
    """Sorted rows of a frame whose fields may be null."""
    return sorted(tuple((v is None, 0 if v is None else v) for v in r)
                  for r in df.collect())


def test_dense_index_sorts_shuffled_ids(spark, docs):
    """The CSR index is id-ordered whatever order the sets arrive in."""
    sets = shingle_sets(docs.orderBy(F.col("doc_id").desc()).coalesce(1),
                        "text", "doc_id", 2)
    index, sets = _dense_set_index(sets, "doc_id")
    vocab, ids, ns, indptr, flat = index
    got = sets.select("doc_id", "sh_set").collect()
    assert [r[0] for r in got] != sorted(r[0] for r in got)
    want = {r[0]: sorted(r[1]) for r in got}
    assert list(ids) == sorted(want)
    assert list(ns) == [len(want[i]) for i in ids]
    for k, i in enumerate(ids):
        assert sorted(vocab[flat[indptr[k]:indptr[k + 1]]].tolist()) == want[i]


def test_minhash_vocab_cap_probes_once(spark, docs, monkeypatch):
    """A dense MinHash attempt that trips the vocab cap falls straight back
    to the aggregation path: one probe, and the legacy path's rows."""
    calls = []
    probe = dd._dense_minhash_signatures

    def counted(*a, **k):
        calls.append(1)
        return probe(*a, **k)

    monkeypatch.setattr(dd, "_DENSE_VOCAB_CAP", 1)
    monkeypatch.setattr(dd, "_dense_minhash_signatures", counted)
    got = _rows(minhash_lsh_pairs(docs, threshold=0.5))
    assert len(calls) == 1
    legacy = _legacy(None, lambda: _rows(minhash_lsh_pairs(docs, threshold=0.5)))
    assert got == legacy and len(got) > 0


def test_minhash_pregate_skips_dense_attempt(spark, docs, monkeypatch):
    calls = []
    monkeypatch.setattr(dd, "_cheap_dense_pregate", lambda *a: False)
    monkeypatch.setattr(dd, "_dense_minhash_signatures",
                        lambda *a, **k: calls.append(1))
    got = _rows(minhash_lsh_pairs(docs, threshold=0.5))
    assert not calls
    monkeypatch.undo()
    assert got == _rows(minhash_lsh_pairs(docs, threshold=0.5))


@pytest.mark.parametrize("train_id", [
    # several null ids: the join path pools them into one train id
    lambda c: F.when(c % 7 == 0, F.lit(None)).otherwise(c),
    lambda c: F.concat(F.lit("t"), c.cast("string")),
    lambda c: c.cast("int"),
], ids=["null", "string", "int"])
def test_dense_contamination_train_ids_equal_join_path(spark, docs, train_id,
                                                       request):
    """The dense kernel takes any train id type and null train ids (only
    the eval side is gated); rows equal the join path's."""
    train = docs.withColumn("doc_id", train_id(F.col("doc_id")))
    ev = docs.filter(F.col("doc_id") % 101 == 0)
    out = contamination_pairs(train, ev, n=2, min_common=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any("MapInArrow" in ln and "train_id" in ln for ln in plan.splitlines())
    dense = _nullable_rows(out)
    legacy = _legacy(None, lambda: _nullable_rows(
        contamination_pairs(train, ev, n=2, min_common=2)))
    assert dense == legacy and len(dense) > 0
    assert any(r[0][0] for r in dense) == (request.node.callspec.id == "null")
    assert out.schema["train_id"].dataType == train.schema["doc_id"].dataType
