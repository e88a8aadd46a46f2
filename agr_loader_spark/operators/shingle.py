"""Vectorized word n-gram shingling with Spark-exact hashes.

Every n-gram operator in `dedup_docs` starts from the same step: turn each
document into its set of distinct word n-grams and hash them. Written as
Spark expressions that step is ``split -> transform(sequence, slice /
array_join) -> array_distinct -> transform(xxhash64)``; higher-order
functions run row by row outside whole-stage codegen, which made it the
dominant cost of every n-gram query. `shingle_sets` computes the same
values in one ``mapInArrow`` step, per Arrow batch (so its memory is
bounded by the batch), with Arrow string kernels and a numpy XXH64:

- ``trim`` strips only ``' '``;
- tokens split on Java's ``\\s+`` (``[ \\t\\n\\x0B\\f\\r]+``; RE2's ``\\s``
  lacks ``\\x0B``, so the class is spelled out), limit -1, so leading and
  trailing empty tokens are kept;
- a document with fewer than n tokens, or a null text, has no n-grams;
- n-grams are distinct per document, in first-occurrence order;
- a hash is Spark's ``xxhash64(gram)``: XXH64 over the UTF-8 bytes,
  seed 42.

`xxhash64` also reproduces the seeded form ``xxhash64(lit(i), s)``, whose
seed is ``hashInt(i, 42)`` (`minhash_seeds`). The kernel loops over
distinct byte lengths and 8-byte words, never over rows or strings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..zipcache import keep_zip_directory_cache

SEED = 42
# Java's \s without UNICODE_CHARACTER_CLASS
_JAVA_SPACE = r"[ \t\n\x0B\f\r]+"

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, lane):
    return _rotl(acc + lane * _P2, 31) * _P1


def _fmix(h):
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _hash_group(m: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """XXH64 of the rows of ``m`` ((c, L) uint8, every row L bytes long)
    under each seed of ``seeds`` ((S, 1) uint64): (S, c) uint64."""
    length = m.shape[1]
    nw = length // 8
    words = np.ascontiguousarray(m[:, :nw * 8]).view("<u8")
    # words consumed by the 32-byte stripes (inputs of 32+ bytes)
    w = (length // 32) * 4
    if w:
        v = [seeds + _P1 + _P2, seeds + _P2, seeds + np.uint64(0), seeds - _P1]
        for s in range(0, w, 4):
            v = [_round(v[j], words[:, s + j]) for j in range(4)]
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for vj in v:
            h = (h ^ _round(np.uint64(0), vj)) * _P1 + _P4
    else:
        h = seeds + _P5
    h = h + np.uint64(length)
    for j in range(w, nw):
        h = h ^ _round(np.uint64(0), words[:, j])
        h = _rotl(h, 27) * _P1 + _P4
    pos = nw * 8
    if length - pos >= 4:
        k = np.ascontiguousarray(m[:, pos:pos + 4]).view("<u4")[:, 0]
        h = h ^ (k.astype(np.uint64) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        pos += 4
    for b in range(pos, length):
        h = h ^ (m[:, b].astype(np.uint64) * _P5)
        h = _rotl(h, 11) * _P1
    return np.broadcast_to(_fmix(h), (seeds.shape[0], m.shape[0]))


def xxhash64(strings: pa.Array, seed=SEED) -> np.ndarray:
    """Spark's ``xxhash64`` of each value of a non-null string or binary
    Arrow array, as int64. A scalar ``seed`` gives shape (n,); a 1-D
    array of S seeds gives (S, n), one row per seed."""
    seeds = np.atleast_1d(np.asarray(seed, dtype=np.int64)).view(np.uint64)[:, None]
    n = len(strings)
    out = np.empty((len(seeds), n), dtype=np.uint64)
    if n:
        large = pa.types.is_large_string(strings.type) or \
            pa.types.is_large_binary(strings.type)
        bufs = strings.buffers()
        offs = np.frombuffer(bufs[1], dtype=np.int64 if large else np.int32)
        offs = offs[strings.offset:strings.offset + n + 1].astype(np.int64)
        data = (np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None
                else np.empty(0, np.uint8))
        lens = np.diff(offs)
        order = np.argsort(lens, kind="stable")
        bounds = np.flatnonzero(np.diff(lens[order])) + 1
        with np.errstate(over="ignore"):
            for grp in np.split(order, bounds):
                length = int(lens[grp[0]])
                m = data[offs[grp][:, None] + np.arange(length)]
                out[:, grp] = _hash_group(m, seeds)
    out = out.view(np.int64)
    return out[0] if np.ndim(seed) == 0 else out


def minhash_seeds(num_hashes: int) -> np.ndarray:
    """Seeds of ``xxhash64(lit(i), s)`` for i < num_hashes: Spark hashes
    the int i first (``hashInt(i, 42)``) and chains the result as the
    string's seed."""
    i = np.arange(num_hashes, dtype=np.uint64)
    with np.errstate(over="ignore"):
        h = np.uint64(SEED) + _P5 + np.uint64(4)
        h = h ^ ((i & np.uint64(0xFFFFFFFF)) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return _fmix(h).view(np.int64)


def shingle_batch(texts: pa.Array, n: int, grams: bool = False) -> dict:
    """Distinct word n-grams of each text of an Arrow string array:
    ``{"sh_set": list<int64>, "n_sh": int32}`` plus ``"__grams":
    list<string>`` when ``grams``; one entry per text, empty (not null)
    for a null text or one with fewer than n tokens."""
    rows = len(texts)
    toks = pc.split_pattern_regex(pc.utf8_trim(texts, " "), _JAVA_SPACE)
    k = pc.fill_null(pc.list_value_length(toks), 0).to_numpy().astype(np.int64)
    per = np.maximum(k - n + 1, 0)
    total = int(per.sum())
    row = np.repeat(np.arange(rows), per)
    # gram j of a doc starts at its token j: offset + (position - first)
    first_tok = toks.offsets.to_numpy()[:-1].astype(np.int64)
    start = np.repeat(first_tok - (np.cumsum(per) - per), per) + np.arange(total)
    vals = toks.values
    parts = [vals.take(pa.array(start + m)) for m in range(n)]
    joined = parts[0] if n == 1 else pc.binary_join_element_wise(*parts, " ")
    enc = joined.dictionary_encode()
    codes = enc.indices.to_numpy().astype(np.int64)
    # first occurrence of each (doc, gram) pair, order kept
    keep = np.flatnonzero(
        ~pd.Series(row * max(len(enc.dictionary), 1) + codes).duplicated().to_numpy()
    )
    hashes = xxhash64(enc.dictionary)[codes[keep]]
    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(np.bincount(row[keep], minlength=rows), out=offsets[1:])
    out = {}
    if grams:
        out["__grams"] = pa.ListArray.from_arrays(
            offsets, enc.dictionary.take(pa.array(codes[keep])))
    out["sh_set"] = pa.ListArray.from_arrays(offsets, pa.array(hashes, pa.int64()))
    out["n_sh"] = pa.array(np.diff(offsets), pa.int32())
    return out


def shingle_sets(docs: DataFrame, text_col: str, id_col: str, n: int,
                 grams: bool = False) -> DataFrame:
    """One row per doc: (id, [__grams: array<string>,] sh_set:
    array<bigint>, n_sh: int) — the doc's distinct word n-grams in
    first-occurrence order, their ``xxhash64`` values and their count.
    Row for row equal to ``array_distinct`` over Spark's n-gram
    expression; the id column passes through with its type and nulls."""
    id_field = docs.schema[id_col]
    fields = [T.StructField(id_col, id_field.dataType, id_field.nullable)]
    if grams:
        fields.append(T.StructField("__grams", T.ArrayType(T.StringType(), False), False))
    fields += [
        T.StructField("sh_set", T.ArrayType(T.LongType(), False), False),
        T.StructField("n_sh", T.IntegerType(), False),
    ]
    schema = T.StructType(fields)
    names = [f.name for f in fields]

    def gen(batches):
        keep_zip_directory_cache()
        for batch in batches:
            cols = shingle_batch(batch.column(1), n, grams)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0)] + [cols[c] for c in names[1:]], names=names)

    return docs.select(F.col(id_col), F.col(text_col)).mapInArrow(gen, schema)
