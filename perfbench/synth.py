"""Seeded benchmark inputs, made before any timed path starts.

CDC logs are produced by the engine's own generator
(``agr_loader_spark.generator``): the same per-event batch function that
``generate_binlog`` maps over ``spark.range``, the same re-delivery
rule and the same schema-change events, written in the same layout
(``epoch=<n>/`` directories, one file per generation partition). It
runs in this process with numpy and pyarrow, because generating the log
through a cold Spark session costs more than the rest of a run.
``smoke.py`` checks that it yields exactly the rows ``generate_binlog``
yields. Logs are cached under ``.perfbench_cache/``, keyed by the
parameters and a hash of ``generator.py`` and this file.

The QC corpus is the sf0.1 ``documents`` and ``part`` tables vendored in
``perfbench/data``; the seed permutes their rows and writes the text of
the one null-id document.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
CACHE_KEEP = 4

_SCHEMA_CHANGE = pa.struct([("kind", pa.string()), ("column", pa.string()),
                            ("new_name", pa.string()), ("new_type", pa.string()),
                            ("src_field", pa.string())])
EVENT_FILE_SCHEMA = pa.schema([
    pa.field("event_lsn", pa.int64(), nullable=False),
    ("op", pa.string()), ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())), ("n_tok", pa.int32()),
    ("source", pa.string()), ("lang", pa.string()),
    ("schema_change", _SCHEMA_CHANGE),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def log_rows(n_events: int, lsn0: int, seed: int, n_docs: int, epoch_size: int,
             zipf_s: float, schema_changes: bool, dup_rate: float = 0.02):
    """The rows ``generate_binlog`` emits for lsns [lsn0, lsn0 + n_events),
    as (epoch array, pyarrow table without the epoch column)."""
    import pandas as pd

    from agr_loader_spark import generator as gen

    plan = gen.schema_change_plan(n_events) if schema_changes else []
    lsns = np.arange(lsn0, lsn0 + n_events, dtype=np.int64)
    if plan:
        lsns = lsns[~np.isin(lsns, [p["event_lsn"] for p in plan])]
    pdf = gen._make_batch(lsns, seed, n_docs, zipf_s, epoch_size, 64, 2048)
    if dup_rate > 0:
        dup = gen._uniform(seed, 7, lsns) < dup_rate
        pdf = pd.concat([pdf, pdf[dup]], ignore_index=True)
    if plan:
        srows = pd.DataFrame({
            "event_lsn": [p["event_lsn"] for p in plan],
            "epoch": [p["event_lsn"] // epoch_size for p in plan],
            "op": "S",
            "schema_change": [p["schema_change"] for p in plan],
            "ts": [gen._BASE_TS + pd.Timedelta(seconds=p["event_lsn"]) for p in plan],
        })
        pdf = pd.concat([pdf, srows], ignore_index=True)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC")
    epochs = pdf["epoch"].to_numpy()
    tbl = pa.Table.from_pandas(pdf.drop(columns=["epoch"]), schema=EVENT_FILE_SCHEMA,
                               preserve_index=False)
    return epochs, tbl


def write_log(path: str, n_events: int, lsn0: int, seed: int, n_docs: int,
              epoch_size: int, zipf_s: float, schema_changes: bool,
              partitions: int) -> None:
    """Write one log as ``path/epoch=<n>/part-<p>.parquet``. Partition p
    holds the same contiguous lsn range ``spark.range(n, numPartitions=p)``
    gives it, so epochs split into the same number of files as a
    ``generate_binlog(...).write.partitionBy("epoch")`` log."""
    edges = lsn0 + (np.arange(partitions + 1) * n_events) // partitions
    epochs, tbl = log_rows(n_events, lsn0, seed, n_docs, epoch_size, zipf_s,
                           schema_changes)
    lsn = tbl.column("event_lsn").to_numpy()
    # schema events come from their own union branch: their own file
    is_schema = tbl.column("op").to_numpy(zero_copy_only=False) == "S"
    part = np.where(is_schema, partitions, np.searchsorted(edges, lsn, side="right") - 1)
    for p in np.unique(part):
        for ep in np.unique(epochs[part == p]):
            sel = np.flatnonzero((part == p) & (epochs == ep))
            d = os.path.join(path, f"epoch={int(ep)}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(tbl.take(sel), os.path.join(d, f"part-{int(p):05d}.parquet"))


def fsync_tree(path: str) -> None:
    for d, _, files in os.walk(path):
        for name in files:
            fd = os.open(os.path.join(d, name), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        fd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


def _code_hash() -> str:
    import agr_loader_spark.generator as gen

    h = hashlib.sha256()
    for p in (gen.__file__, __file__):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cdc_inputs(cache_root: str, seed: int, sizes: dict, partitions: int) -> dict:
    """Backfill log and tail epochs for one seed, from the cache when
    present. Returns their directories."""
    key_src = json.dumps({"seed": seed, "sizes": sizes, "partitions": partitions,
                          "code": _code_hash()}, sort_keys=True)
    key = hashlib.sha256(key_src.encode()).hexdigest()[:20]
    root = os.path.join(cache_root, f"cdc-{key}")
    out = {"backfill": os.path.join(root, "backfill"),
           "tail": os.path.join(root, "tail")}
    if os.path.exists(os.path.join(root, "_complete")):
        os.utime(root)
        return out
    shutil.rmtree(root, ignore_errors=True)
    s = sizes
    nb, te = s["backfill"], s["tail_epoch"]
    write_log(out["backfill"], nb, 0, seed, s["n_docs"], s["backfill_epoch"], 1.05,
              True, partitions)
    for i in range(s["tail_epochs"]):
        write_log(out["tail"], te, nb + i * te, seed, s["n_docs"], te, 0.0, False,
                  partitions)
    fsync_tree(root)
    with open(os.path.join(root, "_complete"), "w") as f:
        f.write(key_src)
    _trim_cache(cache_root)
    return out


def _trim_cache(cache_root: str) -> None:
    entries = sorted((os.path.getmtime(os.path.join(cache_root, n)), n)
                     for n in os.listdir(cache_root) if n.startswith("cdc-"))
    for _, n in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache_root, n), ignore_errors=True)


def stage_epochs(src: str, dst: str) -> list[str]:
    """Hard-link each ``epoch=`` directory of ``src`` under ``dst`` and
    return the staged directories in epoch order."""
    names = sorted((n for n in os.listdir(src) if n.startswith("epoch=")),
                   key=lambda n: int(n.split("=", 1)[1]))
    out = []
    for n in names:
        d = os.path.join(dst, n)
        os.makedirs(d)
        for f in os.listdir(os.path.join(src, n)):
            os.link(os.path.join(src, n, f), os.path.join(d, f))
        out.append(d)
    return out


NULL_DOC_WORDS = 12


def qc_inputs(work: str, seed: int) -> dict:
    """Seed-permuted copies of the vendored corpus, plus the same documents
    with one null-id document appended at a seed-chosen position."""
    from agr_loader_spark.generator import _hash64

    rng = np.random.default_rng(seed)
    corpus = os.path.join(work, "corpus")
    nullid = os.path.join(work, "corpus_nullid")
    os.makedirs(corpus)
    os.makedirs(nullid)
    docs = pq.read_table(os.path.join(DATA, "documents.parquet"))
    part = pq.read_table(os.path.join(DATA, "part.parquet"))
    docs = docs.take(rng.permutation(docs.num_rows))
    pq.write_table(docs, os.path.join(corpus, "documents.parquet"))
    pq.write_table(part.take(rng.permutation(part.num_rows)),
                   os.path.join(corpus, "part.parquet"))
    # words "zq<hex>" never occur in the corpus, so the document shares no
    # shingle with it (checked below)
    words = [f"zq{int(h):x}" for h in _hash64(seed, 99, np.arange(NULL_DOC_WORDS))]
    text = " ".join(words)
    vocab = set(" ".join(docs.column("text").to_pylist()).split())
    if vocab.intersection(words):
        raise RuntimeError("null-id document shares a word with the corpus")
    row = pa.table({"doc_id": pa.array([None], pa.int64()), "text": [text],
                    "lang": ["en"], "source": ["perfbench"],
                    "n_chars": pa.array([len(text)], pa.int64())}).cast(docs.schema)
    at = int(rng.integers(0, docs.num_rows + 1))
    with_null = pa.concat_tables([docs.slice(0, at), row, docs.slice(at)])
    pq.write_table(with_null, os.path.join(nullid, "documents.parquet"))
    fsync_tree(work)
    h = hashlib.sha256()
    for t in ("documents", "part"):
        with open(os.path.join(DATA, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    return {"corpus": corpus, "corpus_nullid": nullid, "corpus_key": key,
            "corpus_nullid_key": f"{key}+null:{text}"}
