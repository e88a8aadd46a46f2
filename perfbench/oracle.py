"""Answers computed apart from the engine, with DuckDB.

CDC: last-writer-wins over the raw binlog parquet, with the generator's
schema rules applied by hand: ``source`` is read as ``origin``, ``n_tok``
is a bigint, and ``lang`` keeps a value only when the winning event comes
after the final re-add of the column (the drop erased every older value,
and the re-add must not bring them back).

QC: ``oracle_sql()`` of ``__spark_entry__`` over the same parquet files,
both sides put in the canonical form ``tools/check_contract.py`` uses.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

STATE_COLS = ["doc_id", "tokens", "n_tok", "origin", "lang"]


def lww_state_sql(epoch_dirs: list[str], readd_lsn: int) -> str:
    """Table state after replaying every event under ``epoch_dirs``
    (``.../epoch=<n>`` directories)."""
    files = "[" + ", ".join(f"'{d}/*.parquet'" for d in epoch_dirs) + "]"
    return f"""
        WITH w AS (
            SELECT * FROM read_parquet({files}, hive_partitioning = true)
            WHERE op <> 'S'
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY event_lsn DESC) = 1)
        SELECT doc_id, tokens, CAST(n_tok AS BIGINT) AS n_tok, source AS origin,
               CASE WHEN event_lsn > {readd_lsn} THEN lang END AS lang
        FROM w WHERE op <> 'D'
    """


def diff_sql(prev_sql: str, new_sql: str) -> str:
    """Net per-key change from state ``prev`` to state ``new``; deletes
    carry the old row, as ``LakeTable.changes_between`` documents."""
    changed = " OR ".join(f"n.{c} IS DISTINCT FROM o.{c}" for c in STATE_COLS[1:])
    pick = ", ".join(
        f"CASE WHEN n.doc_id IS NULL THEN o.{c} ELSE n.{c} END AS {c}"
        for c in STATE_COLS[1:])
    return f"""
        SELECT CASE WHEN o.doc_id IS NULL THEN 'I'
                    WHEN n.doc_id IS NULL THEN 'D' ELSE 'U' END AS __op,
               coalesce(n.doc_id, o.doc_id) AS doc_id, {pick}
        FROM ({new_sql}) n FULL OUTER JOIN ({prev_sql}) o ON n.doc_id = o.doc_id
        WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR {changed}
    """


def count_mismatch(con: duckdb.DuckDBPyConnection, a_sql: str, b_sql: str,
                   cols: list[str]) -> int:
    """Rows in one side and not the other, counting multiplicity."""
    sel = ", ".join(cols)
    q = f"""SELECT (SELECT count(*) FROM (SELECT {sel} FROM ({a_sql}) EXCEPT ALL
                                          SELECT {sel} FROM ({b_sql})))
                 + (SELECT count(*) FROM (SELECT {sel} FROM ({b_sql}) EXCEPT ALL
                                          SELECT {sel} FROM ({a_sql})))"""
    return int(con.sql(q).fetchone()[0])


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """The canonical form of ``tools/check_contract.py``: sorted columns,
    values as strings, floats to six decimals, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v))
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].map(lambda v: f"{v:.6f}" if pd.notna(v) else "NaN")
        else:
            df[c] = df[c].map(lambda v: str(v) if pd.notna(v) else "None")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def qc_answer(cache_dir: str, corpus_dir: str, content_key: str, sql: str) -> pd.DataFrame:
    """Canonical oracle answer for one query over ``corpus_dir``, cached by
    ``content_key`` (which names the corpus content, whatever its row
    order: the answer is a set) and the SQL text."""
    h = hashlib.sha256(f"{content_key}\n{duckdb.__version__}\n{sql}".encode())
    path = os.path.join(cache_dir, f"qc-{h.hexdigest()[:20]}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    con = duckdb.connect()
    for t in ("documents", "part"):
        p = os.path.join(corpus_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = canon(con.sql(sql).df())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp"
    out.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return out
