"""Output checks. None of these runs inside a timed region."""

from __future__ import annotations

import datetime
import hashlib
import math
from collections import Counter
from decimal import Decimal

import numpy as np
import pandas as pd

def _norm(v):
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, Decimal)):
        d = Decimal(str(v)).normalize()
        return "0" if d == 0 else str(d)
    if isinstance(v, (datetime.date, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    return v


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame: column names, then the sorted
    multiset of rows with columns in name order and values normalized
    (numbers by decimal value, NaN as NULL)."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_norm(v) for v in row))
                  for row in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def duckdb_con(sf_dir: str, temp_dir: str):
    """DuckDB views over the generated tables, as the registry oracles
    expect them."""
    import duckdb

    from etl_python_airflow_bigquery_spark.tables import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{temp_dir}'")
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _floor_log2(x: int) -> int:
    return max(0, x.bit_length() - 1) if x >= 2 else 0


def brute_bm25(texts: dict[int, str], terms: list[str], topk: int, k1: int, b: int) -> list[tuple]:
    """The engine's integer BM25 (milli-units, log2-quantized idf),
    computed over the whole corpus in plain Python: [(doc_id, score_mili, pos)]."""
    tf = {d: Counter(w for w in t.split(" ") if w) for d, t in texts.items()}
    dl = {d: sum(c.values()) for d, c in tf.items() if c}
    n = len(texts)
    avgdl_mili = (sum(dl.values()) * 1000) // len(dl) if dl else 1
    scores: dict[int, int] = {}
    for term in terms:
        docs = [d for d, c in tf.items() if term in c]
        if not docs:
            continue
        idf = _floor_log2(max(1, (n * 1000) // (len(docs) * 1000 + 500)))
        for d in docs:
            t = tf[d][term]
            denom = t * 1000 + (k1 * (1000 - b + (b * dl[d] * 1000) // avgdl_mili)) // 1000
            scores[d] = scores.get(d, 0) + ((t * (k1 + 1000) * 1000) // denom) * idf
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:topk]
    return [(d, s, i + 1) for i, (d, s) in enumerate(ranked)]
