"""Order-insensitive result digests, equal across Spark and DuckDB.

A result is reduced to (row count, sorted column names, digest). Each
column is canonicalised first: integers, booleans, dates and timestamps
to int64 (timestamps as UTC microseconds), decimals and floats to
float64 rounded to seven significant digits (so ulp-level differences
from summation order do not count), strings as they are, anything
nested to its Python text. Rows are hashed over the columns in name
order and the sorted row hashes are hashed once more, so the digest
ignores row order but not multiplicity.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

SIG_DIGITS = 7


def _round_sig(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.float64) + 0.0
    out = x.copy()
    ok = np.isfinite(x) & (x != 0)
    e = np.floor(np.log10(np.abs(x[ok])))
    m = np.power(10.0, SIG_DIGITS - 1 - e)
    out[ok] = np.round(x[ok] * m) / m
    return out


def _column_hash(col: pa.ChunkedArray) -> np.ndarray:
    t = col.type
    if pa.types.is_dictionary(t):
        col, t = col.cast(t.value_type), t.value_type
    if pa.types.is_timestamp(t):
        col = pc.cast(col, pa.timestamp("us", tz=t.tz), safe=False).cast(pa.int64())
        t = pa.int64()
    elif pa.types.is_date(t) or pa.types.is_time(t):
        col = col.cast(pa.int64()) if pa.types.is_date64(t) else col.cast(pa.int32()).cast(pa.int64())
        t = pa.int64()
    elif pa.types.is_boolean(t):
        col, t = col.cast(pa.int64()), pa.int64()
    elif pa.types.is_decimal(t):
        t = pa.int64() if t.scale == 0 else pa.float64()
        col = col.cast(t)
    if pa.types.is_integer(t):
        mask = col.is_null().to_numpy(zero_copy_only=False).astype(np.uint64)
        vals = col.fill_null(0).cast(pa.int64(), safe=False).to_numpy(zero_copy_only=False)
        return pd.util.hash_array(vals) ^ mask
    if pa.types.is_floating(t):
        arr = _round_sig(col.cast(pa.float64()).to_numpy(zero_copy_only=False))
        return pd.util.hash_array(np.nan_to_num(arr, nan=1.5e308)) ^ np.isnan(arr).astype(np.uint64)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pd.util.hash_array(np.asarray(col.to_pylist(), dtype=object))
    # nested values: canonical text of the (recursively rounded) value
    return pd.util.hash_array(
        np.asarray([_text(v) for v in col.to_pylist()], dtype=object)
    )


def _text(v) -> str:
    if isinstance(v, float):
        return repr(float(_round_sig(np.array([v]))[0]))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_text(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_text(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    return repr(v)


def digest(table: pa.Table) -> dict:
    """{'rows', 'columns', 'digest'} of an Arrow table."""
    names = sorted(table.column_names)
    h = np.zeros(table.num_rows, dtype=np.uint64)
    for name in names:
        with np.errstate(over="ignore"):
            h = h * np.uint64(1_000_003) ^ _column_hash(table.column(name))
    return {
        "rows": table.num_rows,
        "columns": names,
        "digest": hashlib.sha1(np.sort(h).tobytes()).hexdigest()[:20],
    }


# --------------------------------------------------------------- oracles


def duck_connect(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digest(con_factory, sql: str, cache_dir: str, key: str) -> dict:
    """Digest of ``sql`` on DuckDB, cached on disk by SQL text and
    ``key`` (the input data's identity)."""
    h = hashlib.sha1(f"{key}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{h}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    out = digest(con_factory().execute(sql).fetch_arrow_table())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out
