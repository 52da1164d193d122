"""Order-insensitive content digest of a Parquet output directory.

Columns are taken in name order; floats are rounded to 6 decimals (the
oracle comparator's float policy, ``plans.verify.FLOAT_DECIMALS``) so that
summation-order noise in the last bits cannot change the digest; nested
values are rendered canonically. Each row hashes to 64 bits and the digest
is the wrapping sum of the row hashes, so row order does not matter.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FLOAT_DECIMALS = 6
_NULL = "\x00null"


def _canon(v):
    if v is None:
        return _NULL
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, FLOAT_DECIMALS) + 0.0)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        # map columns arrive as lists of (key, value) tuples
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def _column_hash(col: pa.ChunkedArray) -> np.ndarray:
    """64-bit hash of every value of one column."""
    t = col.type
    if pa.types.is_floating(t):
        vals = col.to_numpy(zero_copy_only=False).astype(np.float64)
        vals = np.round(vals, FLOAT_DECIMALS) + 0.0  # -0.0 -> 0.0
        vals[np.isnan(vals)] = np.nan  # one NaN bit pattern
        h = pd.util.hash_array(vals)
        if col.null_count:
            nulls = pc.is_null(col).to_numpy(zero_copy_only=False)
            h[nulls] = pd.util.hash_array(np.array([_NULL], dtype=object))[0]
        return h
    if pa.types.is_nested(t) or pa.types.is_binary(t):
        strings = np.array([_canon(v) for v in col.to_pylist()], dtype=object)
    else:
        s = pc.fill_null(pc.cast(col, pa.string()), _NULL)
        strings = np.asarray(s.to_numpy(zero_copy_only=False), dtype=object)
    return pd.util.hash_array(strings, categorize=False)


def digest_table(table: pa.Table) -> tuple[int, str]:
    """(row count, 16-hex-digit digest) of ``table``."""
    rows = np.zeros(table.num_rows, dtype=np.uint64)
    for name in sorted(table.column_names):
        h = _column_hash(table.column(name))
        name_h = np.uint64(pd.util.hash_array(np.array([name], dtype=object))[0])
        rows = (rows * np.uint64(1_000_003)) ^ h ^ name_h
    total = int(rows.sum(dtype=np.uint64)) if table.num_rows else 0
    return table.num_rows, f"{total:016x}"


def digest_parquet(path: str) -> tuple[int, str]:
    return digest_table(pq.read_table(path))
