"""Deterministic content hashing for driver-local input data.

Used by ``createCachedDataFrame`` to give in-memory inputs (pandas frames,
lists/tuples of dicts or Rows) a stable ``data_<md5>`` identity. Semantics
match the reference (reference: dbfs_spark_cache/hashing.py:14-72): sensitive
to values, column order, and dtypes; RDDs rejected; Parquet-bytes fallback
when pandas' fast hash cannot handle a dtype.
"""
from __future__ import annotations

import hashlib
import io
import logging
from typing import Any, List, Tuple, Union

import pandas as pd

log = logging.getLogger(__name__)

def hash_input_data(
    data: Union[pd.DataFrame, List[Any], Tuple[Any, ...]]
) -> str:
    """MD5 content hash of local input data.

    list/tuple inputs are first converted to a pandas frame (one row per
    dict/Row); RDDs are rejected with TypeError because their contents cannot
    be fingerprinted without a full distributed scan.
    """
    try:
        from pyspark.rdd import RDD

        if isinstance(data, RDD):
            raise TypeError("RDD input not supported. Convert to a DataFrame first.")
    except ImportError:  # pragma: no cover
        pass

    if isinstance(data, pd.DataFrame):
        frame = data
    elif isinstance(data, (list, tuple)):
        if not data:
            frame = pd.DataFrame()
        else:
            try:
                frame = pd.DataFrame([
                    row.asDict() if hasattr(row, "asDict") else row for row in data
                ])
            except Exception as exc:
                raise TypeError(f"Could not convert input to pandas: {exc}") from exc
    else:
        raise TypeError(f"Unsupported data type for hashing: {type(data)}")

    try:
        row_hashes = pd.util.hash_pandas_object(frame, index=True)
        digest = hashlib.md5()
        # Schema participates in identity: the same values as int32 vs int64
        # produce different Spark schemas, so they are different caches.
        # dtypes.items(), not frame[col].dtype: with DUPLICATE column names
        # (legal in pandas AND in Spark createDataFrame) frame[col] returns
        # a sub-FRAME whose .dtype raises, dropping to the parquet fallback
        # — which then refuses duplicates outright with an opaque
        # ValueError. dtypes iterates positionally.
        for col, dtype in frame.dtypes.items():
            digest.update(f"{col}:{dtype};".encode("utf-8"))
        # The row hashes as one little-endian uint64 buffer: one update
        # instead of a str() per row, the largest cost of a direct-data hit.
        digest.update(row_hashes.values.astype("<u8").tobytes())
        return digest.hexdigest()
    except Exception:
        # Fallback: serialize to Parquet bytes (slower, handles exotic
        # dtypes). index=True to stay consistent with the primary path's
        # hash_pandas_object(index=True): the same frame must get the same
        # identity whichever path runs, and frames differing only in index
        # must not collide here.
        buffer = io.BytesIO()
        frame.to_parquet(buffer, engine="pyarrow", index=True)
        return hashlib.md5(buffer.getvalue()).hexdigest()
