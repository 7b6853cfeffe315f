"""Driver-side writer of direct-data cache entries (``createCachedDataFrame``).

A pandas frame is already on the driver. Shipping it to the JVM
(``spark.createDataFrame``) only to run a Spark job that writes it back out
costs most of a miss, so where ``createDataFrame`` itself converts through
Arrow, the miss runs that same conversion here and writes the Arrow table as
one Parquet file. The conversion is PySpark's own: its schema inference from
the frame's Arrow schema and the ``ArrowStreamPandasSerializer`` coercion it
applies before shipping batches, with the session time zone and
``arrowSafeTypeConversion``. The file therefore holds the values, and the
commit marker the schema, that ``createDataFrame`` would have produced.

``to_arrow`` raises wherever the conversion would (``createDataFrame`` then
falls back to its row path, and the caller to Spark's writer), and also for
a frame whose converted form Parquet cannot give back to Spark unchanged.

The conversion calls PySpark internals whose signatures change between
minor versions (``ArrowStreamPandasSerializer``'s arguments,
``_create_batch``, ``to_arrow_type``). It mirrors PySpark 4.1 and was
verified on 4.1.2; under any other PySpark version ``driver_table``
declines and every entry keeps Spark's writer.
"""
from __future__ import annotations

import logging
import math
from typing import Any, List, Optional, Tuple

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

log = logging.getLogger(__name__)

# The PySpark minor version whose ``_create_from_pandas_with_arrow``
# ``to_arrow`` mirrors.
_MIRRORED_PYSPARK = "4.1."

# Spark types whose Parquet form a Spark scan reads back as the same type.
# Others (intervals, TIME, NULL, variant, geospatial) keep Spark's writer.
_PARQUET_ATOMIC = (
    BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, DecimalType, StringType, BinaryType, DateType, TimestampType,
    TimestampNTZType,
)


def _parquet_native(dt: DataType) -> bool:
    if isinstance(dt, ArrayType):
        return _parquet_native(dt.elementType)
    if isinstance(dt, MapType):
        return _parquet_native(dt.keyType) and _parquet_native(dt.valueType)
    if isinstance(dt, StructType):
        return all(_parquet_native(f.dataType) for f in dt.fields)
    return type(dt) in _PARQUET_ATOMIC


def driver_table(
    spark: SparkSession, data: Any, schema: Optional[Any], kwargs: dict, fmt: str
) -> Optional[Tuple[pa.Table, StructType]]:
    """``to_arrow(spark, data, schema)`` when a cache entry of format
    ``fmt`` is written on the driver: a parquet entry, and ``data`` is
    what ``spark.createDataFrame`` would convert through Arrow, a
    non-empty pandas frame with Arrow enabled and no ``createDataFrame``
    options (the driver writer has no use for them), under the PySpark
    version ``to_arrow`` mirrors. None for any other input, and when the
    conversion raises: Spark's writer takes those.

    A category column keeps Spark's writer too. Its conversion casts the
    values to the categories' dtype, which succeeds or raises depending on
    the values (integer categories with a missing value raise), so on the
    driver path its writer would be chosen by the values, not the dtype."""
    if not (
        fmt == "parquet"
        and pyspark.__version__.startswith(_MIRRORED_PYSPARK)
        and isinstance(data, pd.DataFrame)
        and len(data) > 0
        and not kwargs
        and not any(isinstance(t, pd.CategoricalDtype) for t in data.dtypes)
        and spark._jconf.arrowPySparkEnabled()  # type: ignore[attr-defined]
    ):
        return None
    try:
        return to_arrow(spark, data, schema)
    except Exception as exc:
        # Any error, as createDataFrame's own Arrow path falls back on any.
        log.info("Driver conversion refused (%s: %s); writing with Spark",
                 exc.__class__.__name__, (str(exc).splitlines() or [""])[0])
        return None


def to_arrow(
    spark: SparkSession, pdf: pd.DataFrame, schema: Optional[Any]
) -> Tuple[pa.Table, StructType]:
    """The Arrow table and Spark schema of ``spark.createDataFrame(pdf,
    schema)``'s Arrow path (``SparkConversionMixin.
    _create_from_pandas_with_arrow``), with the table's columns named by
    the schema. Raises where that path raises, and for a schema Parquet
    cannot round-trip: duplicate column names (case-insensitively, as a
    Spark scan compares them), a nested struct whose field names Arrow
    would have to rename, or a type outside ``_PARQUET_ATOMIC``."""
    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
    from pyspark.sql.pandas.types import (
        _deduplicate_field_names,
        from_arrow_type,
        to_arrow_type,
    )
    from pyspark.sql.utils import is_timestamp_ntz_preferred

    jconf = spark._jconf  # type: ignore[attr-defined]
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)  # type: ignore[attr-defined]
    if schema is None or isinstance(schema, (list, tuple)):
        as_map = spark.conf.get("spark.sql.execution.pandas.inferPandasDictAsMap")
        if str(as_map).lower() == "true":
            raise ValueError("dict columns infer as maps; left to createDataFrame")
        names = schema if schema is not None else [
            x if isinstance(x, str) else str(x) for x in pdf.columns
        ]
        ntz = is_timestamp_ntz_preferred()
        schema = StructType([
            StructField(name, from_arrow_type(field.type, ntz), nullable=field.nullable)
            for name, field in zip(names, pa.Schema.from_pandas(pdf, preserve_index=False))
        ])
    if not isinstance(schema, StructType):
        raise TypeError(f"schema {schema!r} is not a struct")
    if len(schema.fields) != pdf.shape[1]:
        raise ValueError(f"{len(schema.fields)} fields for {pdf.shape[1]} columns")
    spark_types = [f.dataType for f in schema.fields]
    lowered = [name.lower() for name in schema.names]
    if len(set(lowered)) != len(lowered):
        raise ValueError(f"duplicate column names {schema.names}")
    for t in spark_types:
        if _deduplicate_field_names(t) != t or not _parquet_native(t):
            raise TypeError(f"{t.simpleString()} does not round-trip through Parquet")

    large = jconf.arrowUseLargeVarTypes()
    serializer = ArrowStreamPandasSerializer(
        jconf.sessionLocalTimeZone(), jconf.arrowSafeTypeConversion(), False
    )
    batch = serializer._create_batch([
        (column, to_arrow_type(t, prefers_large_types=large), t)
        for (_, column), t in zip(pdf.items(), spark_types)
    ])
    return pa.Table.from_batches([batch]).rename_columns(schema.names), schema


def _dictionary_is_smaller(column: pa.ChunkedArray) -> bool:
    """parquet-mr's fallback rule: dictionary-encode a column chunk only
    when its dictionary plus the bit-packed indices are smaller than the
    plain values. Flat columns only; booleans are never dictionary-encoded
    (Parquet has no dictionary for them), nested columns stay plain."""
    t = column.type
    if pa.types.is_boolean(t) or pa.types.is_nested(t):
        return False
    values = column.length() - column.null_count
    if values == 0:
        return False
    distinct = pc.unique(column).drop_null()
    index_bytes = values * max(1, (len(distinct) - 1).bit_length()) / 8
    if pa.types.is_binary(t) or pa.types.is_string(t) or pa.types.is_large_binary(t) \
            or pa.types.is_large_string(t):
        plain = pc.sum(pc.binary_length(column)).as_py() + 4 * values
        dictionary = pc.sum(pc.binary_length(distinct)).as_py() + 4 * len(distinct)
    else:
        width = t.byte_width
        plain, dictionary = values * width, len(distinct) * width
    return dictionary + index_bytes < plain


def write_parquet(table: pa.Table, path: str, parallelism: int) -> None:
    """Write ``table`` as one snappy Parquet file at the local ``path``,
    in ``parallelism`` row groups of equal row count: Spark splits a
    Parquet file for its scan only between row groups, so a hit on a large
    entry still runs as many scan tasks as the partitions Spark's writer
    would have written. A column is dictionary-encoded only where
    ``_dictionary_is_smaller`` (pyarrow's default dictionary-encodes every
    column, which makes random-valued columns larger than Spark's writer
    makes them)."""
    dictionary: List[str] = [
        name for name, column in zip(table.column_names, table.columns)
        if _dictionary_is_smaller(column)
    ]
    pq.write_table(table, path, compression="snappy", use_dictionary=dictionary,
                   store_schema=False,
                   row_group_size=max(1, math.ceil(table.num_rows / parallelism)))
