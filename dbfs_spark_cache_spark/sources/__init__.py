"""Table sources for the fixture star schema.

Everything reads Parquet through ``spark.read.parquet`` so Catalyst gets
vectorized scans, predicate pushdown, and column pruning. ``register_views``
exposes the same tables to ``spark.sql`` queries.

Schema memo: a plain ``spark.read.parquet(path)`` launches a one-task Spark
job to read a footer and infer the schema, on every call. ``load_table``
infers each path's schema once and then reads with it
(``spark.read.schema(s).parquet(path)``, which launches no job). The memo
holds one entry per path: the raw inferred schema and the signature it was
inferred under — every file under the path as (path, size, mtime) from the
``fs`` layer, hidden files included (summary files can drive inference),
plus the session confs that change parquet inference
(``_INFERENCE_CONFS``). Any difference in the signature infers again.
Each call still builds a new DataFrame, so self-joins get distinct
expression IDs.

Trust model: the same as the cache key's (``plans.fingerprint``). A
rewrite that keeps every file's size and mtime goes unseen, and the stale
schema is used.
"""
from __future__ import annotations

from typing import Dict, Iterable, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import fs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session confs whose value changes the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)

# path -> (signature, raw inferred schema); see the module docstring.
_SCHEMAS: Dict[str, Tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    memo has none for this path's current signature."""
    # Taken before the read: files changed in between make the stored
    # signature stale, which only costs one more inference later. For the
    # same reason concurrent loads need no lock: an entry is replaced
    # whole, and its signature never postdates the files of its schema.
    files = sorted((f.path, f.size, f.mtime_ms) for f in fs.walk_files(path))
    confs = [spark.conf.get(key, None) for key in _INFERENCE_CONFS]
    signature = (tuple(files), tuple(confs))
    memo = _SCHEMAS.get(path)
    if memo is not None and memo[0] == signature:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (signature, df.schema)
    return df


def _load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` with the schema parquet inference gives it, before
    ``load_table`` normalizes the events ``ts`` column."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        return _read_parquet(spark, path)
    except Exception as exc:
        # Sessions built outside session.get_spark may lack the nanos
        # setting; it is a runtime SQL conf, so self-heal and retry.
        if "TIMESTAMP(NANOS" in str(exc) or "ILLEGAL_PARQUET_TYPE" in str(exc):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return _read_parquet(spark, path)
        raise


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = _load_raw(spark, sf_dir, name)
    if name == "events":
        df = normalize_event_ts(df, ntz=True)
    return df


def normalize_event_ts(df: DataFrame, ntz: bool = True) -> DataFrame:
    """Normalize the events ``ts`` column across fixture vintages.

    The driver has shipped ``events.parquet`` with two physical ts types:
    TIMESTAMP(NANOS) — which Spark surfaces as LONG nanos under the
    ``nanosAsLong`` legacy conf (session.py) — and plain ``timestamp[us]``,
    which surfaces natively as a timestamp column. Convert the former to
    microsecond timestamps; pass the latter through unchanged. Used by BOTH
    the batch loader (``load_table``) and the streaming reader
    (``streaming.read_events_stream``) so the two paths can never diverge
    on the unit again (round-4 regression: streaming kept an unconditional
    ``div 1000`` and placed every event in January 1970).

    ``ntz=True`` yields TIMESTAMP_NTZ — the batch convention: naive like
    every other fixture timestamp and immune to the driver host's OS
    timezone on ``collect()``. ``ntz=False`` yields TIMESTAMP_LTZ — the
    streaming convention: watermarks reject NTZ event time
    ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]). The session timezone is
    pinned UTC before any tz-sensitive cast so both conventions carry
    identical wall-clock values.
    """
    dt = dict(df.dtypes).get("ts")
    if dt is None:
        return df
    target = "timestamp_ntz" if ntz else "timestamp"
    if dt == "bigint":  # legacy TIMESTAMP(NANOS) fixture surfaced as nanos
        col = F.timestamp_micros(F.expr("ts div 1000"))
    elif dt != target:  # native timestamp[us] fixture, wrong tz flavor
        col = F.col("ts")
    else:
        # Already in the target flavor: pure pass-through. The UTC pin
        # below is only needed when a tz-sensitive cast actually runs —
        # flipping a foreign session's timezone on this path would
        # silently change rendering for all their unrelated queries.
        return df
    spark = df.sparkSession
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return df.withColumn("ts", col.cast(target))


def register_views(
    spark: SparkSession, sf_dir: str, names: Optional[Iterable[str]] = None
) -> None:
    # `names or TABLES` would silently register all ten tables for an
    # explicitly-empty iterable (a dynamically computed list that came up
    # empty should be a no-op).
    for name in TABLES if names is None else names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
