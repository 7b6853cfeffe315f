"""Core cache engine: probe, materialize, and direct-data caching.

Re-implements the reference's caching subsystem (reference:
dbfs_spark_cache/core_caching.py) Spark-first:

* a materialized cache is written by path into its entry directory under
  the ``config.CACHE_DATABASE`` directory (parquet, or delta when
  ``CACHE_FORMAT`` asks for it and its jars are present), and registers
  no catalog table; a parquet entry's one commit record is the writer's
  own marker in its data directory, which also records the written schema
  (``layout``);
* a direct-data entry from a pandas frame that ``createDataFrame`` would
  convert through Arrow is written on the driver instead: one Parquet file
  from PySpark's own conversion (``direct_data``), no Spark job;
* the metadata sidecar lives under ``config.SPARK_CACHE_DIR/<hash>/`` via
  the engine's FS layer (local os / Hadoop FS) instead of ``dbutils``;
* a cache hit replaces the user's whole logical plan with a columnar scan
  of the entry's files — Catalyst then gets predicate pushdown + column
  pruning on the materialized result for free. The reference registers
  each entry as a catalog table and reads that; a catalog that dies with
  the session (Spark's in-memory one) cannot serve the read, and a table
  write lands wherever the catalog puts the table (a database created
  with its own ``LOCATION``), not where every read looks.

The reference's double-write bug (the table written twice per miss,
core_caching.py:113-114) is intentionally NOT reproduced.
"""
from __future__ import annotations

import hashlib
import logging
from datetime import datetime
from typing import Any, Callable, List, Mapping, NamedTuple, Optional, Tuple, Union

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import fs, layout
from .config import config
from .direct_data import driver_table, write_parquet
from .hashing import hash_input_data
from .plans.fingerprint import (
    INPUT_LISTING_FAILED_KEY,
    SCHEMA_CHANGED_KEY,
    canonical_plan,
    find_plain_udfs,
    input_dir_mod_datetime,
    plan_is_uncacheable,
    pure_scan_entry,
    resolve_table_hash,
    table_cache_info,
)

log = logging.getLogger(__name__)

# Per-cache-key write locks: Spark drivers legitimately run jobs from many
# threads (our own staged pipelines do), and two concurrent ``overwrite``
# writes to one table location can interleave their delete/commit phases
# into a mix of both jobs' part-files. Serializing per key turns the race
# into first-writer-writes / later-writers-hit-skip-if-identical (the
# metadata document is content-addressed, so all racers carry identical
# bytes). Cross-process writers on a shared filesystem still race exactly
# like the reference; a transactional CACHE_FORMAT (delta) closes that too.
import threading

_KEY_LOCKS: dict = {}
_KEY_LOCKS_GUARD = threading.Lock()


def _lock_for_key(key: str) -> threading.Lock:
    with _KEY_LOCKS_GUARD:
        return _KEY_LOCKS.setdefault(key, threading.Lock())


# Session-level cache effectiveness counters [NS]: at 100 TB a pipeline
# whose hit rate silently drops to zero pays full recompute on every run —
# these make that visible without log spelunking. Driver-side only, one
# dict bump per cache_dataframe/write_cache call; never on the data path.
_SESSION_STATS = {
    "hits": 0,          # probe found a live materialized cache
    "misses": 0,        # probe found nothing (a write MAY follow the gates)
    "writes": 0,        # distributed materializations actually performed
    "write_skips": 0,   # write short-circuited (metadata identical / racer)
    "spark_cache": 0,   # served from the in-memory tier instead
    "threshold_skips": 0,  # cost gate declined to cache
}
_STATS_LOCK = threading.Lock()


def _bump(counter: str) -> None:
    with _STATS_LOCK:
        _SESSION_STATS[counter] += 1


def cache_session_stats() -> dict:
    """Snapshot of this session's cache-effectiveness counters, plus the
    derived hit rate over completed probes (hits / (hits + misses);
    0.0 before any probe)."""
    with _STATS_LOCK:
        snap = dict(_SESSION_STATS)
    probes = snap["hits"] + snap["misses"]
    snap["hit_rate"] = (snap["hits"] / probes) if probes else 0.0
    return snap


def reset_cache_session_stats() -> None:
    with _STATS_LOCK:
        for k in _SESSION_STATS:
            _SESSION_STATS[k] = 0


def exc_summary(exc: BaseException, width: int = 120) -> str:
    """First line of an exception message, safe for exceptions whose
    message is empty (``str(exc).splitlines()`` is ``[]`` then — indexing
    it would make the degradation path itself throw)."""
    return (str(exc).splitlines() or [""])[0][:width]


def ensure_cache_database(spark: SparkSession) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {config.CACHE_DATABASE}")


# Session-level memo: once the configured format proved unavailable, write
# parquet for the rest of the session.
_FORMAT_FALLBACK: dict = {}


def _effective_cache_format() -> str:
    if _FORMAT_FALLBACK.get("parquet"):
        return "parquet"
    return config.CACHE_FORMAT


def _is_format_missing(exc: Exception) -> bool:
    """True only for driver-side data-source-resolution failures."""
    msg = str(exc)
    return "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source" in msg


def _save_as_cache_table(
    df: DataFrame, location: str, partition_by: Optional[List[str]] = None
) -> str:
    """Write a DataFrame's columnar files at an entry's ``location`` and
    return the format written. No catalog table names them: hits scan
    the location (``_scan_entry``) and ``management`` lists the cache
    database's directory.

    Unpartitioned overwrite, like the reference. At 100 TB callers should
    pre-``repartition`` on a natural key before caching; the write itself is
    a single distributed job either way. Bucketing is not offered here: a
    scan of the entry's files carries no bucket spec, so it would buy
    nothing (``operators.scale.write_bucketed`` writes bucketed tables).
    """
    def save(fmt: str) -> str:
        writer = df.write.mode("overwrite").format(fmt)
        if partition_by:
            # At 100 TB an unpartitioned cache makes every downstream read a
            # full scan; partitioning on a natural key turns filtered
            # re-reads into partition-pruned scans.
            writer = writer.partitionBy(*partition_by)
        writer.save(location)
        return fmt

    try:
        return save(_effective_cache_format())
    except Exception as exc:
        # Configured format's jars absent (e.g. CACHE_FORMAT=delta without
        # delta-spark on the classpath): degrade to parquet — still
        # columnar, still correct, minus the transactional extras. Only
        # driver-side format-resolution failures qualify; anything matching
        # mid-job (task failures also mention ClassNotFound) must re-raise
        # rather than silently re-run a huge write.
        if _effective_cache_format() != "parquet" and _is_format_missing(exc):
            log.warning(
                "Cache format %r unavailable (%s); falling back to parquet",
                config.CACHE_FORMAT, exc_summary(exc),
            )
            _FORMAT_FALLBACK["parquet"] = True
            return save("parquet")
        raise


def _scan_entry(
    spark: SparkSession, location: str, fmt: str, schema: Optional[StructType]
) -> DataFrame:
    """The one read of a cache entry: a scan of its files. Every session
    reads an entry this way, so the entry, and every frame built on it,
    prints one plan and keys one way whichever session wrote it; the
    input walk recognises the entry by its directory
    (``layout.cached_input_pattern``). A parquet scan takes ``schema``,
    the schema of the frame whose key names the entry or the one its
    commit marker records, rather than inferring one: inference reads
    every file footer, and types a ``partition_by`` column from its
    directory names (a ``bigint`` column reads back as ``int``, and a
    frame filtered on it would key differently)."""
    reader = spark.read.format(fmt)
    if fmt == "parquet" and schema is not None:
        reader = reader.schema(schema)
    return reader.load(location)


def _read_cache_table(
    spark: SparkSession,
    hash_name: str,
    schema: Optional[StructType] = None,
) -> Optional[DataFrame]:
    """Scan a cache entry's data location, or None when no committed,
    intact data is there. ``schema``: see ``_scan_entry``; when the caller
    passes none, a parquet scan takes the schema its commit marker
    records, and only a marker without one leaves it to inference.

    A parquet location is committed when it holds its commit marker
    (``layout.COMMIT_MARKER``). The write is remove-then-rewrite and
    ``_lock_for_key`` only serializes this driver, so a location without
    the marker may be another process's write in flight: a miss, never
    partial rows. The marker's inventory must also match the live data
    files: a part file lost after commit leaves a directory that scans
    cleanly and serves fewer rows, and a ``_delta_log`` beside the marker
    means a Delta write landed after it. Without a marker, a Delta
    location is read through its log, which is its own commit record; a
    raw parquet scan of it would surface superseded file versions.
    """
    location = layout.table_location(spark, hash_name)
    marker = fs.read_text(layout.commit_marker_path(location))
    if marker is not None:
        if layout.inventory_ok(location, marker) is False:
            log.warning(
                "Cache entry %s fails its data-file inventory (data files "
                "lost, added or altered after commit); treating as a miss",
                hash_name,
            )
            return None
        fmt = "parquet"
        if schema is None:
            schema = layout.recorded_schema(marker)
    elif layout.is_transactional(location):
        fmt = "delta"
    else:
        return None
    try:
        return _scan_entry(spark, location, fmt, schema)
    except Exception as exc:
        # e.g. a delta entry read in a session without the delta jars
        log.warning("Scan (%s) failed for %s: %s", fmt, location,
                    exc_summary(exc))
        return None


def _materialize(
    spark: SparkSession,
    key: str,
    sidecars: str,
    metadata_txt: str,
    schema: StructType,
    write: Callable[[str], str],
) -> Optional[DataFrame]:
    """The write protocol shared by ``write_cache`` and
    ``create_cached_dataframe``; the caller holds ``key``'s lock.
    ``write(location)`` writes data of ``schema`` at the entry's location
    and returns the format written: Spark's writer
    (``_save_as_cache_table``), or the driver's one Parquet file for a
    direct-data entry (``_write_on_driver``).

    1. Clear the data location, and the old commit marker with it: under
       dynamic partition overwrite a ``partition_by`` rewrite replaces
       only the partitions it writes, and would keep stale ones.
    2. Write the data.
    3. Commit parquet data with its marker (``layout.write_commit_marker``,
       the data-file inventory and ``schema``); a Delta log commits itself.
    4. Write the metadata sidecar LAST: it is the entry's liveness signal,
       so a write that dies earlier leaves no sidecar and the next call
       retries it.

    Returns a scan of the files just committed, the read every later hit
    makes. The lock serializes this driver only: when another process
    removed the location or is rewriting it before step 3, the marker is
    refused, nothing is committed and None is returned (the caller serves
    its frame uncached).
    """
    location = layout.table_location(spark, key)
    # No catalog table names the entry, but DROP DATABASE ... CASCADE
    # removes the entry directories only while the database exists.
    ensure_cache_database(spark)
    if fs.exists(location):
        fs.remove(location)
    fmt = write(location)
    if fmt == "parquet" and not layout.write_commit_marker(location, schema):
        log.warning("Cache location %s lost this write's output before its "
                    "commit (another process removed or is rewriting it); "
                    "%s not cached", location, key)
        return None
    fs.write_text(layout.metadata_path(sidecars), metadata_txt)
    return _scan_entry(spark, location, fmt, schema)


def read_cache_if_exist(
    df: DataFrame,
    query_plan: Optional[str] = None,
    input_info: Optional[Mapping[str, Union[datetime, bool]]] = None,
    hash_name: Optional[str] = None,
    cache_path: Optional[str] = None,
) -> Optional[DataFrame]:
    """Return the materialized cache for ``df``'s fingerprint, or None.

    A hit requires the metadata sidecar and a committed, intact data
    location (``_read_cache_table``); it is a scan of that location with
    ``df``'s schema (the reference reads the catalog table,
    core_caching.py:409-471, which only a metastore that outlives the
    session can serve). ``hash_name``/``cache_path`` must mirror whatever
    the write used — a custom-keyed cache (``cacheToStorage(hash_name=
    ...)``) is invisible to a default-keyed probe.
    """
    spark = df.sparkSession
    plan = query_plan if query_plan is not None else canonical_plan(df)
    info = input_info if input_info is not None else input_dir_mod_datetime(df)

    key, sidecars, metadata_path, metadata_txt = table_cache_info(
        info, plan, hash_name=hash_name, cache_path_base=cache_path
    )
    # The probe runs UNDER the key's write lock: writers hold it across
    # data write + sidecar write, and a custom-keyed REWRITE ("metadata
    # changed; rewriting") overwrites the table location non-atomically —
    # an unserialized probe could read the old sidecar and scan a
    # half-written directory: partial part-files served as a valid hit
    # (silent wrong data, the worst class). Eviction
    # (management.clear_cache_for_hash) takes the same lock, so a probe
    # now sees each entry either fully live or fully gone, never
    # mid-drop. The lock covers only sidecar read + scan CONSTRUCTION
    # (driver metadata work, no Spark job); plan/mtime fingerprinting
    # stays outside it. Same Spark driver only — cross-process races
    # need a transactional CACHE_FORMAT, as the write-lock note says.
    with _lock_for_key(key):
        # A CUSTOM hash_name pins the metadata path, so a hit must require
        # the stored document to EQUAL the current one — existence alone
        # would serve day-1 rows forever after the inputs change (the
        # equality miss sends the call to write_cache, whose in-lock
        # comparison rewrites the stale entry). The default content-addressed
        # key keeps the existence check: the key IS the document hash, so a
        # changed document lands on a different path anyway, and a corrupted
        # sidecar under the correct key still identifies a valid
        # materialization (pinned by the corrupt-sidecar healing test) —
        # equality there would force a spurious recompute.
        stored = fs.read_text(metadata_path)
        if stored is None or (hash_name is not None and stored != metadata_txt):
            return None
        cached = _read_cache_table(spark, key, schema=df.schema)
    if cached is None:
        log.warning("Cache metadata exists but entry %s has no readable data", key)
    return cached


def write_cache(
    df: DataFrame,
    replace: bool = True,
    query_plan: str = "",
    input_info: Optional[Mapping[str, Union[datetime, bool]]] = None,
    hash_name: Optional[str] = None,
    cache_path: Optional[str] = None,
    partition_by: Optional[List[str]] = None,
    verbose: bool = False,
) -> DataFrame:
    """Materialize ``df`` under its content hash and return the cached scan.

    Skips the (expensive, distributed) write when the stored metadata is
    byte-identical — the cache is already current (reference:
    core_caching.py:100-102). ``partition_by`` partitions the materialized
    table (partition-pruned re-reads at scale); it does not participate in
    the fingerprint — same result, same cache key, regardless of layout.
    """
    spark = df.sparkSession
    plan = query_plan or canonical_plan(df)
    info = input_info if input_info is not None else input_dir_mod_datetime(df)

    key, sidecars, metadata_path, metadata_txt = table_cache_info(
        info, plan, hash_name=hash_name, cache_path_base=cache_path
    )
    if verbose:
        # the reference's verbose flag prints the resolved identity; here
        # it surfaces the key/location plus the metadata document driving it
        log.info(
            "write_cache: key=%s location=%s; metadata document:\n%s",
            key, layout.table_location(spark, key), metadata_txt,
        )

    with _lock_for_key(key):
        # Probe INSIDE the lock: a racer that lost the lock re-reads the
        # winner's (identical, content-addressed) metadata and skips the
        # duplicate distributed write entirely.
        existing = fs.read_text(metadata_path)
        cached = (
            _read_cache_table(spark, key, schema=df.schema)
            if existing == metadata_txt else None
        )
        if cached is not None:
            log.info("Cache %s already current; skipping write", key)
            if partition_by:
                # Layout is not part of the identity: an existing entry is
                # served as-written. Re-layout by clearing the entry first.
                log.info(
                    "Cache %s served with its existing layout; partition_by "
                    "applies only when the entry is (re)written", key,
                )
            _bump("write_skips")
        else:
            if existing is not None and existing != metadata_txt:
                log.info("Cache %s metadata changed; rewriting", key)
            cached = _materialize(
                spark, key, sidecars, metadata_txt, df.schema,
                lambda location: _save_as_cache_table(df, location, partition_by),
            )
            if cached is None:
                cached = df
            _bump("writes")
    return cached if replace else df


# Admission refusal that cache_dataframe counts as a threshold skip.
BELOW_THRESHOLD = "below the cost threshold"


class Admission(NamedTuple):
    """``admit``'s verdict: the rendered plan and input listing (for the
    write to reuse), why the frame may not be cached (``refusal``; None =
    admitted) and the probe's hit, if any."""

    plan: str
    info: Mapping[str, Any]
    refusal: Optional[str] = None
    hit: Optional[DataFrame] = None


def _below_threshold(
    df: DataFrame,
    complexity_threshold: Optional[float],
    multiplier_threshold: Optional[float],
) -> bool:
    """The cost gate: strict ``<`` against each threshold that is set
    (not None and > 0). The estimate runs only when one is set, and a
    failed estimate admits. (Deliberate deviation: the reference's backup
    path skips on ``<=`` while its cacheToDbfs gate uses ``<`` —
    caching.py:104 vs dataframe_extensions.py:97; not ported.)"""
    def is_set(threshold: Optional[float]) -> bool:
        return threshold is not None and threshold > 0

    if not (is_set(complexity_threshold) or is_set(multiplier_threshold)):
        return False
    from .complexity import estimate_compute_complexity

    try:
        complexity, multiplier, size_gb = estimate_compute_complexity(df)
    except Exception as exc:
        log.warning("Complexity estimation failed: %s", exc)
        return False
    log.info(
        "Estimated complexity %.2f (size %.5f GB x multiplier %.2f)",
        complexity, size_gb, multiplier,
    )
    for name, value, threshold in (
        ("Complexity", complexity, complexity_threshold),
        ("Multiplier", multiplier, multiplier_threshold),
    ):
        if is_set(threshold) and value < threshold:
            log.info("%s %.2f below threshold %s; not caching",
                     name, value, threshold)
            return True
    return False


def admit(
    df: DataFrame,
    complexity_threshold: Optional[float] = None,
    multiplier_threshold: Optional[float] = None,
    probe: Optional[Callable[[str, Mapping[str, Any]], Optional[DataFrame]]] = None,
) -> Admission:
    """May ``df`` be materialized? The one guard in front of every write
    that fingerprints a live frame (``cache_dataframe`` and
    ``tiering.backup_spark_cached_to_storage``). Renders the plan and lists
    the inputs once, and refuses:

    * RDD-backed plans: no stable content identity (reference:
      dataframe_extensions.py:47-49); two such frames with one schema
      would share a key;
    * direct-data frames: they ARE their own materialization (reference:
      dataframe_extensions.py:54-56);
    * pure scans of an existing cache entry: already persistent under that
      key — writing would store a second full copy under another key;
    * unmatchable fingerprints (input listing failed, or input schema
      changed): the key embeds now(), so a write would be an orphan no
      later probe finds;
    * frames below a set complexity or multiplier threshold.

    ``probe(plan, info)`` runs after the structural checks; a hit it
    returns ends admission before the cost estimate, so hits never pay
    for it.
    """
    plan = canonical_plan(df)
    info: Mapping[str, Any] = {}
    if plan_is_uncacheable(plan):
        refusal = "RDD-backed plan"
    elif getattr(df, "_is_direct_data_cache", False):
        refusal = "direct-data cache source"
    else:
        info = input_dir_mod_datetime(df)
        scanned = pure_scan_entry(plan, info)
        refusal = None if scanned is None else f"pure scan of cache entry {scanned}"
    if refusal is not None:
        log.info("Not caching: %s", refusal)
        return Admission(plan, info, refusal)

    if INPUT_LISTING_FAILED_KEY in info or SCHEMA_CHANGED_KEY in info:
        log.warning(
            "Unmatchable fingerprint (input listing failed or schema "
            "changed); skipping cache for this run"
        )
        return Admission(plan, info, "unmatchable fingerprint")
    hit = probe(plan, info) if probe is not None else None
    if hit is not None:
        return Admission(plan, info, hit=hit)
    if _below_threshold(df, complexity_threshold, multiplier_threshold):
        return Admission(plan, info, BELOW_THRESHOLD)
    return Admission(plan, info)


def cache_dataframe(
    df: DataFrame,
    override_prefer_spark_cache: bool = False,
    complexity_threshold: Optional[float] = None,
    multiplier_threshold: Optional[float] = None,
    verbose: bool = False,
    hash_name: Optional[str] = None,
    cache_path: Optional[str] = None,
    partition_by: Optional[List[str]] = None,
) -> DataFrame:
    """The flagship entry point (``df.cacheToStorage()``).

    Pipeline (reference: dataframe_extensions.py:29-133):
      admission (plan check -> cache probe -> cost gate) -> Spark-cache tier
      or materialized write. Returns either the original df (refused), the
      in-memory cached df, or a scan of the materialized entry (hit/new
      write). ``hash_name``, ``cache_path`` and ``partition_by`` are passed
      to the probe and the write; any other keyword is a ``TypeError``.
    """

    def probe(plan: str, info: Mapping[str, Any]) -> Optional[DataFrame]:
        hit = read_cache_if_exist(
            df, query_plan=plan, input_info=info,
            hash_name=hash_name, cache_path=cache_path,
        )
        _bump("misses" if hit is None else "hits")
        return hit

    verdict = admit(df, complexity_threshold, multiplier_threshold, probe=probe)
    if verdict.hit is not None:
        log.info("Cache hit; replacing plan with a scan of the entry")
        return verdict.hit
    if verdict.refusal is not None:
        if verdict.refusal == BELOW_THRESHOLD:
            _bump("threshold_skips")
        return df

    plain_udfs = find_plain_udfs(df)
    if plain_udfs:
        # Reference parity (core_caching.py:318-319, README.md:196): the
        # fingerprint sees only the UDF's name, so editing its body will NOT
        # invalidate the entry about to be written. Checked only when a
        # write/Spark-cache is actually imminent: find_plain_udfs runs full
        # physical planning, which would be pure overhead (and a repeated
        # warning) on cache hits and early returns.
        log.warning(
            "Cached plan contains Python functions whose code is invisible "
            "to the cache fingerprint: %s. Editing them will NOT invalidate "
            "this cache — wrap scalar UDFs with "
            "functions.content_addressed_udf (embeds a body hash in the "
            "plan-visible name), or clear the cache manually after changes.",
            plain_udfs,
        )

    from .tiering import should_prefer_spark_cache

    if not override_prefer_spark_cache and should_prefer_spark_cache():
        log.info("Using Spark in-memory cache tier")
        _bump("spark_cache")
        return df.cache()

    return write_cache(
        df,
        query_plan=verdict.plan,
        input_info=verdict.info,
        hash_name=hash_name,
        cache_path=cache_path,
        partition_by=partition_by,
        verbose=verbose,
    )


def clear_cache_for_df(df: DataFrame) -> None:
    from .management import clear_cache_for_hash

    clear_cache_for_hash(df.sparkSession, resolve_table_hash(df))


# ---------------------------------------------------------------------------
# Direct-data caching (createCachedDataFrame)
# ---------------------------------------------------------------------------

def create_cached_dataframe(
    spark: SparkSession,
    data: Union[pd.DataFrame, List[Any], Tuple[Any, ...]],
    schema: Optional[Any] = None,
    **kwargs: Any,
) -> DataFrame:
    """Content-addressed ``createDataFrame`` (reference:
    core_caching.py:119-206).

    Hashes the driver-local input; on a hit scans the existing ``data_*``
    entry, on a miss creates + materializes it. The returned DataFrame is
    tagged so later fingerprinting short-circuits to the data hash.

    An explicit ``schema`` participates in the key (a deviation from the
    reference, which hashes only the data — core_caching.py:140): for
    list/tuple input the pandas conversion infers one dtype regardless of
    the declared schema, so ``schema='a INT'`` and ``schema='b BIGINT'``
    over the same rows would otherwise collide on one table and the
    second call would return the first call's column names and types.
    So do the session time zone and timestamp type for a pandas frame
    with a naive ``datetime64`` column: ``createDataFrame`` localizes its
    values in the session zone (or keeps them naive under
    ``TIMESTAMP_NTZ``), so the same frame holds other instants in another
    session.
    """
    data_hash = hash_input_data(data)
    salt = ""
    if schema is not None:
        schema_repr = (
            schema.simpleString() if hasattr(schema, "simpleString") else str(schema)
        )
        salt += f";schema={schema_repr}"
    if isinstance(data, pd.DataFrame) and any(
        pd.api.types.is_datetime64_dtype(dtype) for dtype in data.dtypes
    ):
        salt += "".join(f";{name}={spark.conf.get(name)}" for name in (
            "spark.sql.session.timeZone", "spark.sql.timestampType"))
    if salt:
        data_hash = hashlib.md5(f"{data_hash}{salt}".encode("utf-8")).hexdigest()
    cache_hash_name = f"data_{data_hash}"
    sidecars = layout.sidecar_dir(cache_hash_name)

    with _lock_for_key(cache_hash_name):
        cached = _read_cache_table(spark, cache_hash_name)
        if cached is not None and fs.read_text(layout.metadata_path(sidecars)) is not None:
            log.info("Direct-data cache hit: %s", cache_hash_name)
        else:
            log.info("Direct-data cache miss; creating %s", cache_hash_name)
            converted = driver_table(spark, data, schema, kwargs, _effective_cache_format())
            source: Optional[DataFrame] = None
            if converted is not None:
                arrow, written_schema = converted
                write = _write_on_driver(arrow, spark.sparkContext.defaultParallelism)
            else:
                source = spark.createDataFrame(data, schema=schema, **kwargs)
                written_schema = source.schema
                write = lambda location: _save_as_cache_table(source, location)  # noqa: E731
            # Deterministic document — NO wall-clock line: every racer on
            # this key must produce byte-identical content, because both
            # the per-key lock's re-probe and fs.write_text's lost-rename
            # recovery treat "target holds my exact bytes" as success
            # (creation time lives in the sidecar file's own mtime, which
            # is where the registry reads it from anyway).
            metadata_txt = (
                "CACHE TYPE: Direct Data Input\n"
                f"DATA HASH: {data_hash}\n"
                f"SCHEMA: {written_schema.simpleString()}"
            )
            cached = _materialize(spark, cache_hash_name, sidecars, metadata_txt,
                                  written_schema, write)
            if cached is None:
                cached = source if source is not None else spark.createDataFrame(
                    data, schema=schema, **kwargs)

    setattr(cached, "_is_direct_data_cache", True)
    setattr(cached, "_direct_data_cache_hash", cache_hash_name)
    return cached


def _write_on_driver(arrow: pa.Table, parallelism: int) -> Callable[[str], str]:
    """``_materialize``'s writer for a converted pandas frame: one Parquet
    file of ``parallelism`` row groups, written on the driver and put at
    the entry location; no Spark job."""
    def write(location: str) -> str:
        fs.put_file(f"{location}/{layout.DRIVER_DATA_FILE}",
                    lambda path: write_parquet(arrow, path, parallelism))
        return "parquet"

    return write
