"""Core cache engine: probe, materialize, and direct-data caching.

Re-implements the reference's caching subsystem (reference:
dbfs_spark_cache/core_caching.py) Spark-first:

* materialized caches are managed tables in ``config.CACHE_DATABASE``
  (Parquet locally; Delta transparently when its jars are present);
* metadata sidecars live under ``config.SPARK_CACHE_DIR/<hash>/`` via the
  engine's FS layer (local os / Hadoop FS) instead of ``dbutils``;
* a cache hit replaces the user's whole logical plan with a columnar table
  scan — Catalyst then gets predicate pushdown + column pruning on the
  materialized result for free.

The reference's double-write bug (saveAsTable called twice per miss,
core_caching.py:113-114) is intentionally NOT reproduced.
"""
from __future__ import annotations

import hashlib
import logging
from datetime import datetime
from typing import Any, Callable, List, Mapping, NamedTuple, Optional, Tuple, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import fs, layout
from .config import config
from .hashing import hash_input_data
from .layout import table_name_for_hash
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


# Session-level memo: once the configured format proved unavailable, go
# straight to parquet for the rest of the session (writes AND path reads).
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
    df: DataFrame,
    table: str,
    partition_by: Optional[List[str]] = None,
    bucket_by: Optional[List[str]] = None,
    n_buckets: int = 16,
    bucket_sort_by: Optional[List[str]] = None,
) -> None:
    """Materialize a DataFrame as a managed columnar table.

    Unpartitioned overwrite, like the reference. At 100 TB callers should
    pre-``repartition`` on a natural key before caching; the write itself is
    a single distributed job either way.

    ``bucket_by`` buckets (and optionally sorts) the materialized table by
    its join key: downstream joins between same-bucketed cached tables run
    WITHOUT a shuffle on either side (see ``operators.scale.write_bucketed``
    — this is that pre-computation fused into the cache write). Bucketing
    metadata lives in the catalog; the path-read fallback still returns
    correct rows but loses the shuffle elimination.
    """
    ensure_cache_database(df.sparkSession)

    def build_writer(fmt: str):
        writer = df.write.mode("overwrite")
        if fmt:
            writer = writer.format(fmt)
        if partition_by:
            # At 100 TB an unpartitioned cache makes every downstream read a
            # full scan; partitioning on a natural key turns filtered
            # re-reads into partition-pruned scans.
            writer = writer.partitionBy(*partition_by)
        if bucket_by:
            writer = writer.bucketBy(n_buckets, *bucket_by)
            if bucket_sort_by:
                writer = writer.sortBy(*bucket_sort_by)
        return writer

    try:
        build_writer(_effective_cache_format()).saveAsTable(table)
    except Exception as exc:
        # Configured format's jars absent (e.g. CACHE_FORMAT=delta without
        # delta-spark on the classpath): degrade to parquet — still
        # columnar, still correct, minus the transactional extras. Only
        # driver-side format-resolution failures qualify; anything matching
        # mid-job (task failures also mention ClassNotFound) must re-raise
        # rather than silently re-run a huge write.
        if _effective_cache_format() not in ("", "parquet") and _is_format_missing(exc):
            log.warning(
                "Cache format %r unavailable (%s); falling back to parquet",
                config.CACHE_FORMAT, exc_summary(exc),
            )
            _FORMAT_FALLBACK["parquet"] = True
            build_writer("parquet").saveAsTable(table)
        else:
            raise


def _marks_success_jobs(spark: SparkSession) -> bool:
    """Whether this session's file-output committer writes _SUCCESS
    markers (mapreduce.fileoutputcommitter.marksuccessfuljobs, default
    true). Unreadable conf -> assume the default: the guard stays on."""
    try:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
        val = hconf.get(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "true"
        )
        return str(val).strip().lower() != "false"
    except Exception:
        return True


def _record_writer_committer(spark: SparkSession, sidecars: str) -> None:
    """Record this (writer) session's marker discipline in the entry's
    committer sidecar: _SUCCESS presence is a property of the session that
    WROTE a cache directory, not of the one reading it, so readers gate
    their torn-write guard on this record (see ``_writer_marks_success``).
    Advisory: a failure degrades readers to their own conf, so it must
    never fail the write."""
    sidecar = layout.committer_path(sidecars)
    flag = "true" if _marks_success_jobs(spark) else "false"
    try:
        fs.write_text(sidecar, f"marks_success_jobs={flag}")
    except Exception as exc:
        log.warning(
            "Could not record writer committer discipline at %s (%s); "
            "readers will gate the _SUCCESS guard on their own conf",
            sidecar, exc_summary(exc),
        )


def _record_data_inventory(
    spark: SparkSession, hash_name: str, sidecars: str
) -> None:
    """Record the committed entry's data-file inventory in its inventory
    sidecar. Parquet corruption that destroys a footer fails reads loudly,
    but a part file deleted AFTER commit leaves a directory that scans
    cleanly and serves FEWER rows as a valid hit; readers refuse an entry
    whose live listing disagrees with this record (miss -> recompute heals
    and re-records). Transactional formats skip it — their commit log is
    the inventory. Advisory like the committer record: on failure, readers
    simply skip the inventory check for this entry."""
    sidecar = layout.inventory_path(sidecars)
    try:
        location = layout.table_location(spark, hash_name)
        if layout.is_transactional(location):
            return
        fs.write_text(
            sidecar, fs.render_inventory(*fs.data_file_inventory(location))
        )
    except Exception as exc:
        log.warning(
            "Could not record data inventory at %s (%s); the corrupt-"
            "entry guard will not cover this entry", sidecar,
            exc_summary(exc),
        )


def _writer_marks_success(
    spark: SparkSession, sidecars: str
) -> bool:
    """Marker discipline governing an entry's cache directory: the
    recorded WRITER value when present, else this reader's own conf
    (entries written before the record existed)."""
    recorded = fs.read_text(layout.committer_path(sidecars))
    if recorded is not None:
        val = recorded.strip().lower().rsplit("=", 1)[-1]
        if val == "true":
            return True
        if val == "false":
            return False
    return _marks_success_jobs(spark)


def _read_cache_table(
    spark: SparkSession,
    hash_name: str,
    sidecar_dir: Optional[str] = None,
) -> Optional[DataFrame]:
    """Read a cache entry via the catalog, falling back to its files.

    The path fallback is what makes caches survive session restarts on
    catalogs without persistence (local in-memory catalog); on a shared
    metastore the catalog branch always wins.

    ``sidecar_dir``: the directory holding this entry's metadata/committer/
    inventory sidecars, when the caller resolved it (a custom ``cache_path``
    base relocates them); ``None`` probes the default SPARK_CACHE_DIR
    layout, which is also where ``create_cached_dataframe`` entries and the
    management scans live.
    """
    sidecars = sidecar_dir or layout.sidecar_dir(hash_name)
    table = table_name_for_hash(hash_name)
    # Corrupt-committed-data guard: an entry whose live data-file listing
    # disagrees with the writer-recorded inventory has lost (or grown) part
    # files AFTER commit — serving it would return partial rows as a valid
    # hit through EITHER branch (a parquet scan of a directory missing
    # files succeeds silently). Refuse and let the caller recompute; the
    # rewrite re-records a fresh inventory. One driver-side recursive
    # listing per hit, only for entries carrying a record; a failed
    # listing reads None, so the guard never turns a readable cache into
    # a crash.
    if layout.inventory_ok(spark, hash_name, sidecars) is False:
        log.warning(
            "Cache entry %s fails its data-file inventory (part files "
            "lost or altered after commit — partial restore / copy "
            "truncation?); treating as a miss", hash_name,
        )
        return None
    if _table_exists(spark, table):
        try:
            return spark.read.table(table)
        except Exception as exc:
            # e.g. a delta-written table read in a jar-less session: treat
            # as a miss / try the files rather than crash the safe wrapper.
            log.warning("Catalog read failed for %s (%s); trying files",
                        table, exc_summary(exc))
    location = layout.table_location(spark, hash_name)
    if fs.exists(location):
        # The files may have been written by the configured format OR by the
        # parquet degradation path of a previous session — try both. BUT a
        # transactional-format directory (_delta_log present) must never be
        # read as raw parquet: superseded file versions would surface as
        # duplicated/stale rows presented as a valid hit.
        is_transactional = layout.is_transactional(location)
        # Cross-process torn-write guard: the write is remove-then-rewrite,
        # and _lock_for_key only serializes THIS driver — another process
        # path-reading mid-rewrite would load a half-written directory.
        # Spark's job committer lands _SUCCESS last, so for
        # non-transactional formats its absence means "no committed write
        # here" — report a clean miss, never partial data. The check
        # applies only when the committer that WROTE this entry marks
        # success jobs (marksuccessfuljobs=false, common on S3A/magic-
        # committer platforms, never writes the marker; requiring it would
        # permanently disable the path fallback). Markerless-written entries
        # accept the narrower cross-process window (use a transactional
        # CACHE_FORMAT for full protection there).
        if (
            not is_transactional
            and _writer_marks_success(spark, sidecars)
            and not layout.has_success_marker(location)
        ):
            log.warning(
                "Cache location %s exists but has no _SUCCESS job-commit "
                "marker (concurrent rewrite in another process, or an "
                "uncommitted/foreign directory); treating as a miss",
                location,
            )
            return None
        formats = [_effective_cache_format() or "parquet"]
        if "parquet" not in formats and not is_transactional:
            formats.append("parquet")
        for fmt in formats:
            if fmt == "parquet" and is_transactional:
                continue
            try:
                return spark.read.format(fmt).load(location)
            except Exception as exc:
                log.warning("Path read (%s) failed for %s: %s", fmt, location,
                            exc_summary(exc))
    return None


def _materialize(
    df: DataFrame,
    key: str,
    sidecars: str,
    metadata_txt: str,
    partition_by: Optional[List[str]] = None,
    bucket_by: Optional[List[str]] = None,
    n_buckets: int = 16,
    bucket_sort_by: Optional[List[str]] = None,
) -> DataFrame:
    """The write protocol shared by ``write_cache`` and
    ``create_cached_dataframe``; the caller holds ``key``'s lock.

    1. Clear a stale data location: with Spark's in-memory catalog the
       table entry dies with the session while its files survive, and they
       would block ``saveAsTable``.
    2. Write the table.
    3. Write the committer sidecar, then the inventory sidecar.
    4. Write the metadata sidecar LAST: it is the entry's liveness signal,
       so a write that dies earlier leaves no sidecar and the next call
       retries it.

    Returns a catalog scan of the table just committed.
    """
    spark = df.sparkSession
    table = table_name_for_hash(key)
    if not _table_exists(spark, table):
        location = layout.table_location(spark, key)
        if fs.exists(location):
            fs.remove(location)
    _save_as_cache_table(
        df,
        table,
        partition_by=partition_by,
        bucket_by=bucket_by,
        n_buckets=n_buckets,
        bucket_sort_by=bucket_sort_by,
    )
    _record_writer_committer(spark, sidecars)
    _record_data_inventory(spark, key, sidecars)
    fs.write_text(layout.metadata_path(sidecars), metadata_txt)
    return spark.read.table(table)


def read_cache_if_exist(
    df: DataFrame,
    query_plan: Optional[str] = None,
    input_info: Optional[Mapping[str, Union[datetime, bool]]] = None,
    hash_name: Optional[str] = None,
    cache_path: Optional[str] = None,
) -> Optional[DataFrame]:
    """Return the materialized cache for ``df``'s fingerprint, or None.

    Hit requires BOTH the metadata sidecar and the catalog table to exist
    (reference: core_caching.py:409-471). ``hash_name``/``cache_path``
    must mirror whatever the write used — a custom-keyed cache
    (``cacheToStorage(hash_name=...)``) is invisible to a default-keyed
    probe, which previously sent every such call down the miss path
    (re-materializing or landing in the Spark-cache tier) even though
    the table existed.
    """
    spark = df.sparkSession
    plan = query_plan if query_plan is not None else canonical_plan(df)
    info = input_info if input_info is not None else input_dir_mod_datetime(df, plan)

    key, sidecars, metadata_path, metadata_txt = table_cache_info(
        info, plan, hash_name=hash_name, cache_path_base=cache_path
    )
    # The probe runs UNDER the key's write lock (r14 fresh-eyes review):
    # writers hold it across saveAsTable + sidecar write, and a custom-
    # keyed REWRITE ("metadata changed; rewriting") overwrites the table
    # location non-atomically — an unserialized probe could read the old
    # sidecar, find the catalog entry mid-overwrite, and fall to the PATH
    # read of a half-written directory: partial part-files served as a
    # valid hit (silent wrong data, the worst class). Eviction
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
        cached = _read_cache_table(spark, key, sidecar_dir=sidecars)
    if cached is None:
        log.warning("Cache metadata exists but table %s is missing", key)
    return cached


def write_cache(
    df: DataFrame,
    replace: bool = True,
    query_plan: str = "",
    input_info: Optional[Mapping[str, Union[datetime, bool]]] = None,
    hash_name: Optional[str] = None,
    cache_path: Optional[str] = None,
    partition_by: Optional[List[str]] = None,
    bucket_by: Optional[List[str]] = None,
    n_buckets: int = 16,
    bucket_sort_by: Optional[List[str]] = None,
    verbose: bool = False,
) -> DataFrame:
    """Materialize ``df`` under its content hash and return the cached scan.

    Skips the (expensive, distributed) write when the stored metadata is
    byte-identical — the cache is already current (reference:
    core_caching.py:100-102). ``partition_by`` partitions the materialized
    table (partition-pruned re-reads at scale) and ``bucket_by``/
    ``n_buckets``/``bucket_sort_by`` bucket it by a join key (shuffle-free
    joins between same-bucketed caches); layout options do not participate
    in the fingerprint — same result, same cache key, regardless of layout.
    """
    spark = df.sparkSession
    plan = query_plan or canonical_plan(df)
    info = input_info if input_info is not None else input_dir_mod_datetime(df, plan)

    key, sidecars, metadata_path, metadata_txt = table_cache_info(
        info, plan, hash_name=hash_name, cache_path_base=cache_path
    )
    if verbose:
        # the reference's verbose flag prints the resolved identity; here
        # it surfaces the key/table plus the metadata document driving it
        log.info(
            "write_cache: key=%s table=%s; metadata document:\n%s",
            key, table_name_for_hash(key), metadata_txt,
        )

    with _lock_for_key(key):
        # Probe INSIDE the lock: a racer that lost the lock re-reads the
        # winner's (identical, content-addressed) metadata and skips the
        # duplicate distributed write entirely.
        existing = fs.read_text(metadata_path)
        cached = (
            _read_cache_table(spark, key, sidecar_dir=sidecars)
            if existing == metadata_txt else None
        )
        if cached is not None:
            log.info("Cache %s already current; skipping write", key)
            if partition_by or bucket_by:
                # Layout is not part of the identity: an existing entry is
                # served as-written. Re-layout by clearing the entry first.
                log.info(
                    "Cache %s served with its existing layout; "
                    "partition_by/bucket_by apply only when the entry is "
                    "(re)written",
                    key,
                )
            _bump("write_skips")
        else:
            if existing is not None and existing != metadata_txt:
                log.info("Cache %s metadata changed; rewriting", key)
            cached = _materialize(
                df,
                key,
                sidecars,
                metadata_txt,
                partition_by=partition_by,
                bucket_by=bucket_by,
                n_buckets=n_buckets,
                bucket_sort_by=bucket_sort_by,
            )
            _bump("writes")
    return cached if replace else df


def _table_exists(spark: SparkSession, table: str) -> bool:
    try:
        return spark.catalog.tableExists(table)
    except Exception:
        return False


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
    if plan_is_uncacheable(plan):
        refusal = "RDD-backed plan"
    elif getattr(df, "_is_direct_data_cache", False):
        refusal = "direct-data cache source"
    else:
        scanned = pure_scan_entry(plan)
        refusal = None if scanned is None else f"pure scan of cache entry {scanned}"
    if refusal is not None:
        log.info("Not caching: %s", refusal)
        return Admission(plan, {}, refusal)

    info = input_dir_mod_datetime(df, plan)
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
    **kwargs: Any,
) -> DataFrame:
    """The flagship entry point (``df.cacheToStorage()``).

    Pipeline (reference: dataframe_extensions.py:29-133):
      admission (plan check -> cache probe -> cost gate) -> Spark-cache tier
      or materialized write. Returns either the original df (refused), the
      in-memory cached df, or a scan of the materialized table (hit/new
      write).
    """
    hash_name, cache_path = kwargs.get("hash_name"), kwargs.get("cache_path")

    def probe(plan: str, info: Mapping[str, Any]) -> Optional[DataFrame]:
        hit = read_cache_if_exist(
            df, query_plan=plan, input_info=info,
            hash_name=hash_name, cache_path=cache_path,
        )
        _bump("misses" if hit is None else "hits")
        return hit

    verdict = admit(df, complexity_threshold, multiplier_threshold, probe=probe)
    if verdict.hit is not None:
        log.info("Cache hit; replacing plan with table scan")
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
        partition_by=kwargs.get("partition_by"),
        bucket_by=kwargs.get("bucket_by"),
        n_buckets=kwargs.get("n_buckets", 16),
        bucket_sort_by=kwargs.get("bucket_sort_by"),
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

    Hashes the driver-local input; on a hit reads the existing ``data_*``
    table, on a miss creates + materializes it. The returned DataFrame is
    tagged so later fingerprinting short-circuits to the data hash.

    An explicit ``schema`` participates in the key (a deviation from the
    reference, which hashes only the data — core_caching.py:140): for
    list/tuple input the pandas conversion infers one dtype regardless of
    the declared schema, so ``schema='a INT'`` and ``schema='b BIGINT'``
    over the same rows would otherwise collide on one table and the
    second call would return the first call's column names and types.
    """
    data_hash = hash_input_data(data)
    if schema is not None:
        schema_repr = (
            schema.simpleString() if hasattr(schema, "simpleString") else str(schema)
        )
        data_hash = hashlib.md5(
            f"{data_hash};schema={schema_repr}".encode("utf-8")
        ).hexdigest()
    cache_hash_name = f"data_{data_hash}"
    sidecars = layout.sidecar_dir(cache_hash_name)

    with _lock_for_key(cache_hash_name):
        cached = _read_cache_table(spark, cache_hash_name)
        if cached is not None and fs.read_text(layout.metadata_path(sidecars)) is not None:
            log.info("Direct-data cache hit: %s", cache_hash_name)
        else:
            log.info("Direct-data cache miss; creating %s", cache_hash_name)
            source = spark.createDataFrame(data, schema=schema, **kwargs)
            # Deterministic document — NO wall-clock line: every racer on
            # this key must produce byte-identical content, because both
            # the per-key lock's re-probe and fs.write_text's lost-rename
            # recovery treat "target holds my exact bytes" as success
            # (creation time lives in the sidecar file's own mtime, which
            # is where the registry reads it from anyway).
            metadata_txt = (
                "CACHE TYPE: Direct Data Input\n"
                f"DATA HASH: {data_hash}\n"
                f"SCHEMA: {source.schema.simpleString()}"
            )
            cached = _materialize(source, cache_hash_name, sidecars, metadata_txt)

    setattr(cached, "_is_direct_data_cache", True)
    setattr(cached, "_direct_data_cache_hash", cache_hash_name)
    return cached
