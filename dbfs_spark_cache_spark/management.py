"""Cache lifecycle: registry, age-based eviction, consistency repair.

Same surface as the reference (reference: dbfs_spark_cache/cache_management.py:
28-379) on top of the engine's FS layer. An entry has two halves, and each
half has one registry: its sidecars (one walk over a sidecar base,
:func:`_sidecar_entries`) and its data directory (one listing of the cache
database's directory, :func:`get_tables_from_database`), the half a read
needs. The reference reads the metastore for the table side; here the
catalog is Spark's in-memory one, which knows only the current session's
writes, so nothing here reads it to decide about an entry. Scans that
join the two registries read them in one place (:func:`_registries`), and
every eviction goes through :func:`_evict`, which reports only what was
actually evicted. Per-entry work (directory times, sidecar listings,
sizes, inventories, evictions) fans out over a driver-side thread pool
(:func:`_pmap`) — metadata calls, so threads, not Spark jobs, are the
right tool even on a big cluster.
"""
from __future__ import annotations

import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta
from typing import Callable, Iterable, List, Optional

import pandas as pd
from pyspark.sql import SparkSession

from . import fs, layout
from .config import config

log = logging.getLogger(__name__)

REGISTRY_COLUMNS = ["table_name", "hash_name", "directory_path", "creationTime"]


def empty_registry() -> pd.DataFrame:
    return pd.DataFrame(columns=REGISTRY_COLUMNS)


def _pmap(fn: Callable, items: Iterable, num_threads: Optional[int]) -> list:
    """``list(map(fn, items))`` on a driver-side thread pool of
    ``num_threads`` workers (default: 4 per CPU)."""
    with ThreadPoolExecutor(max_workers=num_threads or (os.cpu_count() or 4) * 4) as pool:
        return list(pool.map(fn, items))


def get_tables_from_database(
    spark: SparkSession, database: Optional[str] = None, num_threads: Optional[int] = None
) -> pd.DataFrame:
    """Registry frame of the data directories of ``database`` (default: the
    configured cache database), one row per non-hidden directory under
    ``layout.database_dir``: the directory every read of an entry scans.

    The listing, not the catalog, is the registry: Spark's in-memory
    catalog holds only the tables the current session wrote, while an
    entry written by any session is read from its directory. A name
    starting with ``_`` or ``.`` is a writer's scratch, never an entry.
    ``creationTime`` is the newest modification time inside the directory
    (:func:`fs.max_mtime`), read on a pool of ``num_threads``: object
    stores report a directory's own mtime as 0, which would age out every
    entry at once. A directory gone before its time is read (a concurrent
    eviction) is no longer an entry and gets no row."""
    db = (database or config.CACHE_DATABASE).lower()
    dirs = sorted(
        (
            stat
            for stat in fs.list_dir(layout.database_dir(spark, db))
            if stat.is_dir and not stat.name.startswith(("_", "."))
        ),
        key=lambda stat: stat.name,
    )
    if not dirs:
        return empty_registry()
    times = _pmap(lambda stat: fs.max_mtime(stat.path), dirs, num_threads)
    return pd.DataFrame(
        [
            {
                "table_name": f"{db}.{stat.name}",
                "hash_name": stat.name,
                "directory_path": stat.path,
                "creationTime": created,
            }
            for stat, created in zip(dirs, times)
            if created is not None
        ],
        columns=REGISTRY_COLUMNS,
    )


def get_cached_tables(
    spark: SparkSession, num_threads: Optional[int] = None
) -> pd.DataFrame:
    """The configured cache database's data directories sorted by
    creation time (newest last)."""
    frame = get_tables_from_database(spark, num_threads=num_threads)
    return frame.sort_values("creationTime").reset_index(drop=True)


def _sidecar_entries(base: str, num_threads: Optional[int] = None) -> List[tuple]:
    """(hash_name, sidecar_dir, metadata FileStat) of each cache entry under
    a sidecar base — the layout every base uses, default or custom
    ``cache_path`` (``layout.sidecar_dir``): a directory holding a metadata
    file. One listing of the base, then one listing per directory, in
    parallel. A missing/empty base, or a directory gone before its listing
    (a concurrent eviction), yields nothing (``fs.list_dir`` ENOENT
    contract)."""

    def inspect(entry: fs.FileStat) -> Optional[tuple]:
        for stat in fs.list_dir(entry.path):
            if stat.name == layout.METADATA_FILE:
                return entry.name, entry.path.rstrip("/"), stat
        return None

    dirs = [s for s in fs.list_dir(base) if s.is_dir]
    return [e for e in _pmap(inspect, dirs, num_threads) if e is not None]


def get_cached_dataframe_metadata(num_threads: Optional[int] = None) -> pd.DataFrame:
    """Registry frame built from metadata sidecars under SPARK_CACHE_DIR."""
    rows = [
        {
            "table_name": layout.table_name_for_hash(hash_name),
            "hash_name": hash_name,
            "directory_path": layout.metadata_path(sidecars),
            "creationTime": fs._utc_naive(stat.mtime_ms / 1000),
        }
        for hash_name, sidecars, stat in _sidecar_entries(
            config.SPARK_CACHE_DIR, num_threads
        )
    ]
    if not rows:
        return empty_registry()
    return (
        pd.DataFrame(rows, columns=REGISTRY_COLUMNS)
        .sort_values("creationTime")
        .reset_index(drop=True)
    )


def _registries(spark: SparkSession, num_threads: Optional[int]) -> tuple:
    """(sidecar registry, data-directory registry, sidecar hashes, data
    hashes): what every scan joining the two registries reads."""
    meta = get_cached_dataframe_metadata(num_threads=num_threads)
    tables = get_cached_tables(spark, num_threads=num_threads)
    return meta, tables, set(meta["hash_name"]), set(tables["hash_name"])


def clear_cache_for_hash(
    spark: SparkSession, hash_name: str, database: Optional[str] = None
) -> bool:
    """Drop the cache table and remove its data and metadata directories.
    Returns True when the entry was actually evicted, False when the DROP
    failed with the entry possibly still live (sweep skipped for a later
    retry) — callers aggregating eviction results must not report a False
    as evicted.

    ``database`` scopes the DROP and the data directory, so an entry the
    scoped listing shows is the entry removed; the metadata sidecar is removed only
    when clearing the CONFIGURED database, because sidecars live in the
    single ``SPARK_CACHE_DIR`` namespace and the cache key excludes the
    database name — an equivalent query cached in two databases shares
    the hash, so a scoped eviction deleting the shared sidecar would
    orphan the other database's (still live) entry. Deviation from the
    reference, which restores ``config.CACHE_DATABASE`` before deleting
    and therefore drops scoped evictions from the DEFAULT database
    (reference: cache_management.py:163-173 lists the scoped database but
    290-311 deletes via the restored config)."""
    if not hash_name:
        return False
    # Serialize against an in-process write_cache/create_cached_dataframe
    # on the SAME key (they hold this lock across table write + sidecar
    # write): an unserialized eviction could interleave drop/remove with
    # the writer's saveAsTable/write_text and leave a half-pair — e.g.
    # sidecar removed after the writer's in-lock probe passed, so the
    # writer skips the write it now needs, and the "hit" scan has no
    # table behind it. Same Spark driver only; cross-process evictions
    # race exactly like the reference's.
    from .core import _lock_for_key

    with _lock_for_key(hash_name):
        return _clear_cache_for_hash_locked(spark, hash_name, database)


def _clear_cache_for_hash_locked(
    spark: SparkSession, hash_name: str, database: Optional[str] = None
) -> bool:
    db = (database or config.CACHE_DATABASE).lower()
    table = f"{db}.{hash_name}"
    dropped = False
    try:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        dropped = True
    except Exception as exc:
        log.warning("DROP TABLE %s failed: %s", table, exc)
        # A transient metastore error must NOT cascade into deleting the
        # data files out from under a still-registered table: sweep below
        # only if the table verifiably does not exist. An unanswerable
        # catalog stays conservative (skip).
        try:
            dropped = not spark.catalog.tableExists(table)
        except Exception:
            dropped = False
    if not dropped:
        # Leave sidecar AND warehouse files intact: the entry is still
        # live in the catalog, and removing the sidecar would hide it
        # from every future eviction scan — a permanent leak instead of
        # a retry on the next sweep.
        log.warning(
            "skipping sidecar+warehouse sweep for %s: DROP failed and "
            "the catalog entry may still be live", table
        )
        return False
    if db == config.CACHE_DATABASE:
        fs.remove(layout.sidecar_dir(hash_name))
    # The DROP is a no-op for an entry another session wrote (this
    # session's catalog never held its table), so the data directory is
    # removed here; a no-op when the managed DROP already removed it.
    fs.remove(layout.table_location(spark, hash_name, db))
    return True


def _evict(
    spark: SparkSession,
    hashes: List[str],
    num_threads: Optional[int],
    database: Optional[str] = None,
) -> List[str]:
    """Evict ``hashes`` in parallel and return, in order, only those
    :func:`clear_cache_for_hash` reports as evicted: a DROP-failure skip
    (entry left live for a later retry) must not be reported as freed."""
    results = _pmap(
        lambda h: clear_cache_for_hash(spark, h, database=database),
        hashes,
        num_threads,
    )
    evicted = [h for h, ok in zip(hashes, results) if ok]
    if len(evicted) < len(hashes):
        log.warning("%d entries skipped (DROP failed, still live)",
                    len(hashes) - len(evicted))
    return evicted


def clear_caches_older_than(
    spark: SparkSession,
    num_days: int = 7,
    num_threads: Optional[int] = None,
    specific_database: Optional[str] = None,
    confirm_delete: bool = True,
) -> List[str]:
    """Evict cache entries older than ``num_days``; returns evicted hashes.

    ``specific_database`` scopes eviction to one cache database (reference:
    cache_management.py:157-227); the default uses the configured one.
    """
    if specific_database is not None:
        registry = get_tables_from_database(
            spark, database=specific_database, num_threads=num_threads
        )
    else:
        registry = get_cached_dataframe_metadata(num_threads=num_threads)
    # UTC-naive, matching every registry creationTime (sidecar and data
    # directory mtimes render via fs._utc_naive): a local-naive now() on a
    # non-UTC driver would skew the age cutoff by the UTC offset (up to 14h
    # on a 7-day policy).
    cutoff = fs._utc_naive(time.time()) - timedelta(days=num_days)
    hashes = list(registry.loc[registry["creationTime"] < cutoff, "hash_name"])
    if not confirm_delete:
        log.info("Dry run: would evict %d entries", len(hashes))
        return hashes
    return _evict(spark, hashes, num_threads, database=specific_database)


def clear_inconsistent_cache(
    spark: SparkSession,
    num_threads: Optional[int] = None,
    min_overlap: float = 0.5,
    force: bool = False,
) -> List[str]:
    """Remove half-present entries: metadata without a data directory, or
    a data directory without metadata (reference:
    cache_management.py:229-288). Evicts
    exactly what :func:`find_inconsistent_entries` returns, so a preview
    and a run agree by construction; returns the evicted hashes.

    Safety rails (bypass with ``force=True`` after manual inspection):

    * one registry completely empty while the other is not — far more likely
      a visibility problem (mispointed warehouse or SPARK_CACHE_DIR) than N
      simultaneously-orphaned entries;
    * both registries non-empty but overlapping on fewer than
      ``min_overlap`` of their entries — e.g. SPARK_CACHE_DIR repointed
      while the warehouse still holds valid tables; "repairing" would delete
      every valid entry on both sides.
    """
    orphans = find_inconsistent_entries(
        spark, num_threads=num_threads, min_overlap=min_overlap, force=force
    )
    return _evict(spark, orphans, num_threads)


def find_inconsistent_entries(
    spark: SparkSession,
    num_threads: Optional[int] = None,
    min_overlap: float = 0.5,
    force: bool = False,
) -> List[str]:
    """Read-only detection half of :func:`clear_inconsistent_cache`: the
    half-present entries (in exactly one registry) a repair run WOULD
    delete, sorted, without deleting anything — what ``--dry-run
    --repair-inconsistent`` previews. A state the safety rails refuse
    previews as empty, with the refusal logged: previewing "would repair
    500 entries" in a refused state would both misrepresent the run and
    nudge an operator straight to --force."""
    _, _, in_meta, in_tables = _registries(spark, num_threads)
    counts = f"metadata={len(in_meta)}, tables={len(in_tables)}"
    refusal = None
    if not force and bool(in_meta) != bool(in_tables):
        refusal = (
            f"one registry is empty ({counts}) — refusing to mass-delete; "
            "check warehouse/cache-dir visibility (or pass force=True)"
        )
    elif not force and in_meta:
        overlap = len(in_meta & in_tables) / max(len(in_meta), len(in_tables))
        if overlap < min_overlap:
            refusal = (
                f"registries overlap on only {overlap:.0%} of entries "
                f"({counts}) — looks like a diverged cache dir/warehouse, "
                "refusing to mass-delete (or pass force=True)"
            )
    if refusal:
        log.warning("inconsistent-cache repair refused: %s", refusal)
        return []
    return sorted(in_meta ^ in_tables)


def find_corrupt_entries(
    spark: SparkSession,
    num_threads: Optional[int] = None,
    extra_bases: Optional[List[str]] = None,
) -> List[str]:
    """Entries whose committed data files no longer match the inventory
    recorded at write time (partial restore, copy-tool truncation, bit
    rot). Read-only; the read path already refuses these as misses, so
    the operator action is simply to clear them (``clear_cache_for_hash``)
    or let the next use rewrite them in place.

    The default scan walks the SPARK_CACHE_DIR registry. Entries written
    with a custom ``cache_path`` keep their sidecars under that base, so
    they are invisible to the registry walk — pass each such base via
    ``extra_bases`` to include them (the CLI exposes this as repeatable
    ``--scan-corrupt-base``)."""
    entries = [
        entry
        for base in [config.SPARK_CACHE_DIR, *(extra_bases or [])]
        for entry in _sidecar_entries(base, num_threads)
    ]
    flags = _pmap(
        lambda e: layout.inventory_ok(spark, e[0], e[1]), entries, num_threads
    )
    return sorted({e[0] for e, ok in zip(entries, flags) if ok is False})


def _entry_bytes(spark: SparkSession, hash_name: str) -> int:
    """Full on-disk footprint of one cache entry: the warehouse table
    directory (the data — partitioned/bucketed tables nest, hence the
    recursive tree size) PLUS the metadata sidecar directory. Either half
    may be absent (orphans); tree_size of a missing path is 0."""
    return fs.tree_size(layout.table_location(spark, hash_name)) + fs.tree_size(
        layout.sidecar_dir(hash_name)
    )


def cache_stats(
    spark: SparkSession, num_threads: Optional[int] = None
) -> dict:
    """One-call cache health summary: entry counts from both registries
    (data directories, reported as ``n_catalog_tables``, and metadata
    sidecars), their consistency overlap, and
    the storage footprint — the numbers an operator wants before deciding
    whether to run eviction (`clear_caches_older_than`) or repair
    (`clear_inconsistent_cache`). Read-only; safe on a live cache.

    Sizes recurse into each entry's directory tree (partitioned/bucketed
    cache tables nest their files), and cover the UNION of both registries
    — a data-only orphan's storage still counts, and the orphans are
    named, so the footprint stays honest in exactly the diverged-registry
    situations these stats diagnose. Parallelized like every other
    registry scan here.
    """
    meta, _, in_meta, in_tables = _registries(spark, num_threads)
    sizes = _pmap(lambda h: _entry_bytes(spark, h), in_meta | in_tables, num_threads)
    checked = sorted(in_meta)
    flags = _pmap(lambda h: layout.inventory_ok(spark, h), checked, num_threads)
    times = list(meta["creationTime"])
    return {
        "n_metadata_entries": len(in_meta),
        "n_catalog_tables": len(in_tables),
        "n_consistent": len(in_meta & in_tables),
        "n_orphans": len(in_meta ^ in_tables),
        "orphans_metadata_only": sorted(in_meta - in_tables),
        "orphans_catalog_only": sorted(in_tables - in_meta),
        # Entries whose live data files no longer match the write-time
        # inventory — the read path refuses these as misses; listed here
        # so the operator sees WHY a "cached" query keeps recomputing.
        "corrupt_entries": [h for h, ok in zip(checked, flags) if ok is False],
        "total_cache_bytes": sum(sizes),
        "largest_entry_bytes": max(sizes, default=0),
        "oldest_entry": min(times, default=None),
        "newest_entry": max(times, default=None),
    }


def evict_to_size_budget(
    spark: SparkSession,
    max_bytes: int,
    num_threads: Optional[int] = None,
    confirm_delete: bool = True,
) -> List[str]:
    """Evict oldest-first until the cache footprint fits ``max_bytes``.

    The age-based policy (:func:`clear_caches_older_than`) bounds staleness
    but not cost; a shared cache prefix on an object store is billed and
    quota'd by BYTES. This walks the registry oldest-first (the same
    LRU-by-creation ordering the registry frame already carries), summing
    per-entry materialized table sizes, and evicts entries until the
    remainder fits the budget. Sizes come from the warehouse tree — one
    recursive listing per entry, driver-side metadata only [NS: the
    reference has no size-based policy].

    The candidate set is the UNION of both registries: a data-only
    orphan (data directory with no sidecar — a crash between table write and
    sidecar write, or a wiped SPARK_CACHE_DIR) still occupies billed
    bytes, so it must count toward the footprint and be evictable.
    Orphans with no readable creation time sort FIRST (evicted before any
    dated entry): an undated orphan is a repair candidate, not a cache
    hit anyone will get.

    Returns evicted (or, with ``confirm_delete=False``, would-evict)
    hashes, oldest first.
    """
    meta, tables, in_meta, _ = _registries(spark, num_threads)
    catalog_only = tables[~tables["hash_name"].isin(in_meta)]
    # The sidecar's date wins for an entry in both registries.
    created = list(zip(meta["hash_name"], meta["creationTime"])) + list(
        zip(catalog_only["hash_name"], catalog_only["creationTime"])
    )
    hashes = list(  # oldest first
        pd.DataFrame(created, columns=["hash_name", "creationTime"])
        .sort_values("creationTime", na_position="first")["hash_name"]
    )
    sizes = dict(zip(hashes, _pmap(lambda h: _entry_bytes(spark, h), hashes, num_threads)))

    total = sum(sizes.values())
    to_evict: List[str] = []
    for h in hashes:
        if total <= max_bytes:
            break
        to_evict.append(h)
        total -= sizes[h]

    if not confirm_delete:
        log.info(
            "Dry run: would evict %d entries (%d bytes) to fit %d",
            len(to_evict), sum(sizes[h] for h in to_evict), max_bytes,
        )
        return to_evict
    return _evict(spark, to_evict, num_threads)
