"""Cache lifecycle: registry, age-based eviction, consistency repair.

Same surface as the reference (reference: dbfs_spark_cache/cache_management.py:
28-379) on top of the Spark catalog + the engine's FS layer. The catalog
registry is one listing plus one batched metadata fetch from the session
catalog, whatever the entry count; only a catalog the session-catalog API
cannot serve falls back to SHOW TABLES plus one DESCRIBE per entry. The
per-entry scans (DESCRIBE fallback, sidecar and warehouse listings) fan out
over a driver-side thread pool — metadata calls, so threads, not Spark jobs,
are the right tool even on a big cluster.
"""
from __future__ import annotations

import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta
from typing import List, Optional

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from . import fs, layout
from .config import config

log = logging.getLogger(__name__)

REGISTRY_COLUMNS = ["table_name", "hash_name", "directory_path", "creationTime"]


def empty_registry() -> pd.DataFrame:
    return pd.DataFrame(columns=REGISTRY_COLUMNS)


def _default_threads(num_threads: Optional[int]) -> int:
    return num_threads or (os.cpu_count() or 4) * 4


def _created_time_utc_naive(spark, db: str, name: str, rendered: str):
    """The table's creation time as a UTC-NAIVE pandas timestamp — the one
    convention every registry comparand uses (sidecar/warehouse mtimes via
    fs._utc_naive, the eviction cutoff too), so catalog rows stay mutually
    comparable on non-UTC driver hosts (ADVICE r9 #1).

    Primary source: the catalog's epoch-millis ``createTime`` via the JVM
    session catalog — zone-free by construction, no string parsing at all.

    Fallback (catalog API unavailable): parse DESCRIBE's rendered 'Created
    Time'. The rendering is local wall time in the driver JVM's DEFAULT
    zone, so (a) a tz-aware parse must tz_convert('UTC') BEFORE stripping
    — bare tz_localize(None) keeps the source wall time; and (b) a naive
    parse means pandas silently dropped an unrecognized zone abbreviation
    (e.g. 'PST'), leaving JVM-local wall time — localize it from the JVM's
    default zone id (full id, so DST resolves correctly), then convert.
    """
    try:
        jcat = spark._jsparkSession.sessionState().catalog()
        jid = spark._jvm.org.apache.spark.sql.catalyst.TableIdentifier(
            name, spark._jvm.scala.Some(db)
        )
        return pd.to_datetime(
            int(jcat.getTableMetadata(jid).createTime()), unit="ms"
        )
    except Exception:
        pass
    try:
        creation_time = pd.to_datetime(rendered)
        if getattr(creation_time, "tzinfo", None) is not None:
            return creation_time.tz_convert("UTC").tz_localize(None)
        zone = spark._jvm.java.util.TimeZone.getDefault().getID()
        return (
            creation_time.tz_localize(zone).tz_convert("UTC").tz_localize(None)
        )
    except Exception:
        return pd.NaT


def get_tables_from_database(
    spark: SparkSession, database: Optional[str] = None, num_threads: Optional[int] = None
) -> pd.DataFrame:
    """Registry frame of the live (non-temporary) tables in ``database``
    (default: the configured cache database).

    Read with one session-catalog listing and one batched metadata fetch,
    whatever the entry count (:func:`_catalog_rows`). When
    that read raises (a catalog the JVM session-catalog API does not
    serve), the frame comes from SHOW TABLES plus one DESCRIBE per entry
    (:func:`_described_rows`) instead; both give the same rows in the same
    order. ``num_threads`` sizes that fallback's DESCRIBE pool."""
    db = database or config.CACHE_DATABASE
    try:
        rows = _catalog_rows(spark, db)
    except Exception as exc:
        log.debug("Batched catalog read of %s failed (%s); using DESCRIBE",
                  db, exc.__class__.__name__)
        rows = _described_rows(spark, db, num_threads)
    if not rows:
        return empty_registry()
    return pd.DataFrame(rows, columns=REGISTRY_COLUMNS)


def _catalog_rows(spark: SparkSession, db: str) -> List[dict]:
    """Registry rows of ``db`` from the JVM session catalog: ``listTables``
    (the SHOW TABLES set without temp views), then ``getTablesByName`` for
    all of them at once. A table dropped between the two calls is skipped.
    Rows keep the listing's order, which the batched fetch of some
    catalogs does not preserve. The Scala sequences are read by index
    (as IndexedSeq, so each read is O(1)): iterating their py4j list views
    costs several round trips per item."""
    jcat = spark._jsparkSession.sessionState().catalog()
    uri_to_string = (
        spark._jvm.org.apache.spark.sql.catalyst.catalog.CatalogUtils.URIToString
    )
    idents = jcat.listTables(db, "*", False).toIndexedSeq()
    order = {idents.apply(i).table(): i for i in range(idents.length())}
    tables = jcat.getTablesByName(idents).toIndexedSeq()
    rows = []
    for i in range(tables.length()):
        table = tables.apply(i)
        name = table.identifier().table()
        try:
            # The string DESCRIBE prints as "Location"; the URI's own
            # toString() percent-encodes (a space reads %20).
            location = uri_to_string(table.location())
        except AnalysisException:  # a view has no location
            location = ""
        rows.append(
            {
                "table_name": f"{db}.{name}",
                "hash_name": name,
                "directory_path": location,
                "creationTime": pd.to_datetime(int(table.createTime()), unit="ms"),
            }
        )
    return sorted(rows, key=lambda row: order[row["hash_name"]])


def _described_rows(
    spark: SparkSession, db: str, num_threads: Optional[int]
) -> List[dict]:
    """Registry rows of ``db`` via SHOW TABLES plus one DESCRIBE TABLE
    EXTENDED per entry: the path for catalogs the session-catalog API does
    not serve. An entry whose DESCRIBE fails is skipped."""
    try:
        tables = spark.sql(f"SHOW TABLES IN {db}").filter("isTemporary = false")
        names = [row.tableName for row in tables.collect()]
    except Exception as exc:
        log.warning("Could not list tables in %s: %s", db, exc)
        return []

    def describe(name: str) -> Optional[dict]:
        try:
            detail = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.{name}").collect()
            props = {row.col_name: row.data_type for row in detail}
            location = props.get("Location", "")
            created = props.get("Created Time", "")
            creation_time = _created_time_utc_naive(spark, db, name, created)
            return {
                "table_name": f"{db}.{name}",
                "hash_name": name,
                "directory_path": location,
                "creationTime": creation_time,
            }
        except Exception as exc:
            log.warning("DESCRIBE failed for %s.%s: %s", db, name, exc)
            return None

    with ThreadPoolExecutor(max_workers=_default_threads(num_threads)) as pool:
        return [r for r in pool.map(describe, names) if r is not None]


def get_cached_tables(
    spark: SparkSession, num_threads: Optional[int] = None
) -> pd.DataFrame:
    """Catalog registry sorted by creation time (newest last), with a
    warehouse-directory listing fallback when the catalog has no entries
    (reference: cache_management.py:88-155 — e.g. a fresh session over a
    non-persistent catalog whose warehouse still holds cache tables)."""
    frame = get_tables_from_database(spark, num_threads=num_threads)
    if frame.empty:
        frame = _tables_from_warehouse_listing(spark)
    if frame.empty:
        return frame
    return frame.sort_values("creationTime").reset_index(drop=True)


def _tables_from_warehouse_listing(spark: SparkSession) -> pd.DataFrame:
    rows = []
    for entry in fs.list_dir(layout.database_dir(spark)):
        if not entry.is_dir:
            continue
        rows.append(
            {
                "table_name": layout.table_name_for_hash(entry.name),
                "hash_name": entry.name,
                "directory_path": entry.path,
                "creationTime": fs._utc_naive(entry.mtime_ms / 1000),
            }
        )
    if not rows:
        return empty_registry()
    return pd.DataFrame(rows, columns=REGISTRY_COLUMNS)


def get_cached_dataframe_metadata(num_threads: Optional[int] = None) -> pd.DataFrame:
    """Registry frame built from metadata sidecars under SPARK_CACHE_DIR."""
    base = config.SPARK_CACHE_DIR
    entries = [s for s in fs.list_dir(base) if s.is_dir]

    def inspect(entry: fs.FileStat) -> Optional[dict]:
        stats = [
            s for s in fs.list_dir(entry.path) if s.name == layout.METADATA_FILE
        ]
        if not stats:
            return None
        return {
            "table_name": layout.table_name_for_hash(entry.name),
            "hash_name": entry.name,
            "directory_path": layout.metadata_path(entry.path),
            "creationTime": fs._utc_naive(stats[0].mtime_ms / 1000),
        }

    with ThreadPoolExecutor(max_workers=_default_threads(num_threads)) as pool:
        rows = [r for r in pool.map(inspect, entries) if r is not None]
    if not rows:
        return empty_registry()
    return (
        pd.DataFrame(rows, columns=REGISTRY_COLUMNS)
        .sort_values("creationTime")
        .reset_index(drop=True)
    )


def clear_cache_for_hash(
    spark: SparkSession, hash_name: str, database: Optional[str] = None
) -> bool:
    """Drop the cache table and remove its metadata directory. Returns
    True when the entry was actually evicted, False when the DROP failed
    with the entry possibly still live (sweep skipped for a later retry)
    — callers aggregating eviction results must not report a False as
    evicted.

    ``database`` scopes the DROP; the metadata sidecar is removed only
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
    db = database or config.CACHE_DATABASE
    table = f"{db}.{hash_name}"
    dropped = False
    try:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        dropped = True
    except Exception as exc:
        log.warning("DROP TABLE %s failed: %s", table, exc)
        # A transient metastore error must NOT cascade into deleting the
        # data files out from under a still-registered catalog entry
        # (ADVICE r7 #3): sweep below only if the table verifiably does
        # not exist. An unanswerable catalog stays conservative (skip).
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
        # A metadata-only orphan has no catalog entry, so the DROP above
        # was a no-op and the table FILES survive in the warehouse —
        # invisible to both registries and all future accounting. Sweep
        # the data directory too (no-op when the managed DROP already
        # removed it).
        fs.remove(layout.table_location(spark, hash_name))
    return True


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
    if registry.empty:
        return []
    # UTC-naive, matching every registry creationTime (catalog times are
    # tz-stripped UTC, sidecar/warehouse mtimes render via fs._utc_naive):
    # a local-naive now() on a non-UTC driver skewed the age cutoff by the
    # UTC offset (up to 14h on a 7-day policy) and only against the
    # CATALOG-sourced registry — the two sources disagreed about "old".
    cutoff = fs._utc_naive(time.time()) - timedelta(days=num_days)
    stale = registry[registry["creationTime"] < cutoff]
    hashes = list(stale["hash_name"])
    if not confirm_delete:
        log.info("Dry run: would evict %d entries", len(hashes))
        return hashes
    with ThreadPoolExecutor(max_workers=_default_threads(num_threads)) as pool:
        results = list(
            pool.map(
                lambda h: clear_cache_for_hash(
                    spark, h, database=specific_database
                ),
                hashes,
            )
        )
    # Only what was ACTUALLY evicted: a DROP-failure skip (entry left
    # live for a later retry) must not be reported as freed.
    evicted = [h for h, ok in zip(hashes, results) if ok]
    skipped = len(hashes) - len(evicted)
    if skipped:
        log.warning("%d entries skipped (DROP failed, still live)", skipped)
    return evicted


def clear_inconsistent_cache(
    spark: SparkSession,
    num_threads: Optional[int] = None,
    min_overlap: float = 0.5,
    force: bool = False,
) -> List[str]:
    """Remove half-present entries: metadata without a table, or a table
    without metadata (reference: cache_management.py:229-288).

    Safety rails (bypass with ``force=True`` after manual inspection):

    * one registry completely empty while the other is not — far more likely
      a visibility problem (fresh non-persistent catalog, mispointed
      SPARK_CACHE_DIR) than N simultaneously-orphaned entries;
    * both registries non-empty but overlapping on fewer than
      ``min_overlap`` of their entries — e.g. SPARK_CACHE_DIR repointed
      while the warehouse still holds valid tables; "repairing" would delete
      every valid entry on both sides.
    """
    meta = get_cached_dataframe_metadata(num_threads=num_threads)
    # Include the warehouse-listing fallback so an empty catalog doesn't
    # masquerade as "no tables".
    tables = get_cached_tables(spark, num_threads=num_threads)
    orphans, refusal = _repair_candidates(meta, tables, min_overlap, force)
    if refusal:
        log.warning("clear_inconsistent_cache: %s", refusal)
        return []
    with ThreadPoolExecutor(max_workers=_default_threads(num_threads)) as pool:
        results = list(pool.map(lambda h: clear_cache_for_hash(spark, h), orphans))
    return [h for h, ok in zip(orphans, results) if ok]


def _repair_candidates(
    meta: pd.DataFrame,
    tables: pd.DataFrame,
    min_overlap: float,
    force: bool,
):
    """(orphans, refusal_reason) with the safety rails applied — ONE
    decision shared by the real repair and the --dry-run preview, so the
    preview can never report a mass-delete the actual run would refuse
    (previewing "would repair 500 entries" in a refused state both
    misrepresents the run and nudges an operator straight to --force)."""
    if not force and meta.empty != tables.empty:
        return [], (
            f"one registry is empty (metadata={len(meta)}, "
            f"tables={len(tables)}) — refusing to mass-delete; check "
            "catalog/cache-dir visibility (or pass force=True)"
        )
    if not force and not meta.empty and not tables.empty:
        overlap = len(
            set(meta["hash_name"]).intersection(tables["hash_name"])
        ) / max(len(meta), len(tables))
        if overlap < min_overlap:
            return [], (
                f"registries overlap on only {overlap:.0%} of entries "
                f"(metadata={len(meta)}, tables={len(tables)}) — looks "
                "like a diverged cache dir/warehouse, refusing to "
                "mass-delete (or pass force=True)"
            )
    return _orphan_entries(meta, tables), None


def _orphan_entries(meta: pd.DataFrame, tables: pd.DataFrame) -> List[str]:
    """Entries present in exactly one registry (metadata xor catalog)."""
    merged = pd.merge(
        meta[["hash_name"]],
        tables[["hash_name"]],
        on="hash_name",
        how="outer",
        indicator=True,
    )
    return list(merged[merged["_merge"] != "both"]["hash_name"])


def find_inconsistent_entries(
    spark: SparkSession,
    num_threads: Optional[int] = None,
    min_overlap: float = 0.5,
    force: bool = False,
) -> List[str]:
    """Read-only detection half of :func:`clear_inconsistent_cache`: the
    half-present entries a repair run WOULD delete, without deleting
    anything — what ``--dry-run --repair-inconsistent`` previews. Applies
    the SAME safety rails as the real repair (refused states preview as
    empty, with the refusal logged), so preview and run always agree."""
    meta = get_cached_dataframe_metadata(num_threads=num_threads)
    tables = get_cached_tables(spark, num_threads=num_threads)
    orphans, refusal = _repair_candidates(meta, tables, min_overlap, force)
    if refusal:
        log.warning("find_inconsistent_entries: %s", refusal)
        return []
    return orphans


def _entry_inventory_ok(
    spark: SparkSession, hash_name: str, sidecar_dir: Optional[str] = None
) -> Optional[bool]:
    """``layout.inventory_ok`` for the operator scans: False = part files
    lost or altered after commit (the read path refuses such an entry; the
    scans surface it). A missing table directory is the orphan scan's
    finding, not a corruption finding, and reads None like a failed
    listing. ``sidecar_dir``: the entry's sidecar directory when written
    under a custom ``cache_path``; None = the default SPARK_CACHE_DIR
    layout."""
    try:
        return layout.inventory_ok(spark, hash_name, sidecar_dir)
    except Exception as exc:
        log.warning("Inventory scan failed for %s (%s)", hash_name,
                    exc.__class__.__name__)
        return None


def _custom_base_entries(base: str) -> List[tuple]:
    """(hash_name, sidecar_dir) pairs for cache entries under a custom
    ``cache_path`` base — the same sidecar layout (``layout.sidecar_dir``)
    every base uses, default or not: a directory holding a metadata file.
    A missing/empty base yields no pairs (``fs.list_dir`` ENOENT
    contract)."""
    pairs = []
    for entry in fs.list_dir(base):
        if not entry.is_dir:
            continue
        side = entry.path.rstrip("/")
        if fs.exists(layout.metadata_path(side)):
            pairs.append((entry.name, side))
    return pairs


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
    ``extra_bases`` to include them (ADVICE r17 #3; the CLI exposes this
    as repeatable ``--scan-corrupt-base``)."""
    meta = get_cached_dataframe_metadata(num_threads=num_threads)
    pairs: List[tuple] = (
        [(h, None) for h in meta["hash_name"]] if not meta.empty else []
    )
    for base in extra_bases or []:
        pairs.extend(_custom_base_entries(base))
    if not pairs:
        return []
    with ThreadPoolExecutor(max_workers=_default_threads(num_threads)) as pool:
        flags = list(
            pool.map(
                lambda p: _entry_inventory_ok(spark, p[0], sidecar_dir=p[1]),
                pairs,
            )
        )
    return sorted({h for (h, _), ok in zip(pairs, flags) if ok is False})


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
    (catalog tables and metadata sidecars), their consistency overlap, and
    the storage footprint — the numbers an operator wants before deciding
    whether to run eviction (`clear_caches_older_than`) or repair
    (`clear_inconsistent_cache`). Read-only; safe on a live cache.

    Sizes recurse into each entry's directory tree (partitioned/bucketed
    cache tables nest their files), and cover the UNION of both registries
    — a catalog-only orphan's storage still counts, and the orphans are
    named, so the footprint stays honest in exactly the diverged-registry
    situations these stats diagnose. Parallelized like every other
    registry scan here.
    """
    meta = get_cached_dataframe_metadata(num_threads=num_threads)
    tables = get_cached_tables(spark, num_threads=num_threads)
    meta_hashes = set(meta["hash_name"]) if not meta.empty else set()
    table_hashes = set(tables["hash_name"]) if not tables.empty else set()
    all_hashes = meta_hashes | table_hashes

    with ThreadPoolExecutor(max_workers=_default_threads(num_threads)) as pool:
        sizes = dict(
            zip(all_hashes, pool.map(lambda h: _entry_bytes(spark, h), all_hashes))
        )
        meta_list = sorted(meta_hashes)
        inventory = dict(
            zip(
                meta_list,
                pool.map(lambda h: _entry_inventory_ok(spark, h), meta_list),
            )
        )

    times = list(meta["creationTime"]) if not meta.empty else []
    return {
        "n_metadata_entries": len(meta_hashes),
        "n_catalog_tables": len(table_hashes),
        "n_consistent": len(meta_hashes & table_hashes),
        "n_orphans": len(meta_hashes ^ table_hashes),
        "orphans_metadata_only": sorted(meta_hashes - table_hashes),
        "orphans_catalog_only": sorted(table_hashes - meta_hashes),
        # Entries whose live data files no longer match the write-time
        # inventory — the read path refuses these as misses; listed here
        # so the operator sees WHY a "cached" query keeps recomputing.
        "corrupt_entries": sorted(
            h for h, ok in inventory.items() if ok is False
        ),
        "total_cache_bytes": sum(sizes.values()),
        "largest_entry_bytes": max(sizes.values(), default=0),
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

    The candidate set is the UNION of both registries: a catalog-only
    orphan (table with no sidecar — a crash between table write and
    sidecar write, or a wiped SPARK_CACHE_DIR) still occupies billed
    bytes, so it must count toward the footprint and be evictable.
    Orphans with no readable creation time sort FIRST (evicted before any
    dated entry): an undated orphan is a repair candidate, not a cache
    hit anyone will get.

    Returns evicted (or, with ``confirm_delete=False``, would-evict)
    hashes, oldest first.
    """
    meta = get_cached_dataframe_metadata(num_threads=num_threads)
    tables = get_cached_tables(spark, num_threads=num_threads)
    frames = [f for f in (meta, tables) if not f.empty]
    if not frames:
        return []
    registry = (
        pd.concat(frames, ignore_index=True)
        .drop_duplicates("hash_name", keep="first")  # sidecar date wins
        .sort_values("creationTime", na_position="first")
        .reset_index(drop=True)
    )

    hashes = list(registry["hash_name"])  # oldest first (sorted by creation)
    with ThreadPoolExecutor(max_workers=_default_threads(num_threads)) as pool:
        sizes = dict(
            zip(hashes, pool.map(lambda h: _entry_bytes(spark, h), hashes))
        )

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
    with ThreadPoolExecutor(max_workers=_default_threads(num_threads)) as pool:
        results = list(pool.map(lambda h: clear_cache_for_hash(spark, h), to_evict))
    return [h for h, ok in zip(to_evict, results) if ok]
