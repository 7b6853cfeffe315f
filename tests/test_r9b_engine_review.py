"""Round-9 second engine-review batch: eviction-time zone consistency
and the evict-vs-write per-key serialization.

Findings (management.py), both in the class the r9 UTC work addressed
elsewhere (fs.max_mtime, fingerprint sentinels):

1. Registry creation times mixed bases — catalog times are tz-stripped
   UTC while warehouse/sidecar mtimes rendered LOCAL-naive and the age
   cutoff used local ``datetime.now()``. On a non-UTC driver the age
   policy skewed by the UTC offset (up to 14h on the catalog-sourced
   registry) and the size-budget LRU ordering interleaved the two
   sources wrongly. Everything now renders through ``fs._utc_naive``.
2. ``clear_cache_for_hash`` did not take the per-key lock that
   ``write_cache``/``create_cached_dataframe`` hold across their
   table-write + sidecar-write critical section, so an in-process
   eviction could interleave and leave a half-pair (sidecar removed
   after the writer's in-lock probe passed -> writer skips the write it
   now needs).

Plus one crash-redelivery edge in streaming's quality-gated sink: a
clean (zero-quarantine) redelivery never cleared a stale partial
``_quarantine/batch_id=N`` left by a crashed prior attempt, so
``read_quarantine`` served those partial rows as committed quarantine
once the marker landed.
"""
from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _tz:
    """Temporarily switch the process timezone (restored to the
    conftest-pinned UTC on exit)."""

    def __init__(self, zone: str):
        self.zone = zone

    def __enter__(self):
        os.environ["TZ"] = self.zone
        time.tzset()

    def __exit__(self, *exc):
        os.environ["TZ"] = "UTC"
        time.tzset()


def test_sidecar_registry_times_are_utc_naive(tmp_path, monkeypatch):
    """The sidecar registry's creationTime must render the file mtime as
    UTC-naive regardless of the driver host's zone — a local rendering
    made the same cache dir report different ages from drivers in
    different zones (and disagree with the tz-stripped-UTC catalog
    times it is concatenated with in evict_to_size_budget)."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import get_cached_dataframe_metadata

    entry = tmp_path / "cache" / "abc123"
    entry.mkdir(parents=True)
    meta = entry / "cache_metadata.txt"
    meta.write_text("CACHE TYPE: test")
    epoch = 1_700_000_000  # fixed, zone-free reference point
    os.utime(meta, (epoch, epoch))

    monkeypatch.setattr(config, "SPARK_CACHE_DIR", f"{tmp_path}/cache/")
    with _tz("Etc/GMT-14"):  # UTC+14 — the maximal real-world offset
        frame = get_cached_dataframe_metadata(num_threads=2)
    assert len(frame) == 1
    assert frame["creationTime"][0].to_pydatetime() == fs._utc_naive(epoch)


def test_warehouse_listing_times_are_utc_naive(tmp_path, monkeypatch):
    """Same contract for the data-directory registry, which lists the
    cache database's directory in the warehouse."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import get_tables_from_database

    db_dir = tmp_path / "wh" / f"{config.CACHE_DATABASE}.db"
    table_dir = db_dir / "abc123"
    table_dir.mkdir(parents=True)
    part = table_dir / "part-00000.parquet"
    part.write_text("x")
    epoch = 1_700_000_000
    os.utime(part, (epoch, epoch))

    class _ConfOnly:
        class conf:
            @staticmethod
            def get(key, default=None):
                return f"{tmp_path}/wh"

    with _tz("Etc/GMT-14"):
        frame = get_tables_from_database(_ConfOnly(), num_threads=2)
    assert len(frame) == 1
    assert frame["creationTime"][0].to_pydatetime() == fs._utc_naive(epoch)


def test_age_cutoff_immune_to_driver_timezone(tmp_path, monkeypatch):
    """A 12h-old entry under a 1-day policy must survive a dry-run scan
    no matter the driver zone. The cutoff and the registry times must
    share ONE base: the pre-fix code was local-naive on BOTH (so this
    sidecar-path scan happened to agree with itself) but compared that
    local cutoff against tz-stripped-UTC catalog times on the
    ``specific_database`` path — the mixed-base bug. With registry
    times now pinned UTC-naive (tests above), this test fails any
    half-revert that puts the cutoff back on the local clock: on a
    UTC+14 host that cutoff is ``utc_now + 14h - 1d``, AFTER this
    entry's UTC-naive creation time, and the entry wrongly evicts at
    half the policy age."""
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import clear_caches_older_than

    entry = tmp_path / "cache" / "younghash"
    entry.mkdir(parents=True)
    meta = entry / "cache_metadata.txt"
    meta.write_text("CACHE TYPE: test")
    twelve_h_ago = time.time() - 12 * 3600
    os.utime(meta, (twelve_h_ago, twelve_h_ago))

    monkeypatch.setattr(config, "SPARK_CACHE_DIR", f"{tmp_path}/cache/")
    with _tz("Etc/GMT-14"):
        # Dry run touches no session: spark is only used on delete.
        would_evict = clear_caches_older_than(
            None, num_days=1, confirm_delete=False, num_threads=2
        )
    assert would_evict == [], (
        "12h-old entry evicted by a 1-day policy — cutoff is reading "
        "the driver's local clock"
    )
    # The same entry IS evictable once genuinely past the policy age.
    eight_d_ago = time.time() - 8 * 86400
    os.utime(meta, (eight_d_ago, eight_d_ago))
    with _tz("Etc/GMT-14"):
        would_evict = clear_caches_older_than(
            None, num_days=7, confirm_delete=False, num_threads=2
        )
    assert would_evict == ["younghash"]


def test_eviction_serializes_with_writer_key_lock(tmp_path, monkeypatch):
    """clear_cache_for_hash must block while a writer holds the same
    cache key's lock (write_cache holds it across table write + sidecar
    write): an unserialized eviction interleaving that critical section
    can remove the sidecar AFTER the writer's in-lock probe passed,
    leaving a table the registry scan never sees again."""
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.core import _lock_for_key
    from dbfs_spark_cache_spark.management import clear_cache_for_hash

    key = "lockedhash"
    sidecar_dir = tmp_path / "cache" / key
    sidecar_dir.mkdir(parents=True)
    (sidecar_dir / "cache_metadata.txt").write_text("CACHE TYPE: test")
    monkeypatch.setattr(config, "SPARK_CACHE_DIR", f"{tmp_path}/cache/")

    class _StubSession:
        class catalog:
            @staticmethod
            def tableExists(name):
                return False

        class conf:
            @staticmethod
            def get(key, default=None):
                return f"{tmp_path}/wh"

        @staticmethod
        def sql(q):
            return None

    done = threading.Event()
    result: list = []

    def evict():
        result.append(clear_cache_for_hash(_StubSession(), key))
        done.set()

    lock = _lock_for_key(key)
    lock.acquire()
    try:
        t = threading.Thread(target=evict, daemon=True)
        t.start()
        # While the "writer" holds the key lock the eviction must wait —
        # the sidecar stays in place.
        assert not done.wait(timeout=0.5), "eviction ran inside the writer's critical section"
        assert (sidecar_dir / "cache_metadata.txt").exists()
    finally:
        lock.release()
    assert done.wait(timeout=10), "eviction never completed after the lock was released"
    assert result == [True]
    assert not sidecar_dir.exists(), "sidecar not removed after eviction proceeded"


def test_clean_redelivery_sweeps_stale_quarantine(spark, tmp_path):
    """A crashed prior attempt can leave a partial _quarantine/batch_id=N
    with no marker (crash between quarantine write and marker commit,
    e.g. under an older gate predicate before a redeploy). A redelivery
    that quarantines ZERO rows writes nothing over that dir — so without
    an explicit sweep the stale partial rows surface in read_quarantine
    as committed quarantine the moment the marker lands."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_quarantine,
    )
    from tests.conftest import SF_SMOKE

    base = str(tmp_path / "gated_stale")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "value"
    )
    # the stale partial quarantine dir from the crashed attempt
    ev.limit(5).write.parquet(f"{base}/_quarantine/batch_id=0")

    sink = exactly_once_append_sink(base, valid=F.lit(True))  # all rows valid
    sink(ev, 0)

    assert not os.path.exists(f"{base}/_quarantine/batch_id=0"), (
        "stale partial quarantine dir survived a clean commit"
    )
    assert read_quarantine(spark, base) is None
