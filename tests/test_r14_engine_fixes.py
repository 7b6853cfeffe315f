"""Round-14 engine fixes (slot-free — none touch a registered query's
results):

1. ADVICE r13 #3: ``canonical_plan``'s both-renders-failed return was a
   COLLIDABLE fingerprint (``f"Error: {exc}"`` — two different failing
   plans with identical exception text shared a cache key, the same
   wrong-data-hit class the truncation branch uuid-salts). Now salted
   with an uncacheable uuid marker.
2. Fresh-eyes review of core.py vs management.py (VERDICT r13 #5):
   ``read_cache_if_exist`` probed (sidecar read -> catalog/path read)
   WITHOUT the per-key lock that writers and eviction hold. A
   custom-keyed REWRITE overwrites the table location non-atomically,
   so an unserialized probe could read the old sidecar, find the
   catalog entry mid-overwrite, and fall to the PATH read of a
   half-written directory — partial part-files served as a valid hit
   (silent wrong data). The probe now runs under ``_lock_for_key``.
"""
from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_render_failure_fingerprint_is_unmatchable():
    """Two plans whose rendering fails with IDENTICAL exception text must
    NOT canonicalize equal — a render failure may never produce a shared
    cache key (wrong-data hit). The salted marker also stays loud in the
    text so operators can grep for it."""
    from dbfs_spark_cache_spark.plans.fingerprint import canonical_plan

    class Boom:
        """Object that fails BOTH render paths with stable text."""

        @property
        def _jdf(self):
            raise RuntimeError("stable failure text")

        def explain(self, mode=None):
            raise RuntimeError("stable failure text")

    a = canonical_plan(Boom())
    b = canonical_plan(Boom())
    assert a != b, "identical-text render failures must not share a key"
    for p in (a, b):
        assert "Error:" in p and "uncacheable" in p


def _flagship(spark, path):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )


def test_cache_engine_concurrent_triangle(spark, clean_cache, tmp_path):
    """Stress the full writer / evictor / prober triangle on ONE key —
    every pairwise interleaving is individually pinned, this drives the
    three concurrently and checks the global invariants: no call ever
    raises (a probe racing an eviction is a clean miss, a write racing a
    write is a skip-if-identical, an eviction racing a write waits for
    the lock), and at quiescence the entry is either a consistent PAIR
    (sidecar + table, correct values) or consistently ABSENT — never a
    half-pair."""
    import dbfs_spark_cache_spark.core as core
    from dbfs_spark_cache_spark import (
        cache_dataframe,
        read_cache_if_exist,
        resolve_table_hash,
        write_cache,
    )
    from dbfs_spark_cache_spark import fs as _fs
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import clear_cache_for_hash

    src = str(tmp_path / "tri.parquet")
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(
        300
    ).write.parquet(src)

    def fresh():
        return _flagship(spark, src)

    write_cache(fresh())
    key = resolve_table_hash(fresh())
    expected = {
        (r.l_returnflag, float(r.sum_qty)) for r in fresh().collect()
    }

    errors = []

    def writer():
        for _ in range(6):
            try:
                cache_dataframe(fresh(), override_prefer_spark_cache=True)
            except Exception as exc:  # noqa: BLE001
                errors.append(("writer", repr(exc)))

    def evictor():
        for _ in range(6):
            try:
                clear_cache_for_hash(spark, key)
            except Exception as exc:  # noqa: BLE001
                errors.append(("evictor", repr(exc)))

    def prober():
        for _ in range(10):
            try:
                read_cache_if_exist(fresh())
            except Exception as exc:  # noqa: BLE001
                errors.append(("prober", repr(exc)))

    threads = [
        threading.Thread(target=t)
        for t in (writer, writer, evictor, prober, prober)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads), "triangle deadlocked"
    assert not errors, errors

    # quiescence: consistent pair or consistent absence — never half
    has_sidecar = (
        _fs.read_text(f"{config.SPARK_CACHE_DIR}{key}/cache_metadata.txt")
        is not None
    )
    has_table = spark.catalog.tableExists(core.table_name_for_hash(key))
    assert has_sidecar == has_table, (
        f"half-pair after quiescence: sidecar={has_sidecar} table={has_table}"
    )
    # and the engine still serves correct values from whatever state
    final = cache_dataframe(fresh(), override_prefer_spark_cache=True)
    got = {(r.l_returnflag, float(r.sum_qty)) for r in final.collect()}
    assert got == expected


def test_probe_serializes_with_writers_and_eviction(spark, clean_cache, tmp_path):
    """The cache probe must run under the same per-key lock that
    write_cache/create_cached_dataframe/clear_cache_for_hash hold: an
    unserialized probe racing a custom-keyed rewrite's non-atomic
    overwrite could path-read a half-written directory as a valid hit.
    Pins both halves: (a) the probe's table read happens WHILE the key
    lock is held; (b) a probe blocks until a concurrent lock holder (a
    writer or evictor mid-flight) releases, then serves the entry."""
    import dbfs_spark_cache_spark.core as core
    from dbfs_spark_cache_spark import (
        read_cache_if_exist,
        resolve_table_hash,
        write_cache,
    )

    src = str(tmp_path / "li.parquet")
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(
        200
    ).write.parquet(src)
    df = _flagship(spark, src)
    write_cache(df)
    key = resolve_table_hash(df)

    # (a) the table read runs with the key's lock held
    real_read = core._read_cache_table
    seen = []

    def spy(spark_, hash_name, **kwargs):
        # **kwargs: forward the r17 sidecar_dir (and any future) read-path
        # threading — the pin is about LOCK state, not the signature
        seen.append(core._lock_for_key(hash_name).locked())
        return real_read(spark_, hash_name, **kwargs)

    orig = core._read_cache_table
    core._read_cache_table = spy
    try:
        assert read_cache_if_exist(_flagship(spark, src)) is not None
    finally:
        core._read_cache_table = orig
    assert seen and all(seen), "probe read the table without the key lock"

    # (b) a probe blocks while a writer/evictor holds the key's lock
    lock = core._lock_for_key(key)
    lock.acquire()
    result = {}

    def probe():
        result["hit"] = read_cache_if_exist(_flagship(spark, src))

    t = threading.Thread(target=probe)
    try:
        t.start()
        time.sleep(0.5)
        assert "hit" not in result, "probe did not wait for the key lock"
    finally:
        lock.release()
    t.join(timeout=30)
    assert not t.is_alive()
    assert result["hit"] is not None
