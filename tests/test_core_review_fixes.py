"""Regression pins for the round-7 core-engine review findings: scoped
eviction touching the wrong namespace, schema-blind direct-data keys,
custom-key probes missing their own caches, partitioned-cache children
embedding volatile mtimes, and silent fingerprint degradation when the
input listing fails."""
from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE


def test_scoped_clear_leaves_default_namespace_alone(spark, clean_cache):
    """clear_cache_for_hash(database=X) must remove X's entry directory,
    not the configured database's — and must NOT delete the shared metadata sidecar
    (the cache key excludes the database name, so an equivalent query
    cached in two databases shares the hash; deleting the sidecar would
    orphan the configured database's live entry)."""
    from dbfs_spark_cache_spark import fs, layout, resolve_table_hash, write_cache
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import clear_cache_for_hash

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    h = resolve_table_hash(write_cache(df))
    sidecar = f"{config.SPARK_CACHE_DIR}{h}/cache_metadata.txt"
    marker = layout.commit_marker_path(layout.table_location(spark, h))
    scoped = layout.table_location(spark, h, "scoped_evict_db")
    assert fs.read_text(sidecar) is not None
    assert fs.exists(marker)

    spark.sql("CREATE DATABASE IF NOT EXISTS scoped_evict_db")
    try:
        fs.write_text(f"{scoped}/part-00000.parquet", "scoped copy")
        assert clear_cache_for_hash(spark, h, database="scoped_evict_db")
        assert not fs.exists(scoped)
        # default-namespace data AND sidecar both survive
        assert fs.exists(marker)
        assert fs.read_text(sidecar) is not None
        # default-scoped clear still removes both
        clear_cache_for_hash(spark, h)
        assert not fs.exists(layout.table_location(spark, h))
        assert fs.read_text(sidecar) is None
    finally:
        spark.sql("DROP DATABASE IF EXISTS scoped_evict_db CASCADE")


def test_direct_data_cache_key_includes_schema(spark, clean_cache):
    """The same list data under two different explicit schemas must be two
    cache entries — the pandas conversion infers one dtype regardless of
    the declared schema, so a data-only hash collides them and the second
    caller gets the first caller's column names and types."""
    from dbfs_spark_cache_spark.core import create_cached_dataframe

    a = create_cached_dataframe(spark, [(1,), (2,)], schema="a INT")
    b = create_cached_dataframe(spark, [(1,), (2,)], schema="b BIGINT")
    assert a.columns == ["a"]
    assert b.columns == ["b"]
    assert dict(b.dtypes)["b"] == "bigint"
    assert (
        getattr(a, "_direct_data_cache_hash")
        != getattr(b, "_direct_data_cache_hash")
    )
    # same data + same schema still deduplicates to ONE entry
    a2 = create_cached_dataframe(spark, [(1,), (2,)], schema="a INT")
    assert getattr(a2, "_direct_data_cache_hash") == getattr(
        a, "_direct_data_cache_hash"
    )


def test_custom_hash_name_cache_probe_hits(spark, clean_cache):
    """A cache written under an explicit hash_name must register as a HIT
    on the next call with that hash_name — the probe used to compute the
    default fingerprint key only, sending every custom-keyed call down
    the miss path (re-materializing, or parking in the Spark-cache tier)."""
    from dbfs_spark_cache_spark import cache_dataframe
    from dbfs_spark_cache_spark.core import (
        cache_session_stats,
        reset_cache_session_stats,
    )

    df = (
        spark.read.parquet(f"{SF_SMOKE}/region.parquet")
        .groupBy("r_regionkey")
        .count()
    )
    reset_cache_session_stats()
    first = cache_dataframe(
        df, override_prefer_spark_cache=True, hash_name="nightly_agg"
    )
    assert first.count() == 5
    assert cache_session_stats()["writes"] == 1

    second = cache_dataframe(
        df, override_prefer_spark_cache=True, hash_name="nightly_agg"
    )
    stats = cache_session_stats()
    assert stats["hits"] == 1, f"custom-key probe missed: {stats}"
    assert stats["writes"] == 1  # no re-materialization
    assert second.count() == 5


def test_partitioned_cache_children_get_mtime_free_marker(spark, clean_cache):
    """Input files of a partition_by cache live in partition SUBDIRS of
    the hash directory; a frame reading them must record the mtime-free
    cached-input marker for every partition path, or any parent
    rewrite/repair (same key, same content, new mtimes) spuriously
    invalidates every derived cache."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark import write_cache
    from dbfs_spark_cache_spark.plans.fingerprint import (
        CACHED_INPUT_MARKER,
        input_dir_mod_datetime,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").select(
        "n_nationkey", "n_name", (F.col("n_regionkey") % 2).alias("bucket")
    )
    cached = write_cache(df, partition_by=["bucket"])
    location = cached.inputFiles()[0].rsplit("/", 2)[0]  # …/<hash>
    child = spark.read.parquet(location)
    info = input_dir_mod_datetime(child)
    assert info, "expected input entries for the partitioned cache"
    non_marker = {d: v for d, v in info.items() if v != CACHED_INPUT_MARKER}
    assert not non_marker, (
        f"partitioned-cache inputs recorded volatile mtimes: {non_marker}"
    )


def test_input_listing_failure_is_unmatchable_and_skips_cache(
    spark, clean_cache, monkeypatch
):
    """A transient input-listing failure must not degrade the key to
    plan-text-only (which could HIT a stale entry after inputs changed,
    or WRITE an orphan no later key finds) — the fingerprint goes
    unmatchable and cache_dataframe skips caching for the run."""
    from dbfs_spark_cache_spark import cache_dataframe
    from dbfs_spark_cache_spark.core import (
        cache_session_stats,
        reset_cache_session_stats,
    )
    from dbfs_spark_cache_spark.plans import fingerprint
    from dbfs_spark_cache_spark.plans.fingerprint import (
        INPUT_LISTING_FAILED_KEY,
        input_dir_mod_datetime,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet").groupBy(
        "r_regionkey"
    ).count()

    def boom(frame):
        raise RuntimeError("transient metastore hiccup")

    monkeypatch.setattr(fingerprint, "input_files", boom)
    info = input_dir_mod_datetime(df)
    assert set(info) == {INPUT_LISTING_FAILED_KEY}

    reset_cache_session_stats()
    out = cache_dataframe(df, override_prefer_spark_cache=True)
    assert out is df  # unchanged plan, nothing written
    stats = cache_session_stats()
    assert stats["writes"] == 0 and stats["hits"] == 0


def test_custom_hash_name_invalidates_on_input_change(spark, clean_cache, tmp_path):
    """A custom-keyed cache pins its metadata PATH, so a hit must require
    the stored document to EQUAL the current one — existence alone served
    day-1 rows forever after the inputs changed (the default
    content-addressed key never hit this: a changed document changes the
    key, hence the path)."""
    import shutil
    import time

    from dbfs_spark_cache_spark import cache_dataframe
    from dbfs_spark_cache_spark.core import (
        cache_session_stats,
        read_cache_if_exist,
        reset_cache_session_stats,
    )

    src = str(tmp_path / "inp.parquet")
    shutil.copyfile(f"{SF_SMOKE}/region.parquet", src)

    def q():
        return (
            spark.read.parquet(src).groupBy("r_regionkey").count()
        )

    reset_cache_session_stats()
    cache_dataframe(q(), override_prefer_spark_cache=True, hash_name="pinned")
    assert cache_session_stats()["writes"] == 1
    # unchanged inputs: fast probe hits
    assert read_cache_if_exist(q(), hash_name="pinned") is not None

    time.sleep(1.1)  # mtime resolution
    os.utime(src)
    # changed inputs: the pinned-path probe must MISS (stored document
    # no longer equals the current one) and the full call must REWRITE.
    assert read_cache_if_exist(q(), hash_name="pinned") is None
    cache_dataframe(q(), override_prefer_spark_cache=True, hash_name="pinned")
    stats = cache_session_stats()
    assert stats["writes"] == 2, f"stale custom-key cache not rewritten: {stats}"
