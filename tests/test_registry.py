"""Data-directory registry (``management.get_tables_from_database``): one
listing of the cache database's directory in the warehouse, the directory
every read scans. It sees the entries of every session, where Spark's
in-memory catalog holds only the current session's writes."""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Group-by columns of the frames each process caches: one entry each.
_EARLIER = ("l_returnflag", "l_linestatus", "l_linenumber")
_LATER = ("l_tax", "l_suppkey", "l_partkey")


def _fill(spark, db: str, stop: int, start: int = 0) -> None:
    for i in range(start, stop):
        spark.range(1).write.saveAsTable(f"{db}.entry_{i:02d}")


def test_registry_scan_issues_no_describe(spark, clean_cache, monkeypatch):
    """A registry scan issues no SQL statement at all, for a store of 1
    entry and of 5 entries: it lists the database directory."""
    from dbfs_spark_cache_spark import get_cached_tables
    from dbfs_spark_cache_spark.config import config

    db = config.CACHE_DATABASE
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    statements = []
    real_sql = spark.sql

    def counting_sql(query, *args, **kwargs):
        statements.append(query)
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", counting_sql)
    for start, size in ((0, 1), (1, 5)):
        _fill(spark, db, size, start)
        statements.clear()
        registry = get_cached_tables(spark)
        assert list(registry["hash_name"].sort_values()) == [
            f"entry_{i:02d}" for i in range(size)
        ]
        assert statements == []


@pytest.fixture()
def src(spark, tmp_path) -> str:
    path = str(tmp_path / "li.parquet")
    spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").limit(200).write.parquet(path)
    return path


def _frame(spark, src: str, column: str):
    return spark.read.parquet(src).groupBy(column).agg(
        F.sum("l_quantity").alias("q")
    )


_EARLIER_PROCESS = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
from dbfs_spark_cache_spark import reconfigure, resolve_table_hash, write_cache
from dbfs_spark_cache_spark.session import get_spark
reconfigure(SPARK_CACHE_DIR={cache_dir!r}, CACHE_DATABASE={db!r})
spark = get_spark(app_name="registry_writer", warehouse_dir={warehouse!r})
from pyspark.sql import functions as F
entries = [
    resolve_table_hash(write_cache(spark.read.parquet({src!r}).groupBy(c).agg(
        F.sum("l_quantity").alias("q"))))
    for c in {columns!r}
]
print("WRITER", json.dumps(entries))
spark.stop()
"""


@pytest.fixture()
def earlier_process(spark, tmp_path, src):
    """An earlier process (own JVM, own in-memory catalog) cached the
    ``_EARLIER`` frames into a cache dir and database of their own, in
    this session's warehouse. Yields their entries with the config
    pointed at that cache dir and database."""
    from dbfs_spark_cache_spark import layout
    from dbfs_spark_cache_spark.config import config

    cache_dir, db = str(tmp_path / "shared_cache") + "/", "registry_twoproc_db"
    code = _EARLIER_PROCESS.format(
        repo=_REPO, cache_dir=cache_dir, db=db, src=src, columns=_EARLIER,
        warehouse=spark.conf.get("spark.sql.warehouse.dir"),
    )
    proc = subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True, timeout=300)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("WRITER ")]
    assert lines, proc.stderr[-2000:]
    entries = json.loads(lines[0].split(" ", 1)[1])
    assert len(set(entries)) == len(_EARLIER)

    old_cache, old_db = config.SPARK_CACHE_DIR, config.CACHE_DATABASE
    config.SPARK_CACHE_DIR, config.CACHE_DATABASE = cache_dir, db
    try:
        yield entries
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(layout.database_dir(spark).replace("file:", ""),
                      ignore_errors=True)
        config.SPARK_CACHE_DIR, config.CACHE_DATABASE = old_cache, old_db


def test_later_process_keeps_earlier_process_entries(spark, src, earlier_process):
    """A later process that caches frames of its own sees the earlier
    process's entries in its registry too: nothing reads as an orphan,
    the consistency repair evicts nothing, and the earlier frames still
    hit. The sidecars overlap the later process's own 3 entries by
    exactly 50%, so a registry that missed the earlier entries would pass
    the ``min_overlap`` rail and delete them."""
    from dbfs_spark_cache_spark import (
        cache_stats, clear_inconsistent_cache, get_cached_tables,
        read_cache_if_exist, resolve_table_hash, write_cache,
    )
    from dbfs_spark_cache_spark.management import find_inconsistent_entries

    earlier = earlier_process
    later = [resolve_table_hash(write_cache(_frame(spark, src, c))) for c in _LATER]

    assert sorted(get_cached_tables(spark)["hash_name"]) == sorted(earlier + later)
    assert find_inconsistent_entries(spark) == []
    stats = cache_stats(spark)
    assert stats["orphans_metadata_only"] == []
    assert stats["orphans_catalog_only"] == []
    assert clear_inconsistent_cache(spark) == []
    for column, entry in zip(_EARLIER, earlier):
        hit = read_cache_if_exist(_frame(spark, src, column))
        assert hit is not None and resolve_table_hash(hit) == entry


def test_fresh_process_scoped_eviction_removes_earlier_entries(
    spark, earlier_process
):
    """A process that wrote nothing (a cron run of the maintenance CLI)
    lists, under ``specific_database``, the entries an earlier process
    wrote, and a real run removes their data and sidecar directories."""
    from dbfs_spark_cache_spark import layout
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import clear_caches_older_than

    earlier = earlier_process
    db = config.CACHE_DATABASE
    assert sorted(clear_caches_older_than(
        spark, num_days=0, specific_database=db, confirm_delete=False,
    )) == sorted(earlier)
    assert sorted(clear_caches_older_than(
        spark, num_days=0, specific_database=db,
    )) == sorted(earlier)
    for entry in earlier:
        assert not os.path.exists(layout.sidecar_dir(entry))
        assert not os.path.exists(
            layout.table_location(spark, entry).replace("file:", ""))


def test_scoped_eviction_removes_other_database_data(spark, clean_cache, src):
    """Evicting from a database other than the configured one removes the
    entry's data directory there, even when this session's catalog never
    held the table, and leaves the sidecar the configured database's
    entry shares (the key excludes the database name)."""
    from dbfs_spark_cache_spark import layout, read_cache_if_exist, resolve_table_hash, write_cache
    from dbfs_spark_cache_spark.management import clear_caches_older_than

    df = _frame(spark, src, "l_returnflag")
    entry = resolve_table_hash(write_cache(df))
    other = "registry_other_db"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    other_db_dir = f"{warehouse.rstrip('/')}/{other}.db"
    other_dir = f"{other_db_dir}/{entry}"
    shutil.copytree(layout.table_location(spark, entry).replace("file:", ""), other_dir)
    try:
        assert clear_caches_older_than(
            spark, num_days=0, specific_database=other
        ) == [entry]
        assert not os.path.exists(other_dir)
        assert os.path.exists(layout.sidecar_dir(entry))
        assert read_cache_if_exist(df) is not None
    finally:
        shutil.rmtree(other_db_dir, ignore_errors=True)


def test_entry_time_is_its_newest_file_not_its_directory(spark, clean_cache, src):
    """Object stores report a directory's own mtime as 0. An entry whose
    directory reads 0 but whose files are new survives a 1-day scoped age
    eviction: its time is its newest file's."""
    from dbfs_spark_cache_spark import layout, read_cache_if_exist, resolve_table_hash, write_cache
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import clear_caches_older_than

    df = _frame(spark, src, "l_returnflag")
    entry = resolve_table_hash(write_cache(df))
    os.utime(layout.table_location(spark, entry).replace("file:", ""), (0, 0))
    assert clear_caches_older_than(
        spark, num_days=1, specific_database=config.CACHE_DATABASE
    ) == []
    assert read_cache_if_exist(df) is not None
