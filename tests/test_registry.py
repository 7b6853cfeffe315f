"""Catalog registry scans (``management.get_tables_from_database``): one
batched session-catalog read whatever the entry count, and a SHOW TABLES +
DESCRIBE fallback that yields the identical frame."""
from __future__ import annotations

import pandas as pd
import pytest


def _fill(spark, db: str, stop: int, start: int = 0) -> None:
    for i in range(start, stop):
        spark.range(1).write.saveAsTable(f"{db}.entry_{i:02d}")


def test_registry_scan_issues_no_describe(spark, clean_cache, monkeypatch):
    """A registry scan issues no per-entry SQL statement: the statement
    count is the same for a store of 1 entry and of 5 entries, and none of
    them is a DESCRIBE (the per-entry path issued 1 + N)."""
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
    counts = []
    for start, size in ((0, 1), (1, 5)):
        _fill(spark, db, size, start)
        statements.clear()
        registry = get_cached_tables(spark)
        assert len(registry) == size
        assert not [q for q in statements if "DESCRIBE" in q.upper()], statements
        counts.append(len(statements))
    assert counts[0] == counts[1], counts


@pytest.fixture()
def spaced_store(spark, tmp_path):
    """A database at a LOCATION whose path holds a space, with several
    entries, a permanent view (no location) and a session temp view."""
    db = "registry_spaced_db"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/with space/{db}.db'")
    _fill(spark, db, 4)
    spark.sql(f"CREATE VIEW {db}.entry_view AS SELECT 1 AS x")
    spark.sql("CREATE OR REPLACE TEMP VIEW registry_temp_view AS SELECT 1 AS x")
    yield db
    spark.catalog.dropTempView("registry_temp_view")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_batched_frame_equals_describe_fallback(spaced_store, spark, monkeypatch):
    """The batched frame equals the DESCRIBE fallback's: same rows, same
    order, same dtypes and values — including a location with a space,
    which DESCRIBE prints unencoded, and a view, which has none — and the
    forced fallback still returns every entry. Each path is disabled while
    the other runs, so neither frame can come from the other path."""
    from dbfs_spark_cache_spark import management

    def disabled(*args, **kwargs):
        raise RuntimeError("path disabled")

    with monkeypatch.context() as patch:
        patch.setattr(management, "_described_rows", disabled)
        batched = management.get_tables_from_database(spark, database=spaced_store)
    monkeypatch.setattr(management, "_catalog_rows", disabled)
    fallback = management.get_tables_from_database(spark, database=spaced_store)

    pd.testing.assert_frame_equal(batched, fallback)
    entries = [f"entry_{i:02d}" for i in range(4)]
    assert list(fallback["hash_name"]) == entries + ["entry_view"]
    paths = dict(zip(fallback["hash_name"], fallback["directory_path"]))
    assert all(" " in paths[name] for name in entries)
    assert paths["entry_view"] == ""
