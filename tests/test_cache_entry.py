"""Cache-entry ownership: one layout module, one write protocol, one
admission guard.

* ``layout`` formats every entry path (pinned against literal strings);
* re-caching a pure scan of an entry is refused: writing it would store a
  second full copy of the entry under another key;
* the filesystem-call budget of the four cache paths: a hit, a miss plus
  write, and both for ``create_cached_dataframe`` — one data-file listing
  per write.
"""
from __future__ import annotations

import os
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

# The storage-touching functions of the fs layer. Nested calls count too:
# a data-file inventory or an mtime scan shows up with its list_dir.
_FS_CALLS = (
    "exists", "list_dir", "file_size", "tree_size", "data_file_inventory",
    "max_mtime", "read_text", "write_text", "rename", "remove",
)


def _fs_calls(fn) -> dict:
    """Run ``fn`` with every fs call counted and forwarded."""
    from dbfs_spark_cache_spark import fs

    counts: Counter = Counter()
    real = {name: getattr(fs, name) for name in _FS_CALLS}

    def counting(name):
        def call(*args, **kwargs):
            counts[name] += 1
            return real[name](*args, **kwargs)

        return call

    for name in _FS_CALLS:
        setattr(fs, name, counting(name))
    try:
        fn()
    finally:
        for name, f in real.items():
            setattr(fs, name, f)
    return dict(counts)


def _source(spark, tmp_path) -> str:
    src = str(tmp_path / "li.parquet")
    spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").limit(200).write.parquet(src)
    return src


def _agg(spark, src):
    return (
        spark.read.parquet(src)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
    )


def test_layout_paths(spark):
    from dbfs_spark_cache_spark import layout
    from dbfs_spark_cache_spark.config import config

    h = "ab" * 16
    warehouse = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    assert layout.table_name_for_hash(h) == f"{config.CACHE_DATABASE}.{h}"
    assert layout.table_location(spark, h) == (
        f"{warehouse}/{config.CACHE_DATABASE}.db/{h}"
    )
    side = layout.sidecar_dir(h)
    assert side == f"{config.SPARK_CACHE_DIR}{h}"
    assert layout.sidecar_dir(h, "/x/base") == f"/x/base/{h}"
    assert layout.metadata_path(side) == f"{side}/cache_metadata.txt"
    assert layout.committer_path(side + "/") == f"{side}/writer_committer.txt"
    assert layout.inventory_path(side) == f"{side}/data_inventory.txt"


def test_failed_inventory_listing_is_no_finding(tmp_path, monkeypatch):
    """``layout.inventory_ok`` owns "a failed inventory listing is no
    finding": the read path and the operator scans call it without a
    guard of their own, so a listing error must read None, not raise."""
    from types import SimpleNamespace

    from dbfs_spark_cache_spark import fs, layout

    spark = SimpleNamespace(conf=SimpleNamespace(get=lambda *_: str(tmp_path)))
    h = "ab" * 16
    side = tmp_path / "sidecars"
    side.mkdir()
    (side / layout.INVENTORY_FILE).write_text(fs.render_inventory(1, 10))
    os.makedirs(layout.table_location(spark, h))
    assert layout.inventory_ok(spark, h, str(side)) is False  # listing reached

    def denied(path):
        raise PermissionError(path)

    monkeypatch.setattr(fs, "list_dir", denied)
    assert layout.inventory_ok(spark, h, str(side)) is None


def test_recaching_a_cached_frame_writes_nothing(spark, clean_cache, tmp_path):
    """cache_dataframe on a pure scan of an existing entry returns the
    frame unchanged: one table and one sidecar dir, not two."""
    from dbfs_spark_cache_spark import cache_dataframe, cache_session_stats, layout
    from dbfs_spark_cache_spark.config import config

    src = _source(spark, tmp_path)
    cached = cache_dataframe(_agg(spark, src), override_prefer_spark_cache=True)
    writes = cache_session_stats()["writes"]

    again = cache_dataframe(cached, override_prefer_spark_cache=True)

    assert again is cached
    assert cache_session_stats()["writes"] == writes
    tables = spark.sql(f"SHOW TABLES IN {config.CACHE_DATABASE}").filter(
        "isTemporary = false"
    ).collect()
    assert len(tables) == 1
    assert os.listdir(config.SPARK_CACHE_DIR) == [tables[0].tableName]
    assert os.listdir(layout.database_dir(spark).replace("file:", "")) == [
        tables[0].tableName
    ]


def test_cache_dataframe_fs_call_budget(spark, clean_cache, tmp_path):
    """A miss plus write lists the new entry's data files once (recording
    its inventory) and serves the committed table without re-listing it;
    a hit reads two sidecars and checks the inventory once."""
    from dbfs_spark_cache_spark import cache_dataframe

    src = _source(spark, tmp_path)

    def run():
        cache_dataframe(_agg(spark, src), override_prefer_spark_cache=True)

    assert _fs_calls(run) == {
        "read_text": 2,  # probe's metadata sidecar, in-lock re-probe
        "max_mtime": 1, "list_dir": 2,  # input mtime scan, inventory
        "exists": 2,  # stale data location, transactional check
        "data_file_inventory": 1,
        "write_text": 3,  # committer, inventory, metadata sidecars
    }
    assert _fs_calls(run) == {
        "read_text": 2,  # metadata + inventory sidecars
        "max_mtime": 1, "list_dir": 2,  # input mtime scan, inventory
        "exists": 2,  # data location, transactional check
        "data_file_inventory": 1,
    }


def test_create_cached_dataframe_fs_call_budget(spark, clean_cache):
    from dbfs_spark_cache_spark import create_cached_dataframe

    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})

    def run():
        create_cached_dataframe(spark, pdf)

    assert _fs_calls(run) == {
        "read_text": 1,  # inventory sidecar (absent)
        "exists": 3,  # data location: probe, stale clear; transactional
        "list_dir": 1, "data_file_inventory": 1,
        "write_text": 3,
    }
    assert _fs_calls(run) == {
        "read_text": 2,  # inventory + metadata sidecars
        "exists": 2,
        "list_dir": 1, "data_file_inventory": 1,
    }
