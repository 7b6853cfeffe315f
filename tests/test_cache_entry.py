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
# a data-file inventory or an input directory's summary shows up with its
# list_dir.
_FS_CALLS = (
    "exists", "list_dir", "file_size", "tree_size", "data_file_inventory",
    "dir_summary", "max_mtime", "read_text", "write_text", "rename", "remove",
    "put_file",
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
    loc = layout.table_location(spark, h)
    assert layout.commit_marker_path(loc + "/") == f"{loc}/_CACHE_COMMITTED"


def test_failed_inventory_listing_is_no_finding(tmp_path, monkeypatch):
    """``layout.inventory_ok`` owns "a failed inventory listing is no
    finding": the read path and the operator scans call it without a
    guard of their own, so a listing error must read None, not raise."""
    from dbfs_spark_cache_spark import fs, layout

    loc = str(tmp_path / ("ab" * 16))
    os.makedirs(loc)
    with open(layout.commit_marker_path(loc), "w") as fh:
        fh.write(fs.render_inventory(1, 10))
    assert layout.inventory_ok(loc) is False  # listing reached

    def denied(path):
        raise PermissionError(path)

    monkeypatch.setattr(fs, "list_dir", denied)
    assert layout.inventory_ok(loc) is None


def test_no_commit_when_location_lost_before_marker(
    spark, clean_cache, tmp_path, monkeypatch
):
    """The commit marker must list this write's own output. When another
    process removes the location between the table write and the marker
    (a repair evicting a directory that has no metadata sidecar yet), or
    removed it and is rewriting it (its files still under
    ``_temporary``), no marker and no metadata sidecar are written: the
    write returns the frame itself and the entry stays a miss. A marker
    there would record ``files=0`` and serve an empty hit. The driver
    writer's case: the other process is still staging its one file."""
    import shutil
    import threading

    from dbfs_spark_cache_spark import (
        core,
        create_cached_dataframe,
        fs,
        layout,
        read_cache_if_exist,
        write_cache,
    )

    src = _source(spark, tmp_path)
    real_save = core._save_as_cache_table
    seen = {}

    def lose_output(aftermath):
        def save(frame, table, partition_by=None):
            fmt = real_save(frame, table, partition_by=partition_by)
            seen["key"] = table.split(".")[-1]
            loc = layout.table_location(spark, seen["key"]).replace("file:", "")
            shutil.rmtree(loc)
            if aftermath == "rewriting":
                os.makedirs(f"{loc}/_temporary/0")
                with open(f"{loc}/_temporary/0/part-00000.parquet", "w") as fh:
                    fh.write("in flight")
            return fmt

        return save

    for aftermath in ("removed", "rewriting"):
        monkeypatch.setattr(core, "_save_as_cache_table", lose_output(aftermath))
        df = _agg(spark, src)
        assert write_cache(df) is df
        loc = layout.table_location(spark, seen["key"])
        assert not os.path.exists(layout.commit_marker_path(loc).replace("file:", ""))
        assert not os.path.exists(
            layout.metadata_path(layout.sidecar_dir(seen["key"]))
        )
        assert core._read_cache_table(spark, seen["key"]) is None
        assert read_cache_if_exist(_agg(spark, src)) is None

    monkeypatch.setattr(core, "_save_as_cache_table", real_save)
    write_cache(_agg(spark, src))
    hit = read_cache_if_exist(_agg(spark, src))
    assert hit is not None
    assert sorted(hit.collect()) == sorted(_agg(spark, src).collect())

    # The driver writer: another process removed the location after this
    # write put its file there, and is still staging its own file when
    # this write lists the location for its marker. Its staging must not
    # show in that listing: that process may die before its file lands.
    pdf = pd.DataFrame({"k": range(50)})
    real_put = fs.put_file
    staging, release = threading.Event(), threading.Event()

    def racer(dst):
        def write(path):
            with open(path, "wb") as fh:
                fh.write(b"PAR1")  # a Parquet writer's first bytes
            staging.set()
            release.wait(60)
            raise OSError("racing writer died")

        try:
            real_put(dst, write)
        except OSError:
            pass

    def put_then_lose(dst, write):
        real_put(dst, write)
        seen["key"] = os.path.basename(os.path.dirname(dst))
        shutil.rmtree(os.path.dirname(dst).replace("file:", ""))
        seen["racer"] = threading.Thread(target=racer, args=(dst,))
        seen["racer"].start()
        assert staging.wait(60)

    monkeypatch.setattr(fs, "put_file", put_then_lose)
    try:
        got = create_cached_dataframe(spark, pdf)
    finally:
        release.set()
        seen["racer"].join(60)
    assert sorted(got.collect()) == sorted(spark.createDataFrame(pdf).collect())
    loc = layout.table_location(spark, seen["key"])
    assert not os.path.exists(layout.commit_marker_path(loc).replace("file:", ""))
    assert not os.path.exists(layout.metadata_path(layout.sidecar_dir(seen["key"])))
    assert core._read_cache_table(spark, seen["key"]) is None

    monkeypatch.setattr(fs, "put_file", real_put)
    create_cached_dataframe(spark, pdf)
    assert core._read_cache_table(spark, seen["key"]).count() == 50


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


def test_sidecar_dir_read_is_not_a_cache_entry(spark, clean_cache, tmp_path):
    """An entry's sidecar dir holds only its metadata document, so a
    frame reading it is an ordinary input: it names no entry, and
    re-caching it is not refused as a pure scan of the entry."""
    from dbfs_spark_cache_spark import core, layout, write_cache

    src = _source(spark, tmp_path)
    write_cache(_agg(spark, src))
    h = core.resolve_table_hash(_agg(spark, src))
    side = spark.read.text(layout.sidecar_dir(h))
    assert core.resolve_table_hash(side) != h
    assert "pure scan" not in (core.admit(side).refusal or "")


def test_cache_dataframe_fs_call_budget(spark, clean_cache, tmp_path):
    """A miss plus write lists the new entry's data files once (the
    inventory of its commit marker) and serves the committed files
    without re-listing them; a hit reads the metadata sidecar and the
    commit marker, checks the marker's inventory once and probes for no
    file's existence."""
    from dbfs_spark_cache_spark import cache_dataframe

    src = _source(spark, tmp_path)

    def run():
        cache_dataframe(_agg(spark, src), override_prefer_spark_cache=True)

    assert _fs_calls(run) == {
        "read_text": 2,  # probe's metadata sidecar, in-lock re-probe
        "dir_summary": 1, "list_dir": 2,  # input directory, inventory
        "exists": 1,  # stale data location
        "data_file_inventory": 1,
        "write_text": 2,  # commit marker, metadata sidecar
    }
    assert _fs_calls(run) == {
        "read_text": 2,  # metadata sidecar, commit marker
        "dir_summary": 1, "list_dir": 2,  # input directory, inventory
        "data_file_inventory": 1,
    }


def test_create_cached_dataframe_fs_call_budget(spark, clean_cache):
    from dbfs_spark_cache_spark import create_cached_dataframe

    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})

    def run():
        create_cached_dataframe(spark, pdf)

    # The probe reads the commit marker first; when it is absent the
    # location is a miss unless it holds a Delta log.
    assert _fs_calls(run) == {
        "read_text": 1,  # commit marker
        "exists": 2,  # transactional check, stale data location
        "put_file": 1,  # the driver-written Parquet file
        "list_dir": 1, "data_file_inventory": 1,
        "write_text": 2,  # commit marker, metadata sidecar
    }
    assert _fs_calls(run) == {
        "read_text": 2,  # commit marker, metadata sidecar
        "list_dir": 1, "data_file_inventory": 1,
    }


def test_cache_dataframe_rejects_unknown_options(spark, clean_cache):
    """A misspelt or removed option is a TypeError, not silently dropped."""
    import pytest

    from dbfs_spark_cache_spark import cache_dataframe, extend_dataframe_methods

    extend_dataframe_methods(spark)
    df = spark.range(3)
    with pytest.raises(TypeError):
        cache_dataframe(df, override_prefer_spark_cache=True, bucket_by=["id"])
    with pytest.raises(TypeError):
        df.cacheToStorage(override_prefer_spark_cache=True, hash_nmae="x")


def _drop_catalog_entry_keep_files(spark, key):
    """What a later session sees under an in-memory catalog: the entry's
    files and sidecars without its catalog table."""
    import shutil
    import tempfile

    from dbfs_spark_cache_spark import layout

    loc = layout.table_location(spark, key).replace("file:", "")
    stash = tempfile.mkdtemp(prefix="entry_stash_")
    shutil.copytree(loc, f"{stash}/data")
    spark.sql(f"DROP TABLE IF EXISTS {layout.table_name_for_hash(key)}")
    shutil.copytree(f"{stash}/data", loc, dirs_exist_ok=True)
    shutil.rmtree(stash, ignore_errors=True)


def test_partitioned_entry_reads_back_its_schema(spark, clean_cache, tmp_path):
    """A hit on a ``partition_by`` entry has the written frame's schema,
    with or without the entry's catalog table: the partition column does
    not read back typed from its directory names (bigint as int), so a
    frame filtered on it keys the same in both cases."""
    from dbfs_spark_cache_spark import read_cache_if_exist, resolve_table_hash, write_cache

    src = _source(spark, tmp_path)

    def q():
        return (
            spark.read.parquet(src)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("part", F.col("n") % 3)
        )

    key = resolve_table_hash(q())
    write_cache(q(), partition_by=["part"])
    hit = read_cache_if_exist(q())
    assert hit.dtypes == q().dtypes
    assert resolve_table_hash(hit) == key
    derived = resolve_table_hash(hit.where(F.col("part") == 1))

    _drop_catalog_entry_keep_files(spark, key)
    later = read_cache_if_exist(q())
    assert later.dtypes == q().dtypes
    assert resolve_table_hash(later) == key
    assert resolve_table_hash(later.where(F.col("part") == 1)) == derived
    assert sorted(map(tuple, later.collect())) == sorted(map(tuple, q().collect()))


_WRITER_PROCESS = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
from dbfs_spark_cache_spark import reconfigure, resolve_table_hash, write_cache
from dbfs_spark_cache_spark.session import get_spark
reconfigure(SPARK_CACHE_DIR={cache_dir!r}, CACHE_DATABASE={db!r})
spark = get_spark(app_name="entry_writer", warehouse_dir={warehouse!r})
from pyspark.sql import functions as F
df = spark.read.parquet({src!r}).groupBy("l_returnflag").agg(
    F.sum("l_quantity").alias("q"))
written = write_cache(df)
print("WRITER", json.dumps({{
    "entry": resolve_table_hash(written),
    "derived": resolve_table_hash(written.where(F.col("q") > 100)),
}}))
spark.stop()
"""


def test_entry_keeps_its_identity_in_a_later_process(spark, tmp_path):
    """An entry written by one process is, in another process whose
    catalog never heard of it, the same entry: its hit resolves to the
    entry's hash, re-caching the hit is refused as a pure scan, a frame
    derived from it keys as in the writing process, and clearing the hit
    removes the entry's sidecars and data."""
    import json
    import subprocess
    import sys

    from dbfs_spark_cache_spark import (
        extend_dataframe_methods, layout, read_cache_if_exist, resolve_table_hash,
    )
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.core import admit

    src = _source(spark, tmp_path)
    cache_dir, db = str(tmp_path / "shared_cache") + "/", "entry_twoproc_db"
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    code = _WRITER_PROCESS.format(
        repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        cache_dir=cache_dir, db=db, warehouse=warehouse, src=src,
    )
    proc = subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True, timeout=300)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("WRITER ")]
    assert lines, proc.stderr[-2000:]
    wrote = json.loads(lines[0].split(" ", 1)[1])

    old_cache, old_db = config.SPARK_CACHE_DIR, config.CACHE_DATABASE
    try:
        config.SPARK_CACHE_DIR, config.CACHE_DATABASE = cache_dir, db
        extend_dataframe_methods(spark)
        df = spark.read.parquet(src).groupBy("l_returnflag").agg(
            F.sum("l_quantity").alias("q"))
        hit = read_cache_if_exist(df)
        assert hit is not None
        entry = wrote["entry"]
        assert resolve_table_hash(hit) == entry
        assert admit(hit).refusal == f"pure scan of cache entry {entry}"
        assert resolve_table_hash(hit.where(F.col("q") > 100)) == wrote["derived"]

        hit.clearStorageCache()
        assert not os.path.exists(layout.sidecar_dir(entry))
        assert not os.path.exists(
            layout.table_location(spark, entry).replace("file:", ""))
    finally:
        config.SPARK_CACHE_DIR, config.CACHE_DATABASE = old_cache, old_db
