"""The one reader of a frame's input files (``plans.fingerprint.input_files``)
and the three callers that read it: the cache key's input block, the cost
gate's size and the spread gate.

Each wrong-key case below used to give a silent wrong-data hit: the
default analyzed plan prints a file scan without its path, so the input
block is the only part of the key that tells two same-shaped queries over
different data apart.
"""
from __future__ import annotations

import os
import shutil
from datetime import datetime
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _write_ids(path: str, n: int) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(range(n), pa.int64())}),
                   f"{path}/part-0.parquet")
    return path


def _counts(df) -> dict:
    return {r["g"]: r["count"] for r in df.collect()}


def _q(spark, path):
    return spark.read.parquet(path).groupBy((F.col("id") % 7).alias("g")).count()


def test_spark_cached_frames_keep_their_inputs_in_the_key(spark, clean_cache, tmp_path):
    """Two same-shaped queries over different data, both ``.cache()``d in
    one session: Spark swaps each rebuilt frame's scan for its in-memory
    relation, so reading the files from the optimized plan listed none and
    both frames shared one plan-only key — the second cache_dataframe
    served A's counts for B."""
    from dbfs_spark_cache_spark import cache_dataframe
    from dbfs_spark_cache_spark.plans.fingerprint import input_dir_mod_datetime

    a = _write_ids(str(tmp_path / "A"), 100)
    b = _write_ids(str(tmp_path / "B"), 700)
    held = [_q(spark, a).cache(), _q(spark, b).cache()]
    try:
        first = cache_dataframe(_q(spark, a), override_prefer_spark_cache=True)
        assert sum(_counts(first).values()) == 100
        second = cache_dataframe(_q(spark, b), override_prefer_spark_cache=True)
        assert _counts(second) == {g: 100 for g in range(7)}

        info_a = input_dir_mod_datetime(_q(spark, a))
        info_b = input_dir_mod_datetime(_q(spark, b))
        assert [d.endswith("/A") for d in info_a] == [True]
        assert [d.endswith("/B") for d in info_b] == [True]
        assert all(isinstance(v, datetime) for v in [*info_a.values(), *info_b.values()])
    finally:
        for df in held:
            df.unpersist()


def test_join_with_one_cached_side_lists_both_inputs(spark, tmp_path):
    from dbfs_spark_cache_spark.plans.fingerprint import input_dir_mod_datetime

    a = _write_ids(str(tmp_path / "A"), 10)
    b = _write_ids(str(tmp_path / "B"), 20)
    cached_b = spark.read.parquet(b).cache()
    try:
        joined = spark.read.parquet(a).join(spark.read.parquet(b), "id")
        dirs = sorted(os.path.basename(d) for d in input_dir_mod_datetime(joined))
        assert dirs == ["A", "B"]
    finally:
        cached_b.unpersist()


@pytest.mark.parametrize("name", ["with space", "pct%41"])
def test_escaped_input_paths_are_listed_and_sized(spark, tmp_path, name):
    """Spark renders each file as an escaped URI (``with%20space``,
    ``pct%2541``); the FS layer looked up the literal escape, found
    nothing and dropped the directory from the key and the cost gate."""
    from dbfs_spark_cache_spark.complexity import get_input_file_sizes
    from dbfs_spark_cache_spark.plans.fingerprint import (
        input_dir_mod_datetime,
        input_files,
    )

    path = _write_ids(str(tmp_path / name), 10)
    df = _q(spark, path)
    assert input_files(df) == [f"file://{path}/part-0.parquet"]
    info = input_dir_mod_datetime(df)
    assert list(info) == [f"file://{path}"]
    assert isinstance(info[f"file://{path}"], datetime)
    sizes = get_input_file_sizes(df)
    assert sizes == [os.path.getsize(f"{path}/part-0.parquet") / 1024**3]


def test_escaped_inputs_do_not_share_a_key(spark, clean_cache, tmp_path):
    from dbfs_spark_cache_spark import cache_dataframe

    a = _write_ids(str(tmp_path / "in A"), 100)
    b = _write_ids(str(tmp_path / "in B"), 700)
    cache_dataframe(_q(spark, a), override_prefer_spark_cache=True)
    second = cache_dataframe(_q(spark, b), override_prefer_spark_cache=True)
    assert _counts(second) == {g: 100 for g in range(7)}


def test_scalar_subquery_input_enters_the_key(spark, tmp_path):
    """A scalar subquery stays a subquery expression in the optimized plan,
    so its scan was missing from the listing: rewriting the subquery's
    table (in its own directory) kept the key."""
    from dbfs_spark_cache_spark.plans.fingerprint import (
        input_files,
        resolve_table_hash,
    )

    orders_dir, li_dir = tmp_path / "o", tmp_path / "li"
    os.makedirs(orders_dir)
    os.makedirs(li_dir)
    shutil.copy(f"{SF_SMOKE}/orders.parquet", orders_dir)
    shutil.copy(f"{SF_SMOKE}/lineitem.parquet", li_dir)

    def build():
        return spark.sql(
            "SELECT o_orderkey FROM {o} WHERE o_totalprice > "
            "(SELECT avg(l_extendedprice) FROM {li})",
            o=spark.read.parquet(str(orders_dir)),
            li=spark.read.parquet(str(li_dir)),
        )

    before = resolve_table_hash(build())
    rewritten = f"{li_dir}/lineitem.parquet"
    table = pq.read_table(rewritten)
    os.remove(rewritten)
    pq.write_table(table.slice(0, 10), rewritten)
    later = os.path.getmtime(rewritten) + 60
    os.utime(rewritten, (later, later))
    assert resolve_table_hash(build()) != before
    assert input_files(build()) == [
        f"file://{li_dir}/lineitem.parquet",
        f"file://{orders_dir}/orders.parquet",
    ]


def test_cached_frame_is_sized_like_the_uncached_frame(spark, tmp_path):
    from dbfs_spark_cache_spark.complexity import estimate_compute_complexity

    path = _write_ids(str(tmp_path / "sized"), 1000)
    plain = estimate_compute_complexity(_q(spark, path))
    held = _q(spark, path).cache()
    try:
        cached = estimate_compute_complexity(_q(spark, path))
    finally:
        held.unpersist()
    assert plain[2] == os.path.getsize(f"{path}/part-0.parquet") / 1024**3
    assert cached == plain


def test_unreadable_input_mtime_makes_the_key_unmatchable(
    spark, clean_cache, monkeypatch
):
    """An input directory whose mtime cannot be read (it vanished between
    plan build and listing) used to drop out of the input block, leaving a
    key that no longer told this frame's data apart. It now makes the
    fingerprint unmatchable and admission refuses the write."""
    from dbfs_spark_cache_spark import cache_dataframe, fs
    from dbfs_spark_cache_spark.core import (
        cache_session_stats,
        reset_cache_session_stats,
    )
    from dbfs_spark_cache_spark.plans.fingerprint import (
        INPUT_LISTING_FAILED_KEY,
        input_dir_mod_datetime,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet").groupBy(
        "r_regionkey"
    ).count()
    monkeypatch.setattr(fs, "max_mtime", lambda path, *a, **k: None)
    assert set(input_dir_mod_datetime(df)) == {INPUT_LISTING_FAILED_KEY}

    reset_cache_session_stats()
    assert cache_dataframe(df, override_prefer_spark_cache=True) is df
    stats = cache_session_stats()
    assert stats["writes"] == 0 and stats["hits"] == 0


def test_input_files_equals_decoded_input_files_on_every_registered_query(spark):
    """On plans with no Spark-cached fragment and no scalar subquery, the
    walk lists exactly the files ``DataFrame.inputFiles()`` does, so keys
    for ordinary inputs are unchanged."""
    import __spark_entry__ as entry
    from dbfs_spark_cache_spark.plans.fingerprint import input_files

    spark.catalog.clearCache()  # a fragment cached by an earlier test hides files
    mismatched = {}
    for name, build in entry.queries().items():
        df = build(spark, SF_SMOKE)
        walked = set(input_files(df))
        listed = {unquote(f) for f in df.inputFiles()}
        if walked != listed:
            mismatched[name] = sorted(walked ^ listed)
    assert not mismatched, mismatched


def test_partition_filter_on_a_catalog_table_lists_only_kept_partitions(
    spark, tmp_path
):
    """Spark prunes a catalog table's partitions in the optimizer; the
    analyzed plan's index lists every partition, so walking it sized the
    whole table and changed the key of a filtered read."""
    from dbfs_spark_cache_spark.plans.fingerprint import input_files

    spark.range(40).withColumn("p", F.col("id") % 4).write.partitionBy(
        "p"
    ).option("path", str(tmp_path / "pt")).saveAsTable("input_files_pt")
    try:
        df = spark.table("input_files_pt").where("p = 1")
        files = input_files(df)
        assert files and all("/pt/p=1/" in f for f in files)
        assert set(files) == {unquote(f) for f in df.inputFiles()}
    finally:
        spark.sql("DROP TABLE IF EXISTS input_files_pt")


def test_dsv2_file_source_lists_its_files(spark, tmp_path):
    from dbfs_spark_cache_spark.plans.fingerprint import input_files

    path = _write_ids(str(tmp_path / "v2"), 10)
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = _q(spark, path)
        assert "BatchScan" in df._jdf.queryExecution().executedPlan().toString()
        assert input_files(df) == [f"file://{path}/part-0.parquet"]
    finally:
        spark.conf.unset("spark.sql.sources.useV1SourceList")


_HIVE_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.chdir({root!r})  # derby.log and metastore_db land here
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.sql.warehouse.dir", {root!r} + "/wh")
    .config("spark.ui.enabled", "false")
    .enableHiveSupport()
    .getOrCreate()
)
from dbfs_spark_cache_spark.plans.fingerprint import input_files, resolve_table_hash
spark.sql("CREATE TABLE t (id INT) STORED AS TEXTFILE")
spark.sql("INSERT INTO t VALUES (1), (2), (3)")
build = lambda: spark.table("t").groupBy().count()
leaf = build()._jdf.queryExecution().optimizedPlan().collectLeaves().apply(0)
out = {{"leaf": leaf.getClass().getSimpleName(), "files": input_files(build()),
        "before": resolve_table_hash(build())}}
time.sleep(1.1)
spark.sql("INSERT OVERWRITE TABLE t SELECT id FROM range(5)")
out["after"] = resolve_table_hash(build())
print("RESULT", json.dumps(out))
spark.stop()
"""


def test_unconverted_hive_table_rewrite_changes_the_key(tmp_path):
    """A Hive serde (text) table is a HiveTableRelation, not a file
    relation: it reads through its table directory, and an INSERT
    OVERWRITE of it must change the key rather than serve the old rows."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run(
        [sys.executable, "-c", _HIVE_CHILD.format(repo=repo, root=str(tmp_path))],
        capture_output=True, text=True, timeout=300,
    )
    line = [ln for ln in child.stdout.splitlines() if ln.startswith("RESULT ")]
    assert line, child.stderr[-2000:]
    out = json.loads(line[0][len("RESULT "):])
    assert out["leaf"] == "HiveTableRelation"
    assert out["after"] != out["before"]
    assert out["files"] == [f"file:{tmp_path}/wh/t"]
