"""The schema memo of ``sources.load_table``: a repeated load reads with the
stored schema (no inference job) and gives the same frame as a plain
``spark.read.parquet``; a file or inference-conf change infers again."""
from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from dbfs_spark_cache_spark import sources
from dbfs_spark_cache_spark.plans.fingerprint import canonical_plan


def _with_jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn started), read from the status
    tracker through a job group of fn's own."""
    sc = spark.sparkContext
    group = f"test_sources_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("name", sources.TABLES)
def test_second_load_starts_no_job_and_equals_the_first(spark, name):
    sources._SCHEMAS.pop(f"{SF_SMOKE}/{name}.parquet", None)
    first, first_jobs = _with_jobs(spark, lambda: sources.load_table(spark, SF_SMOKE, name))
    second, second_jobs = _with_jobs(spark, lambda: sources.load_table(spark, SF_SMOKE, name))
    assert first_jobs, "the first load should infer the schema with a job"
    assert second_jobs == []
    assert second.schema == first.schema
    assert canonical_plan(second) == canonical_plan(first)
    assert _rows(second) == _rows(first)


def test_each_load_is_a_new_frame_so_self_joins_resolve(spark):
    a = sources.load_table(spark, SF_SMOKE, "nation")
    b = sources.load_table(spark, SF_SMOKE, "nation")
    assert a is not b
    joined = a.join(b, a["n_regionkey"] == b["n_nationkey"])
    # every nation's region key (0-4) is exactly one nation's own key
    assert joined.count() == 25


def test_in_place_rewrite_with_added_column_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert sources.load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = sources.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert _rows(df.select("b")) == ["Row(b='x')", "Row(b='y')"]


def test_directory_gaining_a_part_file_with_new_schema_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    path.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(path / "part-00000.parquet"))
    sources.load_table(spark, str(tmp_path), "t")
    pq.write_table(pa.table({"a": [2], "b": [2.5]}), str(path / "part-00001.parquet"))
    df, jobs = _with_jobs(spark, lambda: sources.load_table(spark, str(tmp_path), "t"))
    assert jobs, "a changed file set must be inferred again"
    assert df.schema == spark.read.parquet(str(path)).schema
    assert df.count() == 2


def test_flipping_binary_as_string_infers_again(spark, tmp_path):
    key = "spark.sql.parquet.binaryAsString"
    pq.write_table(pa.table({"blob": pa.array([b"ab"], pa.binary())}), str(tmp_path / "t.parquet"))
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert sources.load_table(spark, str(tmp_path), "t").dtypes == [("blob", "binary")]
        spark.conf.set(key, "true")
        df, jobs = _with_jobs(spark, lambda: sources.load_table(spark, str(tmp_path), "t"))
        assert jobs
        assert df.dtypes == [("blob", "string")]
    finally:
        spark.conf.set(key, before)


def test_memo_holds_one_entry_per_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    for width in (1, 2, 3):
        pq.write_table(pa.table({f"c{i}": [i] for i in range(width)}), path)
        sources.load_table(spark, str(tmp_path), "t")
        sources.load_table(spark, str(tmp_path), "t")
    assert sum(key.startswith(str(tmp_path)) for key in sources._SCHEMAS) == 1
    signature, schema = sources._SCHEMAS[path]
    assert schema.fieldNames() == ["c0", "c1", "c2"]
