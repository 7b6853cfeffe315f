"""Direct-data cache entries (``createCachedDataFrame``): which writer
takes a frame, and that the driver writer's entry reads back exactly as
``spark.createDataFrame`` would have built the frame.

A pandas frame that ``createDataFrame`` converts through Arrow is
converted on the driver with PySpark's own code and written as one
Parquet file (``direct_data``); every other input keeps Spark's
``createDataFrame`` + ``saveAsTable`` writer.
"""
from __future__ import annotations

import datetime as dt
import decimal
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TS = pd.to_datetime(
    ["2024-01-01 10:00:00", None, "2024-06-30 23:59:59.123456"], format="ISO8601"
)

# name -> (frame, schema passed to both createDataFrame and the cache)
FIDELITY = {
    "ints": (pd.DataFrame({
        "i8": np.array([1, -2, 127], "int8"), "i16": np.array([1, -2, 3], "int16"),
        "i32": np.array([1, -2, 3], "int32"), "i64": np.array([1, -2, 2**62], "int64"),
    }), None),
    "floats_nan": (pd.DataFrame({
        "f32": np.array([1.5, np.nan, 3], "float32"), "f64": [np.nan, 2.0, -0.0],
    }), None),
    "bool": (pd.DataFrame({"b": [True, False, True]}), None),
    "nullable_ext": (pd.DataFrame({
        "i": pd.array([1, None, 3], "Int64"), "b": pd.array([True, None, False], "boolean"),
    }), None),
    "str_none": (pd.DataFrame({"s": ["a", None, "ccc"]}), None),
    "bytes": (pd.DataFrame({"y": [b"a", b"\x00\x01", None]}), None),
    "decimal": (pd.DataFrame({
        "d": [decimal.Decimal("1.10"), None, decimal.Decimal("-3.25")],
    }), None),
    "date": (pd.DataFrame({"d": [dt.date(2024, 1, 1), None, dt.date(1999, 12, 31)]}), None),
    "datetime_naive": (pd.DataFrame({"t": _TS}), None),
    "datetime_aware": (pd.DataFrame({"t": _TS.tz_localize("Europe/Helsinki")}), None),
    "list": (pd.DataFrame({"l": [[1, 2], [], None]}), None),
    "struct": (pd.DataFrame({"s": [{"x": 1, "y": "a"}, None, {"x": 2, "y": None}]}), None),
    "map": (pd.DataFrame({"m": [{"a": 1}, None, {"b": 2}]}), "m MAP<STRING, BIGINT>"),
    "ddl_schema": (pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}), "a INT, b STRING"),
    "struct_schema": (
        pd.DataFrame({"a": [1, 2], "b": ["x", None]}),
        StructType([StructField("a", LongType()), StructField("b", StringType())]),
    ),
}


def _entry_files(spark, frame) -> list:
    from dbfs_spark_cache_spark import layout

    location = layout.table_location(spark, frame._direct_data_cache_hash)
    return sorted(os.listdir(location.replace("file:", "")))


def _same(got, want) -> None:
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


@pytest.fixture()
def session_zone(spark, request):
    zone = request.param
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    yield zone
    spark.conf.set("spark.sql.session.timeZone", before)


@pytest.mark.parametrize("session_zone", ["UTC", "America/New_York"], indirect=True)
@pytest.mark.parametrize("case", sorted(FIDELITY))
def test_driver_entry_equals_create_dataframe(spark, clean_cache, session_zone, case):
    """Miss and hit equal ``spark.createDataFrame`` in schema and rows,
    under the UTC session zone and a non-UTC one (naive datetimes are
    localized in the session zone), and the entry is the driver's one
    file plus its commit marker."""
    from dbfs_spark_cache_spark import create_cached_dataframe, layout

    pdf, schema = FIDELITY[case]
    want = spark.createDataFrame(pdf, schema=schema)
    miss = create_cached_dataframe(spark, pdf, schema=schema)
    _same(miss, want)
    hit = create_cached_dataframe(spark, pdf, schema=schema)
    _same(hit, want)
    assert _entry_files(spark, hit) == [layout.COMMIT_MARKER, layout.DRIVER_DATA_FILE]


def test_hit_reads_the_schema_its_marker_records(spark, clean_cache):
    """The commit marker carries the written schema, and a hit scans with
    it. A marker without the line (written before it existed) still
    serves: the scan infers the schema from the files."""
    from dbfs_spark_cache_spark import create_cached_dataframe, layout

    pdf = pd.DataFrame({"k": np.array([1, 2], "int16"), "v": ["a", None]})
    miss = create_cached_dataframe(spark, pdf)
    location = layout.table_location(spark, miss._direct_data_cache_hash)
    marker_path = layout.commit_marker_path(location).replace("file:", "")
    with open(marker_path) as fh:
        marker = fh.read()
    assert layout.recorded_schema(marker) == miss.schema
    assert create_cached_dataframe(spark, pdf).schema == miss.schema

    with open(marker_path, "w") as fh:
        fh.write("\n".join(line for line in marker.splitlines()
                           if not line.startswith(layout.SCHEMA_LINE)))
    hit = create_cached_dataframe(spark, pdf)
    assert hit._direct_data_cache_hash == miss._direct_data_cache_hash
    _same(hit, miss)


def _spark_written(spark, frame) -> bool:
    files = _entry_files(spark, frame)
    return any(f.startswith("part-") for f in files) and "data.parquet" not in files


# name -> (data, schema, createDataFrame options)
SPARK_WRITER = {
    # createDataFrame converts no empty frame through Arrow
    "empty_frame": (pd.DataFrame({"a": pd.Series([], dtype="int64")}), "a BIGINT", {}),
    "category": (pd.DataFrame({"c": pd.Categorical(["u", "v", "u"]), "n": [1, 2, 3]}),
                 None, {}),
    "list_input": ([(1, "a"), (2, "b")], "k INT, v STRING", {}),
    "options": (pd.DataFrame({"k": [1, 2]}), None, {"verifySchema": True}),
}


@pytest.mark.parametrize("case", sorted(SPARK_WRITER))
def test_other_inputs_take_spark_writer(spark, clean_cache, case):
    from dbfs_spark_cache_spark import create_cached_dataframe

    data, schema, options = SPARK_WRITER[case]
    got = create_cached_dataframe(spark, data, schema, **options)
    _same(got, spark.createDataFrame(data, schema, **options))
    assert _spark_written(spark, got)


def test_delta_format_takes_spark_writer(spark, clean_cache, monkeypatch):
    """A configured Delta format keeps Spark's writer. Without the Delta
    jars it degrades to parquet, still Spark's part files."""
    from dbfs_spark_cache_spark import core, create_cached_dataframe
    from dbfs_spark_cache_spark.config import config

    monkeypatch.setattr(config, "CACHE_FORMAT", "delta")
    monkeypatch.setattr(core, "_FORMAT_FALLBACK", {})
    pdf = pd.DataFrame({"k": [1, 2]})
    got = create_cached_dataframe(spark, pdf)
    _same(got, spark.createDataFrame(pdf))
    files = _entry_files(spark, got)
    assert "data.parquet" not in files
    assert "_delta_log" in files or _spark_written(spark, got)


def test_duplicate_column_names_are_refused(spark, clean_cache):
    """``createDataFrame``'s Arrow conversion refuses duplicate names, so
    such a frame takes Spark's writer, which cannot hold two columns of
    one name: the call raises and commits nothing."""
    from dbfs_spark_cache_spark import create_cached_dataframe
    from dbfs_spark_cache_spark.config import config

    pdf = pd.DataFrame([[1, "x"], [2, "y"]], columns=["a", "a"])
    assert spark.createDataFrame(pdf).columns == ["a", "a"]
    with pytest.raises(Exception, match="COLUMN_ALREADY_EXISTS"):
        create_cached_dataframe(spark, pdf)
    assert os.listdir(config.SPARK_CACHE_DIR) == []


def test_dictionary_encoding_only_where_smaller(spark, clean_cache):
    """Like parquet-mr's fallback: a random int64 column is written PLAIN,
    a 4-value column dictionary-encoded."""
    from dbfs_spark_cache_spark import create_cached_dataframe, layout

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "random": rng.integers(0, 2**62, 10_000),
        "four": rng.integers(0, 4, 10_000),
    })
    got = create_cached_dataframe(spark, pdf)
    location = layout.table_location(spark, got._direct_data_cache_hash)
    meta = pq.ParquetFile(
        f"{location}/{layout.DRIVER_DATA_FILE}".replace("file:", "")
    ).metadata.row_group(0)
    encodings = {meta.column(i).path_in_schema: meta.column(i).encodings
                 for i in range(meta.num_columns)}
    assert "PLAIN" in encodings["random"]
    assert not any("DICTIONARY" in e for e in encodings["random"])
    assert any("DICTIONARY" in e for e in encodings["four"])


def test_hit_scan_splits_by_row_group(spark, clean_cache):
    """The one file holds ``defaultParallelism`` row groups of equal row
    count. Spark splits a Parquet file only between row groups, so a hit
    whose file exceeds the split size scans in that many tasks, as it did
    over the part files of Spark's writer."""
    from dbfs_spark_cache_spark import create_cached_dataframe, layout

    parallelism = spark.sparkContext.defaultParallelism
    pdf = pd.DataFrame({"k": np.arange(10_000), "v": np.arange(10_000) % 7})
    got = create_cached_dataframe(spark, pdf)
    location = layout.table_location(spark, got._direct_data_cache_hash)
    meta = pq.ParquetFile(
        f"{location}/{layout.DRIVER_DATA_FILE}".replace("file:", "")
    ).metadata
    rows = [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]
    assert len(rows) == parallelism and sum(rows) == 10_000
    assert max(rows) - min(rows) <= parallelism

    conf = {"spark.sql.files.maxPartitionBytes": "1024",
            "spark.sql.files.openCostInBytes": "0"}
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        hit = create_cached_dataframe(spark, pdf)
        counts = hit.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert sorted(c for c in counts if c) == sorted(rows)


def test_other_pyspark_version_takes_spark_writer(spark, clean_cache, monkeypatch):
    """The conversion mirrors one PySpark minor version's internals; under
    any other version every frame keeps Spark's writer."""
    from dbfs_spark_cache_spark import create_cached_dataframe, direct_data

    monkeypatch.setattr(direct_data, "_MIRRORED_PYSPARK", "0.0.")
    pdf = pd.DataFrame({"k": [1, 2]})
    got = create_cached_dataframe(spark, pdf)
    _same(got, spark.createDataFrame(pdf))
    assert _spark_written(spark, got)


def test_driver_entry_has_no_catalog_table(spark, clean_cache):
    """Nothing reads the catalog, so the driver writer registers no table;
    the registry lists the entry's directory, eviction removes it, and the
    cache database exists so ``DROP DATABASE ... CASCADE`` removes it too."""
    from dbfs_spark_cache_spark import (
        clear_cache_for_hash,
        create_cached_dataframe,
        get_cached_tables,
        layout,
    )
    from dbfs_spark_cache_spark.config import config

    first = create_cached_dataframe(spark, pd.DataFrame({"k": [1, 2]}))
    second = create_cached_dataframe(spark, pd.DataFrame({"k": [3]}))
    keys = {first._direct_data_cache_hash, second._direct_data_cache_hash}
    for key in keys:
        assert not spark.catalog.tableExists(f"{config.CACHE_DATABASE}.{key}")
    assert spark.catalog.databaseExists(config.CACHE_DATABASE)
    assert set(get_cached_tables(spark)["hash_name"]) == keys

    clear_cache_for_hash(spark, first._direct_data_cache_hash)
    assert not os.path.exists(
        layout.table_location(spark, first._direct_data_cache_hash).replace("file:", "")
    )
    spark.sql(f"DROP DATABASE {config.CACHE_DATABASE} CASCADE")
    assert not os.path.exists(layout.database_dir(spark).replace("file:", ""))
