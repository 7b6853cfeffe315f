"""Regression pins for the round-8 ADVICE findings: UDF content tags
blind to default-value edits, eviction sweeping warehouse files after a
failed DROP, and the exactly-once reader collapsing committed-but-empty
sinks to None via exception-text matching."""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE


def _tag(udf) -> str:
    return udf.func.__name__.rsplit("__", 1)[1]


def _build_udf(source: str):
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark.functions import content_addressed_udf

    ns: dict = {}
    exec(source, ns)
    return content_addressed_udf(ns["fn"], DoubleType())


def test_udf_tag_tracks_positional_defaults(spark):
    """`def fn(s, scale=2.0)` vs `scale=3.0` share bytecode, consts tuple
    AND closure — only __defaults__ differs. Without hashing defaults the
    edited UDF kept the old tag and served the stale cached result
    (ADVICE r7 #2)."""
    a = "def fn(s, scale=2.0):\n    return s * scale\n"
    b = a.replace("scale=2.0", "scale=3.0")
    assert _tag(_build_udf(a)) == _tag(_build_udf(a))  # stable
    assert _tag(_build_udf(a)) != _tag(_build_udf(b))


def test_udf_tag_tracks_kwonly_defaults(spark):
    """Same hazard through __kwdefaults__, newly reachable since the
    kw-only propagation fix made such UDFs work at all."""
    a = "def fn(s, *, scale=2.0):\n    return s * scale\n"
    b = a.replace("scale=2.0", "scale=3.0")
    assert _tag(_build_udf(a)) == _tag(_build_udf(a))
    assert _tag(_build_udf(a)) != _tag(_build_udf(b))


class _FailingDropSession:
    """Delegates everything to the real session except DROP TABLE, which
    raises like a transient metastore error."""

    def __init__(self, real):
        self._real = real

    def sql(self, q: str):
        if q.strip().upper().startswith("DROP TABLE"):
            raise RuntimeError("simulated transient metastore error")
        return self._real.sql(q)

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_eviction_skips_sweep_when_drop_fails(spark, clean_cache):
    """A failed DROP must leave the catalog entry, the warehouse files
    AND the metadata sidecar intact (ADVICE r7 #3): sweeping data out
    from under a still-registered table corrupts it, and removing the
    sidecar hides the entry from every future eviction scan."""
    from dbfs_spark_cache_spark import fs, write_cache
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import clear_cache_for_hash

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    write_cache(df)
    h = spark.sql(f"SHOW TABLES IN {config.CACHE_DATABASE}").filter("isTemporary = false").collect()[0].tableName
    sidecar = f"{config.SPARK_CACHE_DIR}{h}/cache_metadata.txt"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    table_dir = f"{warehouse.rstrip('/')}/{config.CACHE_DATABASE}.db/{h}"
    assert fs.read_text(sidecar) is not None
    assert fs.list_dir(table_dir), "warehouse table dir should exist"

    clear_cache_for_hash(_FailingDropSession(spark), h)
    assert spark.catalog.tableExists(f"{config.CACHE_DATABASE}.{h}")
    assert fs.read_text(sidecar) is not None, "sidecar must survive a failed DROP"
    assert fs.list_dir(table_dir), "warehouse files must survive a failed DROP"

    # The table still reads correctly after the failed eviction attempt.
    assert spark.table(f"{config.CACHE_DATABASE}.{h}").count() == df.count()

    # A later healthy retry completes the eviction.
    clear_cache_for_hash(spark, h)
    assert not spark.catalog.tableExists(f"{config.CACHE_DATABASE}.{h}")
    assert fs.read_text(sidecar) is None
    assert not fs.list_dir(table_dir)


def test_eviction_sweeps_orphan_even_when_drop_raises(spark, clean_cache):
    """The conservative gate must not regress the r7 orphan sweep: when
    DROP raises but the catalog verifiably has NO such table (a
    metadata-only orphan), the sidecar and stray files are still
    reaped."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import clear_cache_for_hash

    h = "deadbeef" * 8
    sidecar = f"{config.SPARK_CACHE_DIR}{h}/cache_metadata.txt"
    fs.write_text(sidecar, "orphan")
    clear_cache_for_hash(_FailingDropSession(spark), h)
    assert fs.read_text(sidecar) is None, "orphan sidecar should be reaped"


def _strip_part_files(batch_dir: str) -> None:
    """Reduce a committed batch dir to its _SUCCESS marker: a no-data
    streaming micro-batch writes no part files at all, but a local BATCH
    write of an empty DataFrame still emits one zero-row part file — so
    the test must remove it to exercise the real streaming shape."""
    for name in os.listdir(batch_dir):
        if "part-" in name:
            os.remove(os.path.join(batch_dir, name))


def test_exactly_once_empty_sink_reads_back_as_empty_df(spark, tmp_path):
    """An all-empty committed sink must read back as an EMPTY DataFrame
    with the sink's recorded schema — not None, which is 'no sink exists'
    (ADVICE r7 #4). The decision is made by listing part files, never by
    matching Spark's exception text."""
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
    )

    base = str(tmp_path / "eo_empty")
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    empty = batch.limit(0)
    sink = exactly_once_append_sink(base)
    sink(empty, 0)
    _strip_part_files(f"{base}/batch_id=0")

    got = read_exactly_once_output(spark, base)
    assert got is not None, "committed-but-empty must not collapse to None"
    assert got.count() == 0
    assert got.schema == empty.schema

    # Once a later batch carries rows, the normal parquet path takes over
    # and the earlier empty batch contributes nothing.
    sink(batch.limit(4), 1)
    refreshed = read_exactly_once_output(spark, base)
    assert refreshed.count() == 4
    assert refreshed.schema == batch.schema

    # Legacy ledger written before the schema record existed: committed-
    # but-empty stays None (documented fallback), still without touching
    # exception text.
    legacy = str(tmp_path / "eo_legacy")
    sink2 = exactly_once_append_sink(legacy)
    sink2(empty, 0)
    _strip_part_files(f"{legacy}/batch_id=0")
    os.remove(f"{legacy}/_committed/_schema.json")
    assert read_exactly_once_output(spark, legacy) is None


def test_validated_sink_records_schema_for_all_quarantined_batch(spark, tmp_path):
    """The quality-gated sink commits a batch whose every row quarantines
    — the clean dir then holds only _SUCCESS. The committed view must be
    an empty DataFrame of the SOURCE schema (the gate's __valid column
    never leaks)."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
        read_quarantine,
    )

    base = str(tmp_path / "eo_gated")
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "value"
    ).limit(6)
    sink = exactly_once_append_sink(base, valid=F.lit(False))
    sink(batch, 0)
    _strip_part_files(f"{base}/batch_id=0")

    got = read_exactly_once_output(spark, base)
    assert got is not None
    assert got.count() == 0
    assert got.schema == batch.schema
    assert read_quarantine(spark, base).count() == 6


def test_reader_raises_when_committed_data_dirs_are_missing(spark, tmp_path):
    """A commit ledger whose data directories were deleted out from under
    it is an inconsistency, not an empty sink: the reader must raise (the
    pre-r8 basePath read raised here too), never report silently-empty."""
    import pytest

    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
    )

    base = str(tmp_path / "eo_lost")
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "value"
    ).limit(3)
    sink = exactly_once_append_sink(base)
    sink(batch, 0)
    import shutil

    shutil.rmtree(f"{base}/batch_id=0")
    with pytest.raises(FileNotFoundError):
        read_exactly_once_output(spark, base)


def test_reader_raises_on_unreadable_schema_record(spark, tmp_path):
    """An EXISTING but unreadable _schema.json (transient storage failure
    shape — fs.read_text returns None on any exception) must raise, not
    masquerade as a legacy no-schema ledger and return None."""
    import pytest

    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
    )

    base = str(tmp_path / "eo_badschema")
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "value"
    )
    sink = exactly_once_append_sink(base)
    sink(batch.limit(0), 0)
    _strip_part_files(f"{base}/batch_id=0")
    # A directory at the record path: exists() is True, read_text None.
    os.remove(f"{base}/_committed/_schema.json")
    os.mkdir(f"{base}/_committed/_schema.json")
    with pytest.raises(IOError):
        read_exactly_once_output(spark, base)


def test_schema_record_tracks_latest_batch_schema(spark, tmp_path):
    """A redeployed pipeline that evolves the sink schema must update the
    ledger record: the all-empty read then reflects the LATEST committed
    shape, not the first batch's forever."""
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
    )

    base = str(tmp_path / "eo_evolve")
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    v1 = events.select("event_id", "value").limit(0)
    v2 = events.select("event_id", "value", "user_id").limit(0)
    sink = exactly_once_append_sink(base)
    sink(v1, 0)
    sink(v2, 1)
    for i in (0, 1):
        _strip_part_files(f"{base}/batch_id={i}")
    got = read_exactly_once_output(spark, base)
    assert got.schema == v2.schema, "record must follow the latest batch"


def test_age_eviction_reports_only_actually_evicted(spark, clean_cache):
    """clear_caches_older_than must exclude entries whose DROP failed
    (and which therefore survived) from its evicted-hashes return."""
    from dbfs_spark_cache_spark import write_cache
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import clear_caches_older_than

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    write_cache(df)
    h = spark.sql(f"SHOW TABLES IN {config.CACHE_DATABASE}").filter("isTemporary = false").collect()[0].tableName

    failed = clear_caches_older_than(
        _FailingDropSession(spark), num_days=0, confirm_delete=True
    )
    assert failed == [], f"skipped entries reported as evicted: {failed}"
    assert spark.catalog.tableExists(f"{config.CACHE_DATABASE}.{h}")

    ok = clear_caches_older_than(spark, num_days=0, confirm_delete=True)
    assert h in ok
    assert not spark.catalog.tableExists(f"{config.CACHE_DATABASE}.{h}")
