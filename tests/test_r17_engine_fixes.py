"""r17 engine fixes.

1. Custom-``cache_path`` guard symmetry: a custom ``cache_path``
   relocates an entry's metadata sidecar, and guard records kept beside
   it were once read from ``config.SPARK_CACHE_DIR`` only, so the
   corrupt-entry and torn-write guards were silently inactive for
   custom-base entries. The entry's one commit record, the
   ``_CACHE_COMMITTED`` marker with its data-file inventory, now lives in
   the data location, which no ``cache_path`` moves.

2. The fold-containment normalization (``fs.canonical_path``)
   normalizes dot segments in scheme'd URIs too (ADVICE r16 #2):
   ``dbfs:/sink/index/../..`` previously evaded the
   fold containment guards that protect the sink tree from the swap's
   recursive remove.

3. ``maintenance_cli`` documents exit code 1 (corruption found by a
   scan stage) in the module-level contract (ADVICE r16 #3).
"""
from __future__ import annotations

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


@pytest.fixture()
def extended(spark, clean_cache):
    from dbfs_spark_cache_spark import extend_dataframe_methods

    extend_dataframe_methods(spark)
    return spark


def _multi_part_df(extended, tag):
    # repartition(3) guarantees >= 2 data files so "one part file lost"
    # is a proper subset, not an empty directory
    return (
        extended.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .repartition(3)
        .select("l_orderkey", "l_quantity")
        .withColumn("probe", F.lit(tag))
    )


def _parts(loc):
    return sorted(glob.glob(f"{loc}/part-*"))


# ---------------------------------------------------------------------------
# 1. custom cache_path guard symmetry


def test_custom_base_sidecars_recorded_beside_custom_metadata(
    extended, tmp_path
):
    """The custom base holds the metadata sidecar only; the commit marker
    sits in the data location whatever ``cache_path`` is, and nothing
    lands under SPARK_CACHE_DIR."""
    from dbfs_spark_cache_spark import core, layout, write_cache
    from dbfs_spark_cache_spark.config import config

    base = f"{tmp_path}/custom_cache/"
    df = _multi_part_df(extended, "record")
    write_cache(df, cache_path=base)
    h = core.resolve_table_hash(df)

    assert os.listdir(f"{base}{h}") == [layout.METADATA_FILE]
    loc = layout.table_location(extended, h).replace("file:", "")
    assert os.path.exists(layout.commit_marker_path(loc))
    assert not os.path.exists(f"{config.SPARK_CACHE_DIR}{h}")


def test_custom_base_inventory_guard_fires(extended, tmp_path):
    """The corrupt-entry guard must protect custom-base entries: a
    part file deleted after commit degrades to a clean miss, never a
    partial hit; a rewrite through the same base heals in place."""
    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache

    base = f"{tmp_path}/custom_cache/"
    df = _multi_part_df(extended, "inventory")
    expected = df.count()
    write_cache(df, cache_path=base)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")
    parts = _parts(loc)
    assert len(parts) >= 2

    served = read_cache_if_exist(df, cache_path=base)
    assert served is not None and served.count() == expected

    os.remove(parts[0])
    assert read_cache_if_exist(df, cache_path=base) is None, (
        "custom-base entry missing a committed part file was served as a "
        "hit — the inventory guard did not cover custom cache_path bases"
    )

    write_cache(df, cache_path=base)  # heal: a fresh marker and inventory
    served = read_cache_if_exist(df, cache_path=base)
    assert served is not None and served.count() == expected


def test_custom_base_writer_committer_record_is_read(extended, tmp_path):
    """A custom-base entry written by a committer that writes no
    ``_SUCCESS`` (marksuccessfuljobs=false) hits in a later session with
    no record of the writer's committer: its commit marker is the
    writer's own, written on every committer."""
    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache

    base = f"{tmp_path}/custom_cache/"
    df = _multi_part_df(extended, "committer")
    expected = df.count()
    hconf = extended.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    prev = hconf.get(key, "true")
    try:
        hconf.set(key, "false")
        write_cache(df, cache_path=base)
    finally:
        hconf.set(key, prev)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")
    assert not os.path.exists(f"{loc}/_SUCCESS")
    assert os.listdir(f"{base}{h}") == [layout.METADATA_FILE]

    served = read_cache_if_exist(df, cache_path=base)
    assert served is not None and served.count() == expected, (
        "an entry written without _SUCCESS missed: a rewrite per session"
    )


def test_default_base_guards_unchanged(extended):
    """Regression guard: a default-base entry carries its commit marker
    in the data location, and a part file lost after commit is a miss."""
    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache

    df = _multi_part_df(extended, "default")
    expected = df.count()
    write_cache(df)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")
    assert os.path.exists(layout.commit_marker_path(loc))
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == expected
    os.remove(_parts(loc)[0])
    assert read_cache_if_exist(df) is None


# ---------------------------------------------------------------------------
# 2. scheme'd-URI dot-segment normalization in fold containment


def test_containment_norm_schemed_uri_dot_segments():
    from dbfs_spark_cache_spark.fs import canonical_path

    # scheme'd URIs must normalize their path component like local paths
    assert canonical_path("dbfs:/sink/index/../..") == canonical_path(
        "dbfs:/"
    )
    assert canonical_path("s3://bucket/sink/./index/..") == (
        canonical_path("s3://bucket/sink")
    )
    # and authority must be preserved, never collapsed into the path
    assert canonical_path("s3://bucket-a/x") != canonical_path(
        "s3://bucket-b/x"
    )
    # local behavior unchanged
    assert canonical_path("/sink/index/../..") == canonical_path("/")


def test_fold_rejects_escaping_schemed_out_path(tmp_path):
    """A fold out_path like <sink>/index/../.. (scheme'd) must be refused
    by the containment guard, not allowed to aim the swap's recursive
    remove at the sink tree."""
    from dbfs_spark_cache_spark import streaming as st

    sink = f"{tmp_path}/sink"
    os.makedirs(f"{sink}/index", exist_ok=True)
    guard = getattr(st, "_check_fold_containment", None)
    if guard is None:
        pytest.skip("no standalone containment guard export")
    with pytest.raises(ValueError):
        guard(f"file:{sink}/index/../..", f"file:{sink}/index")


# ---------------------------------------------------------------------------
# 3. maintenance CLI exit-code contract


def test_cli_docstring_documents_exit_code_1():
    from dbfs_spark_cache_spark import maintenance_cli

    doc = maintenance_cli.__doc__ or ""
    assert "1" in doc and "corrupt" in doc.lower(), (
        "module docstring must document exit code 1 (corruption found "
        "by a scan stage) alongside 0 and 2"
    )
