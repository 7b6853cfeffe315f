"""r17 engine fixes.

1. Custom-``cache_path`` sidecar-guard symmetry (VERDICT r16 "What's
   wrong" #3 / ADVICE r16 #4): ``_record_writer_committer`` and
   ``_record_data_inventory`` always wrote their sidecars beside the
   entry's metadata file — which a custom ``cache_path`` relocates —
   while ``_writer_marks_success`` and the read-path inventory probe
   derived their paths from ``config.SPARK_CACHE_DIR`` only. Custom-base
   entries therefore recorded sidecars that no reader ever read: the
   corrupt-entry guard (r16) and the writer-discipline ``_SUCCESS`` gate
   (r15) were silently inactive for them. The read probes now receive
   the entry's actual sidecar directory from the resolved metadata path.

2. ``_containment_norm`` normalizes dot segments in scheme'd URIs too
   (ADVICE r16 #2): ``dbfs:/sink/index/../..`` previously evaded the
   fold containment guards that protect the sink tree from the swap's
   recursive remove.

3. ``maintenance_cli`` documents exit code 1 (corruption found by a
   scan stage) in the module-level contract (ADVICE r16 #3).
"""
from __future__ import annotations

import glob
import os
import shutil
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
# 1. custom cache_path sidecar symmetry


def test_custom_base_sidecars_recorded_beside_custom_metadata(
    extended, tmp_path
):
    """The writer's committer + inventory records land under the custom
    base (beside the metadata sidecar), not under SPARK_CACHE_DIR."""
    from dbfs_spark_cache_spark import core, layout, write_cache
    from dbfs_spark_cache_spark.config import config

    base = f"{tmp_path}/custom_cache/"
    df = _multi_part_df(extended, "record")
    write_cache(df, cache_path=base)
    h = core.resolve_table_hash(df)

    assert os.path.exists(f"{base}{h}/{layout.COMMITTER_FILE}")
    assert os.path.exists(f"{base}{h}/{layout.INVENTORY_FILE}")
    default_dir = f"{config.SPARK_CACHE_DIR}{h}"
    assert not os.path.exists(f"{default_dir}/{layout.COMMITTER_FILE}")
    assert not os.path.exists(f"{default_dir}/{layout.INVENTORY_FILE}")


def test_custom_base_inventory_guard_fires(extended, tmp_path):
    """The r16 corrupt-entry guard must protect custom-base entries: a
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

    write_cache(df, cache_path=base)  # heal: re-records a fresh inventory
    served = read_cache_if_exist(df, cache_path=base)
    assert served is not None and served.count() == expected


def test_custom_base_writer_committer_record_is_read(extended, tmp_path):
    """The sharp pre/post-fix discriminator for the committer half: a
    custom-base entry whose WRITER recorded marks_success_jobs=false must
    keep serving through the path fallback with no _SUCCESS marker. The
    pre-fix probe missed the custom-base sidecar and fell back to this
    reader's conf (marker-writing in local tests) — a spurious miss."""
    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark import fs

    base = f"{tmp_path}/custom_cache/"
    df = _multi_part_df(extended, "committer")
    expected = df.count()
    write_cache(df, cache_path=base)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")

    # Simulate a markerless-committer writer + a later session: rewrite
    # the record, drop the catalog entry (in-memory catalog death — the
    # managed-table files are snapshotted around the DROP, which deletes
    # them), and strip the marker the committer would not have written.
    fs.write_text(f"{base}{h}/{layout.COMMITTER_FILE}",
                  "marks_success_jobs=false")
    snapshot = f"{tmp_path}/loc_snapshot"
    shutil.copytree(loc, snapshot)
    extended.sql(f"DROP TABLE IF EXISTS {core.table_name_for_hash(h)}")
    shutil.copytree(snapshot, loc)
    success = f"{loc}/_SUCCESS"
    if os.path.exists(success):
        os.remove(success)

    served = read_cache_if_exist(df, cache_path=base)
    assert served is not None and served.count() == expected, (
        "recorded writer discipline (markerless) was ignored for a "
        "custom-base entry — reader-conf fallback forced a rewrite"
    )


def test_default_base_guards_unchanged(extended):
    """Regression guard: the default-base probes still find their
    sidecars (the r16 lens tests cover the full behavior; this pins that
    the r17 signature change kept the default path identical)."""
    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache

    df = _multi_part_df(extended, "default")
    expected = df.count()
    write_cache(df)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")
    assert os.path.exists(
        layout.inventory_path(layout.sidecar_dir(h)).replace("file:", "")
    )
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == expected
    os.remove(_parts(loc)[0])
    assert read_cache_if_exist(df) is None


# ---------------------------------------------------------------------------
# 2. scheme'd-URI dot-segment normalization in fold containment


def test_containment_norm_schemed_uri_dot_segments():
    from dbfs_spark_cache_spark.streaming import _containment_norm

    # scheme'd URIs must normalize their path component like local paths
    assert _containment_norm("dbfs:/sink/index/../..") == _containment_norm(
        "dbfs:/"
    )
    assert _containment_norm("s3://bucket/sink/./index/..") == (
        _containment_norm("s3://bucket/sink")
    )
    # and authority must be preserved, never collapsed into the path
    assert _containment_norm("s3://bucket-a/x") != _containment_norm(
        "s3://bucket-b/x"
    )
    # local behavior unchanged
    assert _containment_norm("/sink/index/../..") == _containment_norm("/")


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
