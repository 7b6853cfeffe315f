"""r16 corrupt-committed-data lens (read-side twin of the r15 FS fault
lens, which covered torn WRITES): a committed-looking cache / fold / sink
directory whose parquet is damaged AFTER commit — bit rot, partial
restore, copy-tool truncation. The contract under test:

* a corrupt cache entry must fail LOUDLY or degrade to a clean miss /
  recompute — NEVER serve partial rows as a valid hit. The dangerous
  shape is a part file DELETED after commit: the directory still scans
  cleanly and silently returns fewer rows through either read branch.
  The writer records a data-file inventory in the entry's commit marker
  (``_CACHE_COMMITTED`` in the data location); reads refuse an entry
  whose live listing disagrees, and the next write_cache heals it in
  place.
* ``cache_stats`` / ``find_corrupt_entries`` surface such entries so the
  operator sees WHY a "cached" query keeps recomputing.
* the exactly-once sink's commit markers record each batch's inventory;
  ``find_corrupt_batches`` is the cron-able scan (reads stay hot-path
  cheap; footer corruption already fails reads loudly on its own).
* a fold dataset corrupted after commit is REFUSED loudly by the next
  fold/recovery (folding from it would bake the loss into every future
  cycle as silent dedup misses).

Certification notes: footer corruption that preserves byte count fails
the read loudly (parquet magic check) — pinned below; size-changing
damage is caught by the inventory before any executor reads a byte.
"""
from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


@pytest.fixture()
def extended(spark, clean_cache):
    from dbfs_spark_cache_spark import extend_dataframe_methods

    extend_dataframe_methods(spark)
    return spark


def _multi_part_agg(extended):
    # repartition(3) guarantees >= 2 data files so "one part file lost"
    # is a proper subset, not an empty directory
    return (
        extended.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .repartition(3)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
    )


def _entry(extended, df):
    from dbfs_spark_cache_spark import core, layout, write_cache

    write_cache(df)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")
    return h, loc


def _parts(loc):
    return sorted(glob.glob(f"{loc}/part-*"))


# ---------------------------------------------------------------------------
# cache entries


def test_missing_part_file_is_miss_not_partial_hit(extended):
    """The silent-loss shape: a part file deleted AFTER commit leaves a
    directory that scans cleanly with fewer rows. Both read branches
    must report a clean miss; the next write_cache heals in place."""
    from dbfs_spark_cache_spark import read_cache_if_exist, write_cache

    df = _multi_part_agg(extended)
    expected = df.count()
    h, loc = _entry(extended, df)
    parts = _parts(loc)
    assert len(parts) >= 2
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == expected

    os.remove(parts[0])
    assert read_cache_if_exist(df) is None, (
        "a directory missing a committed part file was served as a hit "
        "— partial rows presented as valid data"
    )

    # recompute heals: the rewrite re-records a fresh inventory
    write_cache(df)
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == expected


def test_truncated_part_file_is_miss(extended):
    """Byte-level truncation (copy-tool loss) changes the inventory's
    byte count — refused before any executor reads the broken footer."""
    from dbfs_spark_cache_spark import read_cache_if_exist

    df = _multi_part_agg(extended).withColumn("probe", F.lit("trunc"))
    h, loc = _entry(extended, df)
    part = _parts(loc)[0]
    size = os.path.getsize(part)
    with open(part, "r+b") as fh:
        fh.truncate(size // 2)
    assert read_cache_if_exist(df) is None


def test_same_size_corruption_fails_loudly(extended):
    """In-place byte flips that PRESERVE the size pass the inventory, so
    the read proceeds — and must then fail LOUDLY at execution (parquet
    footer magic), never return silently wrong rows."""
    from dbfs_spark_cache_spark import read_cache_if_exist

    df = _multi_part_agg(extended).withColumn("probe", F.lit("flip"))
    h, loc = _entry(extended, df)
    part = _parts(loc)[0]
    size = os.path.getsize(part)
    with open(part, "r+b") as fh:
        fh.seek(size - 8)
        fh.write(b"\x00" * 8)  # destroy the footer magic, keep the size
    served = read_cache_if_exist(df)
    if served is not None:  # lazily served: the CORRUPTION must surface
        with pytest.raises(Exception):
            served.count()


def test_markerless_entry_is_miss_and_rewritten(extended):
    """A parquet entry without its commit marker (written before the
    marker existed, or mid-rewrite in another process) is a miss, and
    the next write rewrites it under the same key, marker included."""
    from dbfs_spark_cache_spark import (
        cache_session_stats,
        core,
        layout,
        read_cache_if_exist,
        write_cache,
    )

    df = _multi_part_agg(extended).withColumn("probe", F.lit("legacy"))
    expected = df.count()
    h, loc = _entry(extended, df)
    marker = layout.commit_marker_path(loc)
    os.remove(marker)
    assert read_cache_if_exist(df) is None

    writes = cache_session_stats()["writes"]
    write_cache(df)
    assert cache_session_stats()["writes"] == writes + 1
    assert core.resolve_table_hash(df) == h and os.path.exists(marker)
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == expected


def test_stats_surface_corrupt_entries(extended):
    """cache_stats names the corrupt entries (the operator's answer to
    'why does this cached query keep recomputing?'); find_corrupt_entries
    is the standalone read-only scan. Healing clears both."""
    from dbfs_spark_cache_spark import (
        cache_stats,
        find_corrupt_entries,
        write_cache,
    )

    df = _multi_part_agg(extended).withColumn("probe", F.lit("stats"))
    h, loc = _entry(extended, df)
    assert find_corrupt_entries(extended) == []
    os.remove(_parts(loc)[0])
    assert h in find_corrupt_entries(extended)
    assert h in cache_stats(extended)["corrupt_entries"]
    write_cache(df)  # heal
    assert find_corrupt_entries(extended) == []
    assert cache_stats(extended)["corrupt_entries"] == []


# ---------------------------------------------------------------------------
# exactly-once sink batches


def _docs_df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf).select(
        F.col("doc_id").cast("long"), "text"
    )


def test_find_corrupt_batches(spark, tmp_path):
    """The sink's commit markers now carry each batch's inventory; the
    maintenance scan names exactly the batches whose committed dirs lost
    data files afterwards."""
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        find_corrupt_batches,
    )

    base = str(tmp_path / "sink")
    sink = exactly_once_append_sink(base)
    sink(_docs_df(spark, [(1, "alpha"), (2, "beta")]).repartition(2), 0)
    sink(_docs_df(spark, [(3, "gamma")]), 1)
    assert find_corrupt_batches(base) == []

    victim = sorted(glob.glob(f"{base}/batch_id=0/part-*"))[0]
    os.remove(victim)
    assert find_corrupt_batches(base) == [0]


def test_find_corrupt_batches_covers_quarantine(spark, tmp_path):
    """The validated sink's inventory spans BOTH output dirs: quarantine
    loss is the same silent-forget class as clean-data loss (those rows
    are the re-ingest queue)."""
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        find_corrupt_batches,
    )

    base = str(tmp_path / "vsink")
    sink = exactly_once_append_sink(base, valid=F.col("text").isNotNull())
    sink(_docs_df(spark, [(1, "good"), (2, None)]), 0)
    assert find_corrupt_batches(base) == []
    victim = sorted(glob.glob(f"{base}/_quarantine/batch_id=0/part-*"))[0]
    os.remove(victim)
    assert find_corrupt_batches(base) == [0]


def test_pre_inventory_markers_skipped(spark, tmp_path):
    """Markers written before inventories existed (bare 'batch N
    committed') have nothing to compare — never flagged."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        find_corrupt_batches,
    )

    base = str(tmp_path / "oldsink")
    sink = exactly_once_append_sink(base)
    sink(_docs_df(spark, [(1, "old")]), 0)
    fs.write_text(f"{base}/_committed/0.txt", "batch 0 committed")
    os.remove(sorted(glob.glob(f"{base}/batch_id=0/part-*"))[0])
    assert find_corrupt_batches(base) == []


# ---------------------------------------------------------------------------
# fold datasets


def _seeded_fold(spark, tmp_path):
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
    )

    corpus_index = corpus_band_index_frame(
        _docs_df(spark, [(1, " ".join(f"w{i}" for i in range(40)))])
    )
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(
        _docs_df(spark, [(7_000_001, " ".join(f"q{i}" for i in range(40)))]),
        0,
    )
    fold_growing_index(spark, base, out)
    return base, out


def test_fold_refuses_corrupt_prior(spark, tmp_path):
    """A prior fold that lost a part file after commit: folding FROM it
    would bake the loss into every later cycle (silent dedup misses
    forever). Must raise, not union the remains."""
    from dbfs_spark_cache_spark.streaming import fold_growing_index

    base, out = _seeded_fold(spark, tmp_path)
    os.remove(sorted(glob.glob(f"{out}/part-*"))[0])
    with pytest.raises(RuntimeError, match="inventory"):
        fold_growing_index(spark, base, out)


def test_fold_recovery_refuses_corrupt_temp(spark, tmp_path):
    """Swap-window recovery of a complete-looking temp that was damaged:
    renaming it would PUBLISH a torn union; deleting it would discard the
    only copy. Raise and leave it for the operator."""
    from dbfs_spark_cache_spark.streaming import fold_growing_index

    base, out = _seeded_fold(spark, tmp_path)
    tmp_dir = out + ".__folding__.c0ffee"
    shutil.move(out, tmp_dir)
    os.remove(sorted(glob.glob(f"{tmp_dir}/part-*"))[0])
    with pytest.raises(RuntimeError, match="inventory"):
        fold_growing_index(spark, base, out)
    assert os.path.exists(tmp_dir), "the only copy must not be deleted"


def test_find_corrupt_batches_survives_compaction(spark, tmp_path):
    """Ledger compaction preserves each marker's inventory in the
    manifest (v2 lines), so a post-compaction data loss in a folded
    batch is still flagged — the audit used to go blind on every
    compacted id."""
    from dbfs_spark_cache_spark.streaming import (
        compact_commit_ledger,
        exactly_once_append_sink,
        find_corrupt_batches,
    )

    base = str(tmp_path / "csink")
    sink = exactly_once_append_sink(base)
    sink(_docs_df(spark, [(1, "a"), (2, "b")]).repartition(2), 0)
    sink(_docs_df(spark, [(3, "c")]), 1)
    assert compact_commit_ledger(base) == 2
    assert find_corrupt_batches(base) == []

    os.remove(sorted(glob.glob(f"{base}/batch_id=0/part-*"))[0])
    assert find_corrupt_batches(base) == [0]


def test_legacy_manifest_lines_still_parse(spark, tmp_path):
    """Manifests written before the v2 shape (bare-digit id lines) keep
    parsing for every consumer, and the next compaction carries those
    ids forward as inventory-less v2 lines."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.streaming import (
        _already_committed,
        _manifest_ids,
        compact_commit_ledger,
        exactly_once_append_sink,
        find_corrupt_batches,
    )

    base = str(tmp_path / "legacy")
    fs.write_text(f"{base}/_committed/manifest.txt", "0\n1")
    assert _manifest_ids(fs, base) == {0, 1}
    assert _already_committed(fs, base, 0) and _already_committed(fs, base, 1)
    assert find_corrupt_batches(base) == []  # no inventories: skip, no crash

    sink = exactly_once_append_sink(base)
    sink(_docs_df(spark, [(9, "z")]), 2)
    assert compact_commit_ledger(base) == 1
    assert _manifest_ids(fs, base) == {0, 1, 2}
    lines = fs.read_text(f"{base}/_committed/manifest.txt").splitlines()
    assert lines[0] == "id=0" and lines[1] == "id=1"
    assert lines[2].startswith("id=2 files=")
