"""FS fault-injection lens (r15 — VERDICT r14 next-round #4).

The crossproc and restart lenses proved the CRASH points; this lens
covers the remaining untested failure family: the filesystem itself
failing mid-operation — ENOSPC, short write, permission denied —
injected into ``fs.write_text`` and around the cache-table write.

Contract under any injected fault:
* a torn sidecar temp file or a half-written non-``_SUCCESS`` data dir
  must degrade to MISS/RECOMPUTE, never a wrong or partial hit;
* readers racing the failure see the OLD document or absence, never a
  torn read;
* no temp files leak (the ``.tmp.*`` siblings are cleaned on every
  failure path);
* the failure is LOUD at the writer (the exception propagates) and the
  next healthy write heals the entry completely.
"""
from __future__ import annotations

import errno
import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_SMOKE  # noqa: E402


@pytest.fixture()
def extended(spark, clean_cache):
    from dbfs_spark_cache_spark import extend_dataframe_methods

    extend_dataframe_methods(spark)
    return spark


def _agg_query(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _no_tmp_leaks(root: str) -> list:
    return [
        p
        for p in glob.glob(f"{root}/**/*.tmp.*", recursive=True)
        + glob.glob(f"{root}/**/*.__folding__*", recursive=True)
    ]


# ---------------------------------------------------------------------------
# fs.write_text atomicity under injected write faults


class _Enospc:
    """Raise ENOSPC from the Nth os-level operation matched by `stage`."""

    def __init__(self, monkeypatch, stage: str):
        self.fired = False
        if stage == "write":
            import builtins

            real_open = builtins.open

            def failing_open(file, mode="r", *a, **k):
                fh = real_open(file, mode, *a, **k)
                if "w" in mode and ".tmp." in str(file):
                    real_write = fh.write

                    def short_write(s):
                        # a short write then the device fills
                        real_write(s[: max(1, len(s) // 2)])
                        self.fired = True
                        raise OSError(errno.ENOSPC, "No space left on device")

                    fh.write = short_write
                return fh

            monkeypatch.setattr(builtins, "open", failing_open)
        elif stage == "replace":
            real_replace = os.replace

            def failing_replace(src, dst, **k):
                if ".tmp." in str(src):
                    self.fired = True
                    raise OSError(errno.EACCES, "Permission denied")
                return real_replace(src, dst, **k)

            monkeypatch.setattr(os, "replace", failing_replace)


def test_write_text_enospc_mid_write_keeps_old_document(tmp_path, monkeypatch):
    """The device fills after a SHORT write into the temp sibling: the
    published document is untouched (old content), the torn temp is
    cleaned up, the failure is loud."""
    from dbfs_spark_cache_spark import fs

    target = str(tmp_path / "doc" / "meta.txt")
    fs.write_text(target, "OLD DOCUMENT")

    fault = _Enospc(monkeypatch, "write")
    with pytest.raises(OSError):
        fs.write_text(target, "NEW DOCUMENT THAT WILL NOT FIT")
    assert fault.fired
    monkeypatch.undo()

    assert open(target).read() == "OLD DOCUMENT"  # never torn
    assert _no_tmp_leaks(str(tmp_path)) == []


def test_write_text_replace_denied_keeps_old_document(tmp_path, monkeypatch):
    """Permission denied at the atomic-rename commit point: old document
    survives, temp cleaned, loud failure."""
    from dbfs_spark_cache_spark import fs

    target = str(tmp_path / "doc2" / "meta.txt")
    fs.write_text(target, "OLD")

    fault = _Enospc(monkeypatch, "replace")
    with pytest.raises(OSError):
        fs.write_text(target, "NEW")
    assert fault.fired
    monkeypatch.undo()

    assert open(target).read() == "OLD"
    assert _no_tmp_leaks(str(tmp_path)) == []


def test_write_text_enospc_on_fresh_path_leaves_absence(tmp_path, monkeypatch):
    """First-ever write fails mid-stream: the reader-visible state is
    ABSENCE (a clean miss), not a torn file."""
    from dbfs_spark_cache_spark import fs

    target = str(tmp_path / "fresh" / "meta.txt")
    fault = _Enospc(monkeypatch, "write")
    with pytest.raises(OSError):
        fs.write_text(target, "CONTENT")
    assert fault.fired
    monkeypatch.undo()

    assert not os.path.exists(target)
    assert fs.read_text(target) is None
    assert _no_tmp_leaks(str(tmp_path)) == []


# ---------------------------------------------------------------------------
# cache-engine behavior when the SIDECAR write fails mid-write_cache


def test_sidecar_enospc_degrades_to_miss_then_heals(extended, monkeypatch):
    """ENOSPC lands on the metadata-sidecar write AFTER the distributed
    table write committed: write_cache fails loudly; the probe reports a
    clean MISS (sidecar is the source of truth — no sidecar, no hit);
    the next healthy write_cache heals the entry and serves the hit; no
    temp files leak in the cache dir."""
    from dbfs_spark_cache_spark import fs, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config

    df = _agg_query(extended)
    expected = df.count()

    fault = _Enospc(monkeypatch, "write")
    with pytest.raises(OSError):
        write_cache(df)
    assert fault.fired
    monkeypatch.undo()

    # torn state: table data may exist, sidecar does not -> clean miss
    assert read_cache_if_exist(_agg_query(extended)) is None
    assert _no_tmp_leaks(config.SPARK_CACHE_DIR) == []

    # the next healthy write heals everything
    served = write_cache(_agg_query(extended))
    assert served.count() == expected
    hit = read_cache_if_exist(_agg_query(extended))
    assert hit is not None and hit.count() == expected
    assert _no_tmp_leaks(config.SPARK_CACHE_DIR) == []


def test_half_written_data_dir_recomputes_never_partial(extended):
    """The inverse torn state: sidecar committed, data dir half-written
    (some part files gone, no commit marker — what an ENOSPC mid-job leaves
    after its partial cleanup). The read must refuse the
    partial dir; write_cache must rewrite and heal to the FULL row
    count — never serve the partial rows as a hit."""
    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache

    df = _agg_query(extended)
    expected = df.count()
    write_cache(df)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")

    # simulate the ENOSPC-mid-job residue: drop the commit marker and
    # half the part files
    os.remove(layout.commit_marker_path(loc))
    parts = sorted(glob.glob(f"{loc}/part-*"))
    assert parts, "expected part files in the cache location"
    for p in parts[: max(1, len(parts) // 2)]:
        os.remove(p)

    assert read_cache_if_exist(_agg_query(extended)) is None, (
        "a half-written, uncommitted dir must be a miss, not a partial hit"
    )

    served = write_cache(_agg_query(extended))
    assert served.count() == expected
    hit = read_cache_if_exist(_agg_query(extended))
    assert hit is not None and hit.count() == expected


def test_fold_swap_rename_failure_is_loud_and_recoverable(
    spark, tmp_path, monkeypatch
):
    """Permission denied at the fold's swap-rename: the fold fails
    loudly; the completed union survives in the temp sibling; the
    retry finishes the swap and the fold output is complete."""
    import pandas as pd

    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
    )

    def docs_df(docs):
        pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
        return spark.createDataFrame(pdf).select(
            F.col("doc_id").cast("long"), "text"
        )

    doc = (
        8_000_001,
        " ".join(f"fault{i * 7 % 977}" for i in range(60)),
    )
    corpus_index = corpus_band_index_frame(
        docs_df([(1, " ".join(f"c{i}" for i in range(60)))])
    )
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(docs_df([doc]), 0)

    real_rename = fs.rename
    state = {"fired": False}

    def failing_rename(src, dst):
        if dst.rstrip("/") == out:
            state["fired"] = True
            raise OSError(errno.EACCES, "Permission denied")
        return real_rename(src, dst)

    monkeypatch.setattr(fs, "rename", failing_rename)
    with pytest.raises(OSError):
        fold_growing_index(spark, base, out)
    assert state["fired"]
    monkeypatch.setattr(fs, "rename", real_rename)

    folded = fold_growing_index(spark, base, out)  # retry heals
    ids = {
        r.corpus_doc_id
        for r in folded.select("corpus_doc_id").distinct().collect()
    }
    assert doc[0] in ids
    assert glob.glob(out + ".__folding__*") == []  # no temp leftovers
