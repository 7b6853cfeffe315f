"""r15 engine fixes — ADVICE r14 closures + the fold single-owner guard
(VERDICT r14 next-round #5):

1. (medium) ``fold_growing_index`` is now CUMULATIVE across maintenance
   cycles on one ``out_path``: it unions the previous fold's committed
   content with the sink's committed batches (distinct-collapsed),
   writes to a temp sibling and swaps — the old overwrite-only fold
   silently destroyed every band row folded in an earlier cycle (silent
   dedup misses for documents ingested before the prior fold). It also
   refuses an ``out_path`` under ``base_path`` (the truncate would
   delete the fold output).
2. (guard) ``truncate_growing_index`` refuses — loudly — a ledger
   carrying committed batch ids the fold's ``_FOLDED_OK`` marker at
   ``out_path`` does not cover: the mechanical form of the "stream
   stopped, fold first" contract that previously lived only in the
   docstring.
3. (low) ``truncate_growing_index`` raises when the removal FAILS while
   the path exists — fs.remove's swallowed-OSError False was
   indistinguishable from "nothing to remove".
4. (low) ``claim_sink_checkpoint`` normalizes checkpoint paths before
   comparing (trailing slash, file: scheme, relative-vs-absolute) —
   the same physical checkpoint is never refused as foreign.
5. (low) a cache entry written where
   ``mapreduce.fileoutputcommitter.marksuccessfuljobs`` is false still
   hits in a later session (its commit record is the writer's own
   marker, not ``_SUCCESS``) instead of recomputing every session.
6. ``fs.rename`` (new primitive backing the fold swap): moves a
   directory, refuses an existing target, raises on failure.
"""
from __future__ import annotations

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


def _doc(doc_id: int, seed: str):
    return (doc_id, " ".join(f"{seed}{i * 7 % 977}" for i in range(60)))


def _docs_df(spark, docs):
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf).select(
        F.col("doc_id").cast("long"), "text"
    )


# ---------------------------------------------------------------------------
# 1. cumulative fold across maintenance cycles (ADVICE r14 #1, medium)


def test_fold_is_cumulative_across_cycles(spark, tmp_path):
    """Two full maintenance cycles against ONE out_path: the second fold
    must still carry the FIRST cycle's band rows (the old overwrite-only
    fold dropped them — documents ingested before the prior fold
    silently stopped matching)."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    corpus = _docs_df(spark, [_doc(1, "corpusseed")])
    corpus_index = corpus_band_index_frame(corpus)
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded_index")

    d_a, d_b = _doc(4_000_001, "cycleA"), _doc(4_000_002, "cycleB")

    # cycle 1: ingest batch 0, fold, truncate
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [d_a]), 0)
    folded1 = fold_growing_index(spark, base, out)
    ids1 = {r.corpus_doc_id for r in folded1.select("corpus_doc_id").distinct().collect()}
    assert d_a[0] in ids1
    assert truncate_growing_index(base, out) is True

    # cycle 2: the restarted stream continues batch ids; SAME out_path
    sink2 = growing_corpus_dedup_sink(
        base, corpus_index.unionByName(folded1), threshold=0.5
    )
    sink2(_docs_df(spark, [d_b]), 1)
    folded2 = fold_growing_index(spark, base, out)
    ids2 = {r.corpus_doc_id for r in folded2.select("corpus_doc_id").distinct().collect()}
    assert d_b[0] in ids2
    assert d_a[0] in ids2, (
        "the second fold destroyed the first cycle's band rows — "
        "documents ingested before the prior fold stop matching"
    )
    assert truncate_growing_index(base, out) is True

    # idempotence: re-folding with an empty sink returns the same set
    folded3 = fold_growing_index(spark, base, out)
    ids3 = {r.corpus_doc_id for r in folded3.select("corpus_doc_id").distinct().collect()}
    assert ids3 == ids2
    # distinct-collapse: no duplicated band rows across cycles
    assert folded3.count() == folded3.distinct().count()


def test_fold_refuses_out_path_under_base(spark, tmp_path):
    from dbfs_spark_cache_spark.streaming import fold_growing_index

    base = str(tmp_path / "grow")
    with pytest.raises(ValueError, match="under the sink base"):
        fold_growing_index(spark, base, f"{base}/folded")
    with pytest.raises(ValueError, match="under the sink base"):
        fold_growing_index(spark, base, base + "/")


def test_fold_swap_crash_recovery(spark, tmp_path):
    """Crash between remove-old and rename (the swap window): the
    complete union survives in the temp sibling; the next fold finishes
    the swap first, so nothing folded earlier is lost."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
    )

    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "cs")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded_index")

    d_a = _doc(5_000_001, "swapA")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [d_a]), 0)
    fold_growing_index(spark, base, out)

    # simulate the crash window: the completed union sits in a temp
    # sibling (writer-unique suffix), out_path was already removed
    tmp_dir = out + ".__folding__.deadbeef"
    shutil.move(out, tmp_dir)
    assert os.path.exists(f"{tmp_dir}/_SUCCESS") and not os.path.exists(out)

    folded = fold_growing_index(spark, base, out)
    ids = {r.corpus_doc_id for r in folded.select("corpus_doc_id").distinct().collect()}
    assert d_a[0] in ids
    import glob as _glob
    assert _glob.glob(out + ".__folding__*") == []  # temps all consumed


def test_fold_removes_stale_partial_temp(spark, tmp_path):
    """A partial temp dir (no _SUCCESS — crash mid-write) is discarded,
    never swapped in."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
    )

    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "cs2")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded_index")
    tmp_dir = out + ".__folding__.0badc0de"
    os.makedirs(tmp_dir)
    open(f"{tmp_dir}/part-garbage.parquet", "w").write("torn")

    d_a = _doc(5_100_001, "partialA")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [d_a]), 0)
    folded = fold_growing_index(spark, base, out)
    assert folded is not None
    ids = {r.corpus_doc_id for r in folded.select("corpus_doc_id").distinct().collect()}
    assert d_a[0] in ids
    import glob as _glob
    assert _glob.glob(out + ".__folding__*") == []


# ---------------------------------------------------------------------------
# 2. the truncate fold-coverage guard


def test_truncate_refuses_unfolded_batches(spark, tmp_path):
    """Truncating a ledger with committed ids no completed fold covers
    (no fold ran, or a batch landed after the fold) raises instead of
    silently forgetting documents."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "cs3")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded_index")

    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [_doc(6_000_001, "guardA")]), 0)

    # no fold at all -> refuse
    with pytest.raises(RuntimeError, match="not covered by a completed fold"):
        truncate_growing_index(base, out)

    fold_growing_index(spark, base, out)
    # a batch commits AFTER the fold (stream not actually stopped)
    sink(_docs_df(spark, [_doc(6_000_002, "guardB")]), 1)
    with pytest.raises(RuntimeError, match=r"\[1\]"):
        truncate_growing_index(base, out)

    # re-fold absorbs it; truncate now proceeds
    fold_growing_index(spark, base, out)
    assert truncate_growing_index(base, out) is True


# ---------------------------------------------------------------------------
# 3. truncate raises on failed removal


def test_truncate_raises_on_failed_removal(spark, tmp_path, monkeypatch):
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "cs4")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [_doc(7_000_001, "failA")]), 0)
    fold_growing_index(spark, base, out)

    real_remove = fs.remove

    def failing_remove(path, recursive=True):
        if path.endswith("/index"):
            return False  # what fs.remove returns on a swallowed OSError
        return real_remove(path, recursive)

    monkeypatch.setattr(fs, "remove", failing_remove)
    with pytest.raises(OSError, match="failed to remove"):
        truncate_growing_index(base, out)

    monkeypatch.setattr(fs, "remove", real_remove)
    assert truncate_growing_index(base, out) is True
    assert truncate_growing_index(base, out) is False  # absent stays False


# ---------------------------------------------------------------------------
# 4. claim_sink_checkpoint path normalization


def test_claim_accepts_same_physical_checkpoint_spellings(tmp_path):
    from dbfs_spark_cache_spark.streaming import claim_sink_checkpoint

    base = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    claim_sink_checkpoint(base, ckpt)
    # every spelling of the SAME physical dir resumes quietly
    claim_sink_checkpoint(base, ckpt + "/")
    claim_sink_checkpoint(base, "file:" + ckpt)
    claim_sink_checkpoint(base, "file://" + ckpt + "/")
    # a genuinely different checkpoint still raises
    with pytest.raises(ValueError, match="already belongs"):
        claim_sink_checkpoint(base, str(tmp_path / "other_ckpt"))


def test_claim_relative_path_matches_absolute(tmp_path, monkeypatch):
    from dbfs_spark_cache_spark.streaming import claim_sink_checkpoint

    monkeypatch.chdir(tmp_path)
    base = str(tmp_path / "sink2")
    claim_sink_checkpoint(base, "ckpt_rel")
    claim_sink_checkpoint(base, str(tmp_path / "ckpt_rel"))
    with pytest.raises(ValueError, match="already belongs"):
        claim_sink_checkpoint(base, str(tmp_path / "elsewhere"))


# ---------------------------------------------------------------------------
# 5. the commit guard holds under marksuccessfuljobs=false


def test_success_guard_gated_on_committer_conf(extended):
    """On a cluster whose committer writes no _SUCCESS markers
    (marksuccessfuljobs=false), a later session must still serve a valid
    cache — requiring the committer's marker there turns every
    post-restart session into a full rewrite. The entry's commit record
    is the writer's own ``_CACHE_COMMITTED`` marker, written whatever the
    committer does, so an entry WRITTEN under the markerless conf serves
    hits under ANY reader conf. The missing-marker miss is pinned by the
    crossproc test."""
    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config

    df = (
        extended.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.sum("o_totalprice").alias("total"))
    )
    hconf = extended.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    prev = hconf.get(key, "true")
    try:
        hconf.set(key, "false")  # the WRITER session's committer conf
        write_cache(df)
        h = core.resolve_table_hash(df)
        loc = layout.table_location(extended, h).replace("file:", "")

        # survive a catalog death so the probe must use the path fallback
        stash = tempfile.mkdtemp(prefix="confgate_stash_")
        shutil.copytree(loc, f"{stash}/data")
        extended.sql(f"DROP TABLE IF EXISTS {config.CACHE_DATABASE}.{h}")
        shutil.copytree(f"{stash}/data", loc, dirs_exist_ok=True)
        shutil.rmtree(stash, ignore_errors=True)
        success = f"{loc}/_SUCCESS"
        if os.path.exists(success):  # markerless committer's output
            os.remove(success)

        # the writer's own commit marker is there: hit
        served = read_cache_if_exist(df)
        assert served is not None and served.count() == df.count()
        # ...under a marker-writing READER conf too (a reader demanding
        # _SUCCESS would rewrite once per session on mixed fleets)
        hconf.set(key, prev)
        served = read_cache_if_exist(df)
        assert served is not None and served.count() == df.count()
    finally:
        hconf.set(key, prev)
        from dbfs_spark_cache_spark.management import clear_cache_for_hash

        clear_cache_for_hash(extended, core.resolve_table_hash(df))


# ---------------------------------------------------------------------------
# 6. fs.rename


def test_fs_rename_directory(tmp_path):
    from dbfs_spark_cache_spark import fs

    src = tmp_path / "src_dir"
    src.mkdir()
    (src / "a.txt").write_text("x")
    dst = tmp_path / "dst_dir"
    fs.rename(str(src), str(dst))
    assert not src.exists() and (dst / "a.txt").read_text() == "x"

    # refuses an existing target (Hadoop-parity contract)
    src2 = tmp_path / "src2"
    src2.mkdir()
    with pytest.raises(OSError, match="already exists"):
        fs.rename(str(src2), str(dst))

    # missing source raises
    with pytest.raises(OSError):
        fs.rename(str(tmp_path / "ghost"), str(tmp_path / "ghost2"))


# ---------------------------------------------------------------------------
# 7. functions-layer fresh-eyes fixes (r15 ctrl-lens discipline sweep)


def test_normalized_text_explicit_whitespace_class(spark):
    """functions.normalized_text was the one remaining Java-\\s user in
    the package: Java's \\s includes \\x0B where RE2's (DuckDB/Go) does
    not, so the shorthand normalized differently than the byte-same
    pattern on a sibling engine. Now explicit [ \\t\\n\\x0B\\f\\r]+:
    VT/FF/CR collapse, NBSP and ZWSP are preserved (they are not
    whitespace to either engine's class)."""
    from dbfs_spark_cache_spark.functions import normalized_text

    rows = [("A\x0bB",), ("C\fD\rE",), ("nb sp",), ("zw​x",), ("  Two  Words  ",)]
    df = spark.createDataFrame(rows, "t string").select(
        normalized_text("t").alias("n")
    )
    got = [r.n for r in df.collect()]
    assert got == ["a b", "c d e", "nb sp", "zw​x", "two words"]


def test_sanitize_columns_all_invalid_name(spark):
    """A column named ONLY of rejected characters ('()') must not
    sanitize to the empty string (itself an invalid table-write name)."""
    from dbfs_spark_cache_spark.functions import sanitize_columns

    df = spark.range(1).select(
        F.lit(1).alias("()"), F.lit(2).alias("sum(x)"), F.lit(3).alias("col")
    )
    clean = sanitize_columns(df)
    assert clean.columns == ["col_", "sum_x", "col"]


# ---------------------------------------------------------------------------
# 8. mtime-regression cache behavior (restored-from-backup inputs)


def test_mtime_regression_recomputes_never_stale(extended, tmp_path):
    """An input RESTORED FROM BACKUP carries an OLDER mtime than the one
    fingerprinted at cache time (mtimes normally only move forward). The
    fingerprint must treat ANY mtime change — backward included — as a
    different identity: the probe misses and the rewrite serves the
    restored file's rows, never the stale cached ones. Also pins the
    documented limitation honestly: an mtime-PRESERVING content rewrite
    (rsync -t twin) is invisible to an mtime fingerprint, exactly like
    the reference."""
    import shutil as _sh
    import time as _time

    from dbfs_spark_cache_spark import read_cache_if_exist, write_cache

    src = str(tmp_path / "input")
    os.makedirs(src)
    base = _time.time() - 3600

    def write_input(vals, mtime):
        import pandas as _pd

        pdf = _pd.DataFrame({"k": ["a", "b"], "v": vals})
        extended.createDataFrame(pdf).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        for d, _, files in os.walk(src):
            for f in files:
                os.utime(os.path.join(d, f), (mtime, mtime))

    def query():
        return (
            extended.read.parquet(src)
            .groupBy("k")
            .agg(F.sum("v").alias("total"))
        )

    write_input([1, 2], base)
    write_cache(query())
    assert read_cache_if_exist(query()) is not None  # baseline hit

    # the backup restore: DIFFERENT content, OLDER mtime
    write_input([10, 20], base - 86400)
    assert read_cache_if_exist(query()) is None, (
        "a backward mtime change must be a miss — serving the stale "
        "cache is wrong data"
    )
    served = write_cache(query())
    got = {r.k: r.total for r in served.collect()}
    assert got == {"a": 10, "b": 20}


# ---------------------------------------------------------------------------
# 9. registry scan at volume (10k sidecar entries)


def test_sidecar_registry_scales_to_10k_entries(monkeypatch, tmp_path):
    """A long-lived shared cache accumulates thousands of entries; the
    sidecar registry scan (driver-side thread pool) must stay correct —
    exact count, no dropped or phantom rows, age ordering intact — and
    finish in interactive time. Also pins that eviction SELECTION at
    volume picks exactly the stale cohort (dry-run; no Spark session
    involved on this path)."""
    import time as _time

    from dbfs_spark_cache_spark import management
    from dbfs_spark_cache_spark.config import config

    base = tmp_path / "bigcache"
    base.mkdir()
    n, n_old = 10_000, 137
    now = _time.time()
    old_cutoff = now - 30 * 86400
    for i in range(n):
        d = base / f"hash{i:05d}"
        d.mkdir()
        meta = d / "cache_metadata.txt"
        meta.write_text(f"doc {i}")
        # the first n_old entries are 30 days old, the rest fresh
        when = old_cutoff if i < n_old else now
        os.utime(meta, (when, when))
        os.utime(d, (when, when))

    monkeypatch.setattr(config, "SPARK_CACHE_DIR", str(base) + "/")

    t0 = _time.monotonic()
    frame = management.get_cached_dataframe_metadata(num_threads=32)
    elapsed = _time.monotonic() - t0
    assert len(frame) == n
    assert len(set(frame["hash_name"])) == n
    # creation-sorted: the old cohort leads
    assert set(frame["hash_name"].iloc[:n_old]) == {
        f"hash{i:05d}" for i in range(n_old)
    }
    assert elapsed < 60, f"10k-entry registry scan took {elapsed:.1f}s"

    # dry-run eviction selects exactly the stale cohort
    would = management.clear_caches_older_than(
        None, num_days=7, num_threads=32, confirm_delete=False
    )
    assert sorted(would) == [f"hash{i:05d}" for i in range(n_old)]
