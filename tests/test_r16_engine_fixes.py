"""r16 engine fixes — ADVICE r15 closures:

1. (high) ``fold_growing_index`` completeness detection no longer keys on
   the job committer's ``_SUCCESS``: on
   ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` platforms
   (the exact platform the ``_SUCCESS``-guard conf gate declares
   supported) a complete prior fold was never recognized — every
   maintenance cycle overwrote ``out_path`` with only the current
   ledger's rows, silently destroying earlier cycles' band rows, and the
   crash-recovery loop deleted a complete-but-markerless temp. The fold
   now writes its OWN ``_FOLDED_OK`` marker (fs.write_commit_marker,
   committer-independent) after the parquet write and keys
   prior-detection and recovery on it alone.
2. (medium) the fold's containment guard covers BOTH directions: a sink
   base under ``out_path`` would have the swap's remove(out_path)
   recursively delete the whole sink tree — matches ledger included.
3. (low) ``claim_sink_checkpoint`` no longer embeds the driver's CWD
   into the owner stamp for single-slash scheme'd URIs (``dbfs:/ckpt``
   has no ``://`` so is_local called it local and os.path.abspath
   prefixed the CWD); only genuinely relative scheme-less paths are
   absolutized.
4. (low) the torn-write guard on a cache entry's files does not depend
   on any session's committer conf: a marksuccessfuljobs=false READER
   still refuses a directory without the writer's own
   ``_CACHE_COMMITTED`` marker (the dangerous quadrant).
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


def _doc(doc_id: int, seed: str):
    return (doc_id, " ".join(f"{seed}{i * 7 % 977}" for i in range(60)))


def _docs_df(spark, docs):
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf).select(
        F.col("doc_id").cast("long"), "text"
    )


_MARKS_KEY = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


@pytest.fixture()
def markerless(spark):
    """Run the test under a committer that writes no _SUCCESS markers."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get(_MARKS_KEY, "true")
    hconf.set(_MARKS_KEY, "false")
    try:
        yield spark
    finally:
        hconf.set(_MARKS_KEY, prev)


# ---------------------------------------------------------------------------
# 1. fold completeness is committer-independent (ADVICE r15 #1, high)


def test_fold_cumulative_under_markerless_committer(markerless, tmp_path):
    """Two maintenance cycles on ONE out_path with
    marksuccessfuljobs=false: the committer writes no _SUCCESS anywhere,
    so _SUCCESS-keyed prior detection returned None and the second fold
    published ONLY cycle 2's rows — cycle 1's documents (whose source
    batches were already truncated) silently stopped matching. The
    fold's own _FOLDED_OK marker must keep the union cumulative."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    spark = markerless
    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "mk")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded_index")
    d_a, d_b = _doc(6_000_001, "mlA"), _doc(6_000_002, "mlB")

    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [d_a]), 0)
    folded1 = fold_growing_index(spark, base, out)
    assert not os.path.exists(f"{out}/_SUCCESS"), (
        "precondition lost: this committer must not write _SUCCESS — "
        "the markerless scenario is what this test exists to cover"
    )
    assert os.path.exists(f"{out}/_FOLDED_OK")
    assert truncate_growing_index(base, out) is True

    sink2 = growing_corpus_dedup_sink(
        base, corpus_index.unionByName(folded1), threshold=0.5
    )
    sink2(_docs_df(spark, [d_b]), 1)
    folded2 = fold_growing_index(spark, base, out)
    ids = {r.corpus_doc_id for r in
           folded2.select("corpus_doc_id").distinct().collect()}
    assert d_b[0] in ids
    assert d_a[0] in ids, (
        "markerless committer: the second fold failed to recognize the "
        "prior fold and destroyed cycle 1's band rows"
    )


def test_fold_recovery_trusts_own_marker(markerless, tmp_path):
    """Crash window under a markerless committer: a COMPLETE temp
    sibling carries _FOLDED_OK but no _SUCCESS, and out_path is gone.
    The recovery loop must finish the swap — deleting that temp loses
    the only copy of the folded union."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
    )

    spark = markerless
    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "rk")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded_index")
    d_a = _doc(6_100_001, "recA")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [d_a]), 0)
    fold_growing_index(spark, base, out)

    tmp_dir = out + ".__folding__.0ddba11"
    shutil.move(out, tmp_dir)
    assert os.path.exists(f"{tmp_dir}/_FOLDED_OK")
    assert not os.path.exists(f"{tmp_dir}/_SUCCESS")

    folded = fold_growing_index(spark, base, out)
    ids = {r.corpus_doc_id for r in
           folded.select("corpus_doc_id").distinct().collect()}
    assert d_a[0] in ids, "recovery deleted the only complete fold copy"
    assert glob.glob(out + ".__folding__*") == []


def test_fold_partial_temp_discarded_without_own_marker(markerless, tmp_path):
    """A temp WITHOUT _FOLDED_OK is a mid-write crash even when the
    committer writes no markers — it must be discarded, never renamed
    into place as a (torn) fold."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
    )

    spark = markerless
    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "pt")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded_index")
    tmp_dir = out + ".__folding__.7e4ced"
    os.makedirs(tmp_dir)
    open(f"{tmp_dir}/part-garbage.parquet", "w").write("torn")

    d_a = _doc(6_200_001, "ptA")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [d_a]), 0)
    folded = fold_growing_index(spark, base, out)
    ids = {r.corpus_doc_id for r in
           folded.select("corpus_doc_id").distinct().collect()}
    assert d_a[0] in ids
    assert glob.glob(out + ".__folding__*") == []


def test_fold_refuses_markerless_prior_dataset(spark, tmp_path):
    """An out_path holding data but no _FOLDED_OK (a fold published
    before the marker existed) must not be overwritten with only the
    current ledger's rows: once its ledger batches are truncated it holds
    the only copy of their band rows. The fold raises and leaves it as it
    is; committing it by hand adopts it as the previous fold."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "pm")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded_index")
    d_a, d_b = _doc(6_300_001, "pmA"), _doc(6_300_002, "pmB")

    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [d_a]), 0)
    fold_growing_index(spark, base, out)
    assert truncate_growing_index(base, out) is True
    os.remove(f"{out}/_FOLDED_OK")  # as a pre-marker fold left it

    sink2 = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink2(_docs_df(spark, [d_b]), 1)
    with pytest.raises(RuntimeError, match="no _FOLDED_OK marker"):
        fold_growing_index(spark, base, out)
    kept = {r.corpus_doc_id for r in
            spark.read.parquet(out).select("corpus_doc_id").distinct().collect()}
    assert d_a[0] in kept

    assert fs.write_commit_marker(out, "_FOLDED_OK")
    folded = fold_growing_index(spark, base, out)
    ids = {r.corpus_doc_id for r in
           folded.select("corpus_doc_id").distinct().collect()}
    assert {d_a[0], d_b[0]} <= ids


# ---------------------------------------------------------------------------
# 2. both containment directions refuse (ADVICE r15 #2, medium)


def test_fold_refuses_base_under_out_path(spark, tmp_path):
    """out_path an ANCESTOR of the sink: the swap's remove(out_path)
    would recursively delete the sink tree — matches ledger included.
    Must raise before touching anything."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
    )

    out = str(tmp_path / "tree")
    base = f"{out}/grow"
    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "an")]))
    d_a = _doc(6_300_001, "anA")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [d_a]), 0)

    with pytest.raises(ValueError, match="ancestor"):
        fold_growing_index(spark, out, f"{base}/../..")  # unnormalized alias
    with pytest.raises(ValueError, match="ancestor"):
        fold_growing_index(spark, base, out)
    # the sink tree survived intact: ledger + matches untouched
    assert os.path.exists(f"{base}/index/_committed/0.txt")
    assert os.path.exists(f"{base}/matches/_committed/0.txt")


# ---------------------------------------------------------------------------
# 3. scheme'd checkpoint URIs are CWD-independent (ADVICE r15 #3, low)


def test_claim_checkpoint_scheme_uri_cwd_independent(tmp_path):
    """A single-slash scheme'd URI (dbfs:/ckpt) used to be absolutized
    against the driver's CWD, so restarting the same pipeline from a
    different working directory raised a spurious foreign-checkpoint
    error. The stamp must carry the URI itself, not the CWD."""
    from dbfs_spark_cache_spark.streaming import claim_sink_checkpoint

    base = str(tmp_path / "sink")
    cwd = os.getcwd()
    try:
        os.chdir(str(tmp_path))
        claim_sink_checkpoint(base, "dbfs:/pipelines/ckpt")
        stamp = open(f"{base}/_committed/_owner.txt").read()
        assert cwd not in stamp and str(tmp_path) not in stamp
        other = tempfile.mkdtemp(prefix="claim_cwd_")
        os.chdir(other)
        # same physical checkpoint, different CWD: must be the owner
        claim_sink_checkpoint(base, "dbfs:/pipelines/ckpt")
        claim_sink_checkpoint(base, "dbfs:/pipelines/ckpt/")
        with pytest.raises(ValueError, match="already belongs"):
            claim_sink_checkpoint(base, "dbfs:/pipelines/other")
    finally:
        os.chdir(cwd)

    # genuinely relative scheme-less paths keep the r15 absolutization
    base2 = str(tmp_path / "sink2")
    try:
        os.chdir(str(tmp_path))
        claim_sink_checkpoint(base2, "rel_ckpt")
        claim_sink_checkpoint(base2, str(tmp_path / "rel_ckpt"))
    finally:
        os.chdir(cwd)


# ---------------------------------------------------------------------------
# 4. the torn-write guard holds under any reader committer conf


def _cached_agg(extended):
    return (
        extended.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .groupBy("c_mktsegment")
        .agg(F.sum("c_acctbal").alias("total"))
    )


def _path_only_entry(extended, df):
    """Write df through the engine, then kill the catalog entry so reads
    must take the path fallback. Returns (hash, location)."""
    from dbfs_spark_cache_spark import core, layout, write_cache
    from dbfs_spark_cache_spark.config import config

    write_cache(df)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")
    stash = tempfile.mkdtemp(prefix="wcommit_stash_")
    shutil.copytree(loc, f"{stash}/data")
    extended.sql(f"DROP TABLE IF EXISTS {config.CACHE_DATABASE}.{h}")
    shutil.copytree(f"{stash}/data", loc, dirs_exist_ok=True)
    shutil.rmtree(stash, ignore_errors=True)
    return h, loc


def test_writer_record_closes_markerless_reader_quadrant(extended):
    """The DANGEROUS quadrant of a committer-conf gate: an entry read by a
    marksuccessfuljobs=false READER while its commit marker is missing
    (mid-rewrite in another process). The guard must stay ON — a miss,
    never partial rows."""
    from dbfs_spark_cache_spark import layout, read_cache_if_exist

    df = _cached_agg(extended)
    h, loc = _path_only_entry(extended, df)
    marker = layout.commit_marker_path(loc)
    with open(marker) as fh:
        recorded = fh.read()

    os.remove(marker)  # another process's rewrite in flight
    hconf = extended.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get(_MARKS_KEY, "true")
    try:
        hconf.set(_MARKS_KEY, "false")
        assert read_cache_if_exist(df) is None, (
            "a markerless READER skipped the torn-write guard — partial "
            "rows served as a hit"
        )
    finally:
        hconf.set(_MARKS_KEY, prev)
    # restore the marker: the same entry is a hit again
    with open(marker, "w") as fh:
        fh.write(recorded)
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == df.count()


# ---------------------------------------------------------------------------
# 5. fold coverage <-> ledger compaction interplay


def test_fold_stamp_survives_ledger_compaction(spark, tmp_path):
    """compact_commit_ledger on the growing sink's index sub-ledger must
    fold only digit-stem markers: compacted ids stay visible through the
    manifest, and a truncate of a fully-folded ledger still succeeds
    after compaction (the fold's coverage lives in its own marker at
    out_path, which compaction never touches)."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        compact_commit_ledger,
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "cp")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [_doc(8_000_001, "cpA")]), 0)
    folded = fold_growing_index(spark, base, out)
    ids = {r.corpus_doc_id for r in
           folded.select("corpus_doc_id").distinct().collect()}
    assert 8_000_001 in ids

    assert compact_commit_ledger(f"{base}/index") == 1
    assert not os.path.exists(f"{base}/index/_committed/0.txt")
    # fully folded + compacted: truncate proceeds
    assert truncate_growing_index(base, out) is True


def test_compact_then_truncate_refuses_post_fold_batch(spark, tmp_path):
    """A batch committed AFTER the fold, then compacted into the
    manifest: its id reaches the truncate guard only via the manifest.
    Truncation must still refuse — compaction must never launder an
    unfolded batch past the coverage guard."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        compact_commit_ledger,
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "pf")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [_doc(8_100_001, "pfA")]), 0)
    fold_growing_index(spark, base, out)
    sink(_docs_df(spark, [_doc(8_100_002, "pfB")]), 1)  # post-fold batch

    assert compact_commit_ledger(f"{base}/index") == 2
    with pytest.raises(RuntimeError, match="not covered"):
        truncate_growing_index(base, out)
    # the next fold absorbs the compacted id (manifest-visible) and the
    # flow completes
    folded = fold_growing_index(spark, base, out)
    ids = {r.corpus_doc_id for r in
           folded.select("corpus_doc_id").distinct().collect()}
    assert {8_100_001, 8_100_002} <= ids
    assert truncate_growing_index(base, out) is True


# ---------------------------------------------------------------------------
# 6. cacheToDbfsIfTriggered — the README-documented method the reference
#    never implements (fresh-eyes review of extensions.py, VERDICT r15 #4)


def test_cache_if_triggered_respects_gate_and_caches_when_cleared(extended):
    from dbfs_spark_cache_spark import core

    df = (
        extended.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .groupBy("n_regionkey")
        .count()
    )
    # tiny input: complexity ~0 < the config-default 130 -> identity, no
    # table written (the README's "only trigger caching if needed")
    out = df.cacheToDbfsIfTriggered(override_prefer_spark_cache=True)
    assert out is df
    h = core.resolve_table_hash(df)
    assert core._read_cache_table(extended, h) is None

    # thresholds disabled -> the same call materializes through the cache
    out2 = df.cacheToDbfsIfTriggered(
        override_prefer_spark_cache=True,
        dbfs_cache_complexity_threshold=None,
        dbfs_cache_multiplier_threshold=None,
    )
    assert out2 is not df
    assert core._read_cache_table(extended, h) is not None
    assert out2.count() == df.count()
    # both spellings are the same method
    from pyspark.sql import DataFrame as _DF

    assert _DF.cacheToDbfsIfTriggered is _DF.cacheToStorageIfTriggered


# ---------------------------------------------------------------------------
# 7. the published dataset's own marker is the one coverage record


def test_truncate_refuses_stamp_dataset_mismatch(spark, tmp_path):
    """Dual-owner race aftermath (or a stale union renamed into place
    last): the published dataset's marker says it absorbed only batch 0
    while the ledger holds {0,1}. Truncating would silently forget batch
    1's documents; the guard refuses, and a re-fold heals (the ledger is
    still intact)."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "rc")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [_doc(8_200_001, "rcA")]), 0)
    sink(_docs_df(spark, [_doc(8_200_002, "rcB")]), 1)
    fold_growing_index(spark, base, out)

    marker = fs.read_text(f"{out}/_FOLDED_OK")
    fs.write_text(
        f"{out}/_FOLDED_OK",
        "\n".join(
            "ids=0" if line.startswith("ids=") else line
            for line in marker.splitlines()
        ),
    )
    with pytest.raises(RuntimeError, match=r"\[1\] are not covered"):
        truncate_growing_index(base, out)

    # re-fold heals: fresh union + fresh marker, truncate proceeds
    folded = fold_growing_index(spark, base, out)
    ids = {r.corpus_doc_id for r in
           folded.select("corpus_doc_id").distinct().collect()}
    assert {8_200_001, 8_200_002} <= ids
    assert truncate_growing_index(base, out) is True


def test_truncate_refuses_ids_less_marker_until_refold(spark, tmp_path):
    """A fold marker without the ``ids=`` line (written before the marker
    carried coverage) covers nothing: truncate refuses, and the next
    fold writes a full marker that lets it proceed."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "bc")]))
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [_doc(8_300_001, "bcA")]), 0)
    fold_growing_index(spark, base, out)

    marker = fs.read_text(f"{out}/_FOLDED_OK")
    fs.write_text(
        f"{out}/_FOLDED_OK",
        "\n".join(
            line for line in marker.splitlines()
            if not line.startswith("ids=")
        ),
    )
    with pytest.raises(RuntimeError, match="not covered"):
        truncate_growing_index(base, out)

    folded = fold_growing_index(spark, base, out)
    assert 8_300_001 in {
        r.corpus_doc_id for r in folded.select("corpus_doc_id").collect()
    }
    assert truncate_growing_index(base, out) is True
