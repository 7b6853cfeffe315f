"""Kill-and-restart lens (r14 follow-on, VERDICT r13 #4 / handoff idea #1):
exactly-once across a REAL query failure + checkpoint restart, not just
hand-called redelivery.

Every prior exactly-once pin simulated redelivery by invoking the
foreachBatch function directly with a chosen batch id. This lens instead
injects a crash INSIDE the real sink at each protocol step (via a
patched ``fs.write_text``), lets the actual streaming query FAIL, then
restarts it from the same checkpoint and asserts the healed output —
which additionally proves the property the whole ledger protocol leans
on but no test had pinned end-to-end: Spark's file-source offset WAL
redelivers the failed batch with IDENTICAL content even when new files
arrived between the crash and the restart.

Crash points covered, one per protocol step in
``streaming/__init__.py``'s sink docstrings:
  * after batch data, before the ledger (schema + marker) — heal by
    redelivery overwrite;
  * after a FULL sink commit, before Spark's own commit log records the
    batch (the at-least-once boundary) — heal by marker short-circuit,
    batch directory byte-untouched;
  * between the growing dedup sink's two ledgers (matches committed,
    index not) — heal deterministically, growing property intact across
    the restart;
  * after the validated sink's clean + quarantine writes, before its
    marker — both views invisible until the healed commit.
"""
from __future__ import annotations

import glob
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _write_rows(spark, path: str, rows, mtime: float | None = None):
    """One parquet dir per arrival; mtimes spaced so the file source
    delivers arrivals in write order across drains."""
    pdf = pd.DataFrame(rows, columns=["id", "grp", "value"])
    df = spark.createDataFrame(pdf).select(
        F.col("id").cast("long"),
        F.col("grp").cast("string"),
        F.col("value").cast("double"),
    )
    df.coalesce(1).write.parquet(path)
    if mtime is not None:
        for d, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(d, f), (mtime, mtime))


def _stream(spark, src: str):
    return (
        spark.readStream.schema("id long, grp string, value double")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src)
    )


def _drain(stream_df, sink, ckpt: str):
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


class _CrashWriteText:
    """fs.write_text wrapper that raises on the first write whose path
    contains ``needle`` — the injected sink-side crash."""

    def __init__(self, fs_mod, needle: str):
        self.fs = fs_mod
        self.real = fs_mod.write_text
        self.needle = needle
        self.fired = False

    def __enter__(self):
        def crashing(path: str, content: str) -> None:
            if self.needle in path:
                self.fired = True
                raise RuntimeError(f"injected crash at {path}")
            self.real(path, content)

        self.fs.write_text = crashing
        return self

    def __exit__(self, *exc):
        self.fs.write_text = self.real
        return False


def test_crash_before_ledger_then_restart_heals(spark, tmp_path):
    """Protocol step 2->3 crash under a REAL restart: run 1's sink writes
    the batch data directory, then dies before any ledger write; the
    query fails. A second file arrives BEFORE the restart. Run 2 (same
    checkpoint) must redeliver batch 0 with EXACTLY the first file's
    rows (the offset WAL pinned the listing at plan time — the new file
    must not leak into the healed batch), then take the new file as its
    own batch. Committed view: every row exactly once, correctly
    batched."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
    )

    src = str(tmp_path / "src")
    base = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    rows_a = [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]
    rows_b = [(10, "c", 10.0), (11, "c", 11.0)]
    _write_rows(spark, f"{src}/b=1", rows_a, mtime=now - 600)

    sink = exactly_once_append_sink(base)
    with _CrashWriteText(fs, "/_committed/") as crash:
        with pytest.raises(Exception):
            _drain(_stream(spark, src), sink, ckpt)
    assert crash.fired
    # data landed, ledger did not: invisible to the exactly-once reader
    assert glob.glob(f"{base}/batch_id=0/*.parquet")
    assert read_exactly_once_output(spark, base) is None

    # a new file arrives between the crash and the restart
    _write_rows(spark, f"{src}/b=2", rows_b, mtime=now - 540)

    _drain(_stream(spark, src), sink, ckpt)  # healthy restart, same ckpt

    got = read_exactly_once_output(spark, base, include_batch_id=True)
    by_batch: dict[int, set] = {}
    for r in got.collect():
        by_batch.setdefault(r.batch_id, set()).add((r.id, r.grp, r.value))
    # healed batch 0 is EXACTLY file A — WAL content determinism
    assert by_batch[0] == set(rows_a)
    # the post-crash arrival is its own batch; nothing lost, nothing doubled
    assert set().union(*by_batch.values()) == set(rows_a) | set(rows_b)
    assert sum(len(v) for v in by_batch.values()) == len(rows_a) + len(rows_b)
    assert by_batch[max(by_batch)] == set(rows_b)


def test_crash_after_commit_restart_short_circuits(spark, tmp_path):
    """The at-least-once boundary: the sink commits FULLY (data + schema
    + marker) but the query dies before Spark's commit log records batch
    0, so the restart redelivers a fully-committed id. The marker must
    short-circuit: output unchanged, and the batch directory's part
    files byte-untouched (same names, sizes, mtimes — a redelivery
    overwrite would churn them)."""
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
    )

    src = str(tmp_path / "src")
    base = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows_a = [(1, "a", 1.0), (2, "b", 2.0)]
    _write_rows(spark, f"{src}/b=1", rows_a, mtime=time.time() - 600)

    inner = exactly_once_append_sink(base)

    def commit_then_die(batch_df, batch_id):
        inner(batch_df, batch_id)
        raise RuntimeError("injected crash after full sink commit")

    with pytest.raises(Exception):
        _drain(_stream(spark, src), commit_then_die, ckpt)

    assert os.path.exists(f"{base}/_committed/0.txt")
    fingerprint = {
        (os.path.basename(p), os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(f"{base}/batch_id=0/*")
    }
    assert fingerprint

    _drain(_stream(spark, src), inner, ckpt)  # healthy restart

    after = {
        (os.path.basename(p), os.path.getsize(p), os.path.getmtime(p))
        for p in glob.glob(f"{base}/batch_id=0/*")
    }
    assert after == fingerprint  # short-circuit: no rewrite at all
    got = read_exactly_once_output(spark, base)
    assert {(r.id, r.grp, r.value) for r in got.collect()} == set(rows_a)


def test_growing_sink_crash_between_ledgers_restart(spark, tmp_path):
    """Crash BETWEEN the growing dedup sink's two ledgers under a real
    restart: batch 0's MATCH ledger commits, its INDEX ledger does not;
    the query dies. Run 2 (same checkpoint, new arrival waiting)
    redelivers batch 0 — match sink short-circuits, index sink heals —
    then processes the new batch, whose near-dup of a batch-0 doc must
    match THROUGH the healed grown index. Match rows exactly once."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        growing_corpus_dedup_sink,
        read_exactly_once_output,
    )

    corpus = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(10)
    index = corpus_band_index_frame(corpus)

    def doc(doc_id: int, seed: str):
        # 60 distinct tokens -> a full shingle signature per doc
        return (doc_id, " ".join(f"{seed}{i * 7 % 977}" for i in range(60)))

    novel = doc(2_000_001, "restartnovel")
    # near-exact dup of `novel` (one token changed) arriving AFTER the
    # crash — only a healed, GROWN index can pair these two
    dup_tokens = novel[1].split()
    dup_tokens[0] = "zzzz"
    dup = (2_000_002, " ".join(dup_tokens))

    src = str(tmp_path / "ingest")
    base = str(tmp_path / "grow")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()

    def write_docs(path, docs, mtime):
        pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
        spark.createDataFrame(pdf).select(
            F.col("doc_id").cast("long"), "text"
        ).coalesce(1).write.parquet(path)
        for d, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(d, f), (mtime, mtime))

    write_docs(f"{src}/b=1", [novel], now - 600)
    sink = growing_corpus_dedup_sink(base, index, threshold=0.5)

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(src)
        )
        (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    with _CrashWriteText(fs, "/index/_committed/") as crash:
        with pytest.raises(Exception):
            drain()
    assert crash.fired
    # the asymmetric crash state: matches committed, index not
    assert read_exactly_once_output(spark, f"{base}/matches") is not None
    assert read_exactly_once_output(spark, f"{base}/index") is None

    write_docs(f"{src}/b=2", [dup], now - 540)
    drain()  # healthy restart

    ingested = read_exactly_once_output(
        spark, f"{base}/index", include_batch_id=True
    )
    assert {r.batch_id for r in ingested.select("batch_id").distinct().collect()} == {0, 1}

    matches = read_exactly_once_output(
        spark, f"{base}/matches", include_batch_id=True
    ).collect()
    pairs = [(r.doc_id, r.corpus_doc_id) for r in matches]
    # the cross-restart growing property: the post-crash arrival matched
    # the pre-crash doc through the HEALED index
    assert set(pairs) == {(dup[0], novel[0])}
    # exactly once at the batch level: every match row belongs to the
    # post-restart batch (the healed batch 0 recomputed an EMPTY match
    # set, identical to its pre-crash run), and the per-band multiplicity
    # is bounded by the band count — nothing doubled by the redelivery
    from dbfs_spark_cache_spark.operators.dedup import N_BANDS

    assert {r.batch_id for r in matches} == {1}
    assert 1 <= len(pairs) <= N_BANDS


def test_validated_sink_crash_before_marker_restart(spark, tmp_path):
    """Validated sink, crash after the clean AND quarantine writes but
    before the marker: both views stay invisible; the restart recommits
    and each view reads exactly once, with the marker recording the
    quarantine count."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
        read_quarantine,
    )

    src = str(tmp_path / "src")
    base = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = [(1, "a", 1.0), (2, "a", -5.0), (3, "b", 2.0), (4, "b", None)]
    _write_rows(spark, f"{src}/b=1", rows, mtime=time.time() - 600)

    sink = exactly_once_append_sink(base, valid=F.col("value") > 0)
    with _CrashWriteText(fs, "/_committed/") as crash:
        with pytest.raises(Exception):
            _drain(_stream(spark, src), sink, ckpt)
    assert crash.fired
    # quarantine data may exist on disk, but neither view surfaces it
    assert read_exactly_once_output(spark, base) is None
    assert read_quarantine(spark, base) is None

    _drain(_stream(spark, src), sink, ckpt)  # healthy restart

    clean = read_exactly_once_output(spark, base)
    assert {r.id for r in clean.collect()} == {1, 3}
    bad = read_quarantine(spark, base)
    assert {r.id for r in bad.collect()} == {2, 4}
    marker = open(f"{base}/_committed/0.txt").read()
    assert "quarantined: 2" in marker


def test_fold_and_truncate_growing_index_across_restart(spark, tmp_path):
    """The growing sink's periodic maintenance (fold -> truncate ->
    restart with the folded corpus): after the fold, a NEW near-dup of a
    previously ingested doc must still be caught — now through the
    FOLDED index, since the sink's own index was truncated — and the
    sink's index holds only post-fold batches. The folded frame must
    remain readable AFTER truncation (materialization, not a lazy view
    of the deleted dirs)."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        read_exactly_once_output,
        truncate_growing_index,
    )

    corpus = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(10)
    corpus_index = corpus_band_index_frame(corpus)

    def doc(doc_id: int, seed: str):
        return (doc_id, " ".join(f"{seed}{i * 7 % 977}" for i in range(60)))

    novel = doc(3_000_001, "foldnovel")
    dup_tokens = novel[1].split()
    dup_tokens[0] = "zzzz"
    dup = (3_000_002, " ".join(dup_tokens))

    src = str(tmp_path / "ingest")
    base = str(tmp_path / "grow")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "folded_index")
    now = time.time()

    def write_docs(path, docs, mtime):
        pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
        spark.createDataFrame(pdf).select(
            F.col("doc_id").cast("long"), "text"
        ).coalesce(1).write.parquet(path)
        for d, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(d, f), (mtime, mtime))

    def drain(index_df):
        sink = growing_corpus_dedup_sink(base, index_df, threshold=0.5)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(src)
        )
        (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # nothing committed yet: fold is a no-op, truncate says so
    assert fold_growing_index(spark, base, out) is None
    assert truncate_growing_index(base, out) is False

    write_docs(f"{src}/b=1", [novel], now - 600)
    drain(corpus_index)

    # maintenance window: fold, then truncate (stream stopped)
    folded = fold_growing_index(spark, base, out)
    assert folded is not None and folded.count() > 0
    n_folded = folded.count()
    assert truncate_growing_index(base, out) is True
    assert truncate_growing_index(base, out) is False  # idempotent
    assert read_exactly_once_output(spark, f"{base}/index") is None
    # materialization: the folded frame survives the deletion it enables
    assert folded.count() == n_folded

    # restart with the folded corpus, SAME checkpoint; new near-dup
    write_docs(f"{src}/b=2", [dup], now - 540)
    drain(corpus_index.unionByName(folded))

    matches = read_exactly_once_output(
        spark, f"{base}/matches", include_batch_id=True
    ).collect()
    post_fold = [
        (r.doc_id, r.corpus_doc_id) for r in matches if r.batch_id == 1
    ]
    # the cross-fold pair: caught through the FOLDED index only
    assert set(post_fold) == {(dup[0], novel[0])}
    # the truncated sink re-grew with only the post-fold batch
    ingested = read_exactly_once_output(
        spark, f"{base}/index", include_batch_id=True
    )
    assert {r.batch_id for r in ingested.select("batch_id").distinct().collect()} == {1}


def test_sink_base_refuses_second_checkpoint(spark, tmp_path):
    """Batch ids are unique per CHECKPOINT, not per sink base: a second
    pipeline (different checkpoint) pointed at the same base restarts
    ids at 0, short-circuits on the first pipeline's markers, and
    silently drops its own data. The managed entry point must refuse
    the foreign checkpoint loudly; the rightful checkpoint resumes."""
    from dbfs_spark_cache_spark.streaming import (
        read_exactly_once_output,
        write_stream_exactly_once,
    )

    src = str(tmp_path / "src")
    base = str(tmp_path / "out")
    ckpt1 = str(tmp_path / "ckpt1")
    ckpt2 = str(tmp_path / "ckpt2")
    now = time.time()
    rows_a = [(1, "a", 1.0), (2, "b", 2.0)]
    rows_b = [(3, "c", 3.0)]
    _write_rows(spark, f"{src}/b=1", rows_a, mtime=now - 600)

    write_stream_exactly_once(_stream(spark, src), base, ckpt1)
    assert read_exactly_once_output(spark, base).count() == len(rows_a)

    src2 = str(tmp_path / "src2")
    _write_rows(spark, f"{src2}/b=1", rows_b, mtime=now - 590)
    with pytest.raises(ValueError, match="already belongs to"):
        write_stream_exactly_once(_stream(spark, src2), base, ckpt2)
    # nothing was dropped or overwritten by the refused attempt
    assert read_exactly_once_output(spark, base).count() == len(rows_a)

    # the rightful checkpoint keeps appending
    _write_rows(spark, f"{src}/b=2", rows_b, mtime=now - 540)
    write_stream_exactly_once(_stream(spark, src), base, ckpt1)
    got = {(r.id, r.grp, r.value) for r in read_exactly_once_output(spark, base).collect()}
    assert got == set(rows_a) | set(rows_b)


def test_ledger_protocol_survives_random_crash_points(spark, tmp_path):
    """Property sweep over ARBITRARY crash points: the enumerated pins
    above each fix one protocol step; this drives the sink through an
    at-least-once delivery loop (retry-until-committed, Spark's
    contract) with crashes injected at random ledger writes, before the
    sink runs, and after a full commit — plus random decoy redeliveries
    of committed ids and single-owner compactions interleaved. For
    every seed the committed view must equal every batch exactly once,
    with correct batch attribution."""
    import random

    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.streaming import (
        compact_commit_ledger,
        exactly_once_append_sink,
        read_exactly_once_output,
    )

    real_write_text = fs.write_text
    n_batches = 4

    def batch_df(b):
        return spark.range(b * 10, b * 10 + 3).selectExpr(
            "id", "cast(id * 2 as double) AS v"
        )

    try:
        for seed in range(6):
            rng = random.Random(seed)
            base = str(tmp_path / f"chaos_{seed}")
            sink = exactly_once_append_sink(base)
            crashes = 0

            def chaotic_write_text(path, content):
                nonlocal crashes
                if crashes < 8 and rng.random() < 0.35:
                    crashes += 1
                    raise RuntimeError(f"chaos at {path}")
                real_write_text(path, content)

            fs.write_text = chaotic_write_text
            for b in range(n_batches):
                delivered = False
                for _ in range(25):  # at-least-once retry loop
                    try:
                        if crashes < 8 and rng.random() < 0.15:
                            crashes += 1
                            raise RuntimeError("chaos before sink")
                        sink(batch_df(b), b)
                        post_commit_crash = crashes < 8 and rng.random() < 0.15
                        if post_commit_crash:
                            crashes += 1
                            raise RuntimeError("chaos after commit")
                        delivered = True
                        break
                    except RuntimeError:
                        continue
                assert delivered, f"seed {seed} batch {b} never committed"
                if rng.random() < 0.3:  # decoy redelivery of an old id
                    old = rng.randrange(b + 1)
                    try:
                        sink(batch_df(old).limit(1), old)
                    except RuntimeError:
                        pass
                if rng.random() < 0.3:  # single-owner compaction
                    fs.write_text = real_write_text
                    compact_commit_ledger(base)
                    fs.write_text = chaotic_write_text

            fs.write_text = real_write_text
            got = read_exactly_once_output(spark, base, include_batch_id=True)
            rows = [(r.batch_id, r.id, r.v) for r in got.collect()]
            want = [
                (b, i, float(i * 2))
                for b in range(n_batches)
                for i in range(b * 10, b * 10 + 3)
            ]
            assert sorted(rows) == sorted(want), f"seed {seed}: {sorted(rows)}"
    finally:
        fs.write_text = real_write_text


def test_claim_sink_checkpoint_direct_and_growing(spark, tmp_path):
    """The ownership claim as a public helper for self-driven pipelines:
    idempotent for the rightful checkpoint, loud for a foreign one, and
    usable on a growing-dedup parent base (one claim covers both
    sub-ledgers, whose batch ids come from the one checkpoint)."""
    from dbfs_spark_cache_spark.streaming import claim_sink_checkpoint

    base = str(tmp_path / "out")
    claim_sink_checkpoint(base, str(tmp_path / "ck1"))
    claim_sink_checkpoint(base, str(tmp_path / "ck1"))  # idempotent
    with pytest.raises(ValueError, match="already belongs to"):
        claim_sink_checkpoint(base, str(tmp_path / "ck2"))

    grow_base = str(tmp_path / "grow")
    claim_sink_checkpoint(grow_base, str(tmp_path / "gck"))
    # the stamp is invisible to the sub-ledgers (different _committed
    # dirs entirely) and to the ledger readers (non-digit stem)
    assert os.path.exists(f"{grow_base}/_committed/_owner.txt")
    with pytest.raises(ValueError, match="already belongs to"):
        claim_sink_checkpoint(grow_base, str(tmp_path / "gck2"))
