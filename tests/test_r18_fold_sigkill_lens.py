"""r18 fold-maintenance SIGKILL lens: whole-JVM death inside
``fold_growing_index``'s two documented crash windows, real processes.

The fold docstring claims crash safety for two windows — (A) after the
union's parquet write but before the ``_FOLDED_OK`` marker, (C) between
removing the old ``out_path`` and renaming the temp in — and the r15
FS-fault lens proved them with in-process exception injection. (The
marker, coverage included, rides the rename, so there is no window
between publishing the dataset and recording what it covers.) This lens
upgrades that to process-level: a child JVM is SIGKILLed (no atexit, no JVM
shutdown hooks, no Python finally) while stalled at each window, the
parent asserts the window's documented intermediate state (including
that ``truncate_growing_index`` REFUSES while coverage is broken), and
a fresh JVM re-running the fold must converge to exactly the reference
fold of a twin sink built from identical inputs — no band row lost, no
duplicate surviving the distinct.

Window C has a subtlety on a FIRST fold: there is no old out_path to
remove, so death-at-rename leaves a complete marker-carrying temp and
no dataset — the recovery path finishes the swap. The lens builds
window C on a SECOND fold cycle (prior dataset exists) so the remove
has really happened when the kill lands.
"""
from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def _rowset(rows):
    return {
        tuple(tuple(x) if isinstance(x, list) else x for x in r)
        for r in rows
    }


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "2"
from pyspark.sql import SparkSession
from dbfs_spark_cache_spark import fs
from dbfs_spark_cache_spark import streaming as st

mode = {mode!r}          # "kill-marker" | "kill-rename" | "finish"
base = {base!r}
out = {out!r}
sentinel = {sentinel!r}

def _stall():
    with open(sentinel, "w") as fh:
        fh.write(mode)
    time.sleep(60)       # parent SIGKILLs us here

if mode == "kill-marker":
    real = fs.write_text
    def patched(path, content):
        if path.endswith("_FOLDED_OK"):
            _stall()
        real(path, content)
    fs.write_text = patched
elif mode == "kill-rename":
    real = fs.rename
    def patched(src, dst):
        if dst.rstrip("/") == out.rstrip("/"):
            _stall()
        real(src, dst)
    fs.rename = patched

spark = (
    SparkSession.builder.master("local[2]")
    .appName("fold-sigkill-child")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
folded = st.fold_growing_index(spark, base, out)
print("FOLD-ROWS", folded.count() if folded is not None else -1)
print("CHILD-DONE")
"""


def _run_child(mode, base, out, sentinel):
    code = _CHILD.format(repo=_REPO, mode=mode, base=base, out=out,
                         sentinel=sentinel)
    proc = subprocess.Popen(
        [sys.executable, "-c", code],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    if mode == "finish":
        out_text, _ = proc.communicate(timeout=240)
        assert "CHILD-DONE" in out_text, (
            f"finishing fold failed:\n{out_text[-3000:]}"
        )
        return
    deadline = time.time() + 180
    while not os.path.exists(sentinel):
        if proc.poll() is not None:
            body = proc.stdout.read() if proc.stdout else ""
            raise AssertionError(
                f"child finished without reaching the {mode} window:\n"
                f"{body[-3000:]}"
            )
        if time.time() > deadline:
            proc.kill()
            raise AssertionError(f"child never reached the {mode} window")
        time.sleep(0.05)
    proc.send_signal(signal.SIGKILL)
    proc.wait(timeout=60)


def _build_sink(spark, base, doc_rows):
    """Two committed ingest batches of band rows under ``base``."""
    from dbfs_spark_cache_spark import streaming as st
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame

    corpus = spark.createDataFrame(
        [(900, "static corpus document text here")], "doc_id long, text string"
    )
    sink = st.growing_corpus_dedup_sink(base, corpus_band_index_frame(corpus))
    half = len(doc_rows) // 2
    for bid, chunk in enumerate((doc_rows[:half], doc_rows[half:])):
        sink(spark.createDataFrame(chunk, "doc_id long, text string"), bid)


_DOCS = [
    (1, "alpha beta gamma delta epsilon"),
    (2, "alpha beta gamma delta epsilon"),
    (3, "unique first text body here"),
    (4, "another entirely different document"),
]


@pytest.mark.parametrize("window", ["kill-marker", "kill-rename"])
def test_fold_sigkill_window_heals(spark, tmp_path, window):
    from dbfs_spark_cache_spark import streaming as st

    base = str(tmp_path / "sink")
    out = str(tmp_path / "folds" / "out")
    ref_base = str(tmp_path / "ref_sink")
    ref_out = str(tmp_path / "folds" / "ref")
    sentinel = str(tmp_path / f"sentinel_{window}")

    _build_sink(spark, base, _DOCS)
    _build_sink(spark, ref_base, _DOCS)
    reference = st.fold_growing_index(spark, ref_base, ref_out)
    want = _rowset(reference.collect())

    if window == "kill-rename":
        # a PRIOR fold cycle so the remove-old really happens: fold once
        # cleanly, ingest one more batch, then die at the second swap
        st.fold_growing_index(spark, base, out)
        from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame

        extra = [(5, "late arriving fifth document")]
        corpus = spark.createDataFrame(
            [(900, "static corpus document text here")],
            "doc_id long, text string",
        )
        sink = st.growing_corpus_dedup_sink(base, corpus_band_index_frame(corpus))
        sink(spark.createDataFrame(extra, "doc_id long, text string"), 2)
        # mirror on the reference side for an apples-to-apples target
        ref_sink = st.growing_corpus_dedup_sink(
            ref_base, corpus_band_index_frame(corpus)
        )
        ref_sink(spark.createDataFrame(extra, "doc_id long, text string"), 2)
        reference = st.fold_growing_index(spark, ref_base, ref_out)
        want = _rowset(reference.collect())

    _run_child(window, base, out, sentinel)

    # --- the window's documented intermediate state ---
    if window == "kill-marker":
        # union written to a temp, marker missing, dataset not published
        assert not os.path.exists(out)
    elif window == "kill-rename":
        # old dataset removed, new one not renamed in: out is ABSENT but
        # a complete marker-carrying temp survives
        assert not os.path.exists(out)
        parent = os.path.dirname(out)
        temps = [d for d in os.listdir(parent) if "__folding__" in d]
        assert temps, "no fold temp survived the kill"

    # in EVERY window the truncate guard must refuse: no published fold
    # at out covers the committed ledger ids
    with pytest.raises(RuntimeError):
        st.truncate_growing_index(base, out)

    # --- fresh JVM converges ---
    _run_child("finish", base, out, sentinel)

    got = _rowset(spark.read.parquet(out).collect())
    assert got == want, (
        f"fold after SIGKILL+{window} diverged from the twin reference: "
        f"missing={len(want - got)} extra={len(got - want)}"
    )
    # and with coverage restored the truncate proceeds
    assert st.truncate_growing_index(base, out) is True
