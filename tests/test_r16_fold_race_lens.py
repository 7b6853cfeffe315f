"""Two-process concurrent-fold hammer (r16 late; process-level twin of
the in-process fold-coverage pins in test_r16_engine_fixes.py).

The fold flow's contract is SINGLE owner, stream stopped — this lens
certifies what happens when that contract is violated for real: two child
interpreters (own JVMs, shared filesystem) fold the same growing sink
concurrently while the parent commits another batch mid-race. Any
interleaving may make either fold fail loudly (rename collisions are
allowed failures), but the system-level invariant must hold:

    TRUNCATION NEVER SUCCEEDS WHILE THE PUBLISHED DATASET IS MISSING A
    COMMITTED BATCH'S DOCUMENTS — it either succeeds with everything
    present, or refuses (the published marker's coverage guard) and
    one healing re-fold restores completeness.

The race is genuinely nondeterministic; the assertions are written to be
correct under EVERY interleaving, so a pass certifies the guards rather
than one lucky schedule.
"""
from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD_FOLDER = r"""
import os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_GRAFT_HASH_FAMILY", "portable")
from dbfs_spark_cache_spark.session import get_spark
spark = get_spark(app_name={app!r}, warehouse_dir={warehouse!r})
from dbfs_spark_cache_spark.streaming import fold_growing_index
fold_growing_index(spark, {base!r}, {out!r})
print("FOLD_OK")
spark.stop()
"""


def _docs_df(spark, docs):
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf).select(
        F.col("doc_id").cast("long"), "text"
    )


def _doc(doc_id, seed):
    return (doc_id, " ".join(f"{seed}{i * 7 % 977}" for i in range(60)))


def test_concurrent_folds_never_silently_forget(spark, tmp_path):
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded")
    corpus_index = corpus_band_index_frame(_docs_df(spark, [_doc(1, "race")]))
    d0, d1 = _doc(9_100_001, "raceA"), _doc(9_100_002, "raceB")

    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(_docs_df(spark, [d0]), 0)

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    children = [
        subprocess.Popen(
            [sys.executable, "-c", _CHILD_FOLDER.format(
                repo=REPO, app=f"fold_race_{i}", warehouse=warehouse,
                base=base, out=out,
            )],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for i in range(2)
    ]
    # commit another batch WHILE the children race — whether each fold's
    # ledger snapshot sees it is schedule luck, which is the point
    sink(_docs_df(spark, [d1]), 1)
    results = [p.communicate(timeout=300) for p in children]
    codes = [p.returncode for p in children]
    # loud failures are allowed (rename collisions under a violated
    # single-owner contract); silent corruption is not — that is what
    # the invariant below catches.
    committed_docs = {d0[0], d1[0]}

    def folded_ids_on_disk():
        if not os.path.exists(out):
            return set()
        df = spark.read.parquet(out)
        return {
            r.corpus_doc_id
            for r in df.select("corpus_doc_id").distinct().collect()
        }

    try:
        removed = truncate_growing_index(base, out)
    except RuntimeError:
        # a guard refused — the ledger is intact, one re-fold heals
        folded = fold_growing_index(spark, base, out)
        ids = {
            r.corpus_doc_id
            for r in folded.select("corpus_doc_id").distinct().collect()
        }
        assert committed_docs <= ids, (
            f"healing re-fold lost documents: {sorted(ids)} "
            f"(children rc={codes}, out={results})"
        )
        assert truncate_growing_index(base, out) is True
    else:
        # truncation was ALLOWED: the published dataset must already
        # carry every committed batch's band rows — this assert is the
        # lens's teeth (a cross-check hole would fail here)
        assert removed is True
        ids = folded_ids_on_disk()
        assert committed_docs <= ids, (
            f"truncate succeeded while the published fold is missing "
            f"documents: have {sorted(ids)} (children rc={codes}, "
            f"out={results})"
        )

    # post-heal hygiene: the next maintenance cycle starts clean —
    # folding an empty ledger returns the (complete) prior
    final = fold_growing_index(spark, base, out)
    ids = {
        r.corpus_doc_id
        for r in final.select("corpus_doc_id").distinct().collect()
    }
    assert committed_docs <= ids


@pytest.mark.parametrize("round_trip", [1])
def test_concurrent_fold_hammer_repeats(spark, tmp_path, round_trip):
    """One more independent schedule roll of the same hammer (different
    tmp dirs, fresh JVM pair) — two rolls per suite keeps the runtime
    bounded while still sampling distinct interleavings every run."""
    test_concurrent_folds_never_silently_forget(spark, tmp_path)
