"""The cron-able maintenance script end-to-end: a warehouse with one aged
and one fresh cache entry; the script evicts only the aged one (twin of the
reference's scripts/clear_old_caches.py notebook flow)."""
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_clear_old_caches_script(tmp_path):
    env = dict(
        os.environ,
        SPARK_CACHE_DIR=f"{tmp_path}/cache/",
        CACHE_DATABASE="maint_db",
        DATABASE_PATH=f"{tmp_path}/warehouse/",
        SPARK_GRAFT_CPUS="4",
        SPARK_DRIVER_MEMORY="4g",
    )
    setup = f"""
import os, sys, time
sys.path.insert(0, {REPO!r})
from pyspark.sql import functions as F
from dbfs_spark_cache_spark import write_cache
from dbfs_spark_cache_spark.config import config
from dbfs_spark_cache_spark.session import get_spark

spark = get_spark(app_name="maint_setup")
li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
write_cache(li.groupBy("l_returnflag").count())
write_cache(li.groupBy("l_linestatus").count())
entries = sorted(os.listdir(config.SPARK_CACHE_DIR))
assert len(entries) == 2, entries
# Age the first entry's sidecar by 10 days.
aged = f"{{config.SPARK_CACHE_DIR}}{{entries[0]}}/cache_metadata.txt"
past = time.time() - 10 * 86400
os.utime(aged, (past, past))
print("AGED", entries[0])

# Run the maintenance script in-process (same JVM/session).
sys.argv = ["clear_old_caches.py", "--days", "7", "--threads", "4"]
import runpy
try:
    runpy.run_path({REPO!r} + "/scripts/clear_old_caches.py", run_name="__main__")
except SystemExit as exc:
    assert exc.code == 0, exc.code

left = sorted(os.listdir(config.SPARK_CACHE_DIR))
assert left == [entries[1]], (entries, left)
print("SCRIPT_OK")
"""
    proc = subprocess.run(
        [sys.executable, "-c", setup],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "SCRIPT_OK" in proc.stdout


def test_cache_stats_summary(spark, clean_cache):
    """cache_stats must report consistent counts, sizes, and ages for a
    freshly written cache, and flag orphans after a data-only delete."""
    from dbfs_spark_cache_spark import fs, layout, resolve_table_hash, write_cache
    from dbfs_spark_cache_spark.management import cache_stats

    from tests.conftest import SF_SMOKE

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    victim = resolve_table_hash(write_cache(df))
    write_cache(df.selectExpr("r_regionkey"))

    stats = cache_stats(spark)
    assert stats["n_metadata_entries"] == 2
    assert stats["n_catalog_tables"] == 2
    assert stats["n_consistent"] == 2
    assert stats["n_orphans"] == 0
    assert stats["total_cache_bytes"] > 0
    assert stats["largest_entry_bytes"] <= stats["total_cache_bytes"]
    assert stats["oldest_entry"] is not None

    # remove one entry's data out from under its metadata -> one orphan
    assert fs.remove(layout.table_location(spark, victim))
    stats2 = cache_stats(spark)
    assert stats2["n_orphans"] == 1
    assert stats2["n_consistent"] == 1
    # the orphan is NAMED (operators need the hash to inspect it). Sizing
    # covers data + sidecar (it used to measure only the ~100-byte sidecar
    # dir and report a near-zero footprint for gigabytes of tables), so
    # removing the data genuinely reclaims its bytes while the orphan's
    # sidecar still counts: smaller than before, not zero.
    assert stats2["orphans_metadata_only"] == [victim]
    assert stats2["orphans_catalog_only"] == []
    assert 0 < stats2["total_cache_bytes"] < stats["total_cache_bytes"]


def test_dry_run_previews_repair(spark, clean_cache):
    """--dry-run --repair-inconsistent must preview EXACTLY what a real
    run would delete — including the safety rails. With only one entry,
    removing its data empties the data-directory registry, which is a
    refused state (one-registry-empty looks like a visibility problem);
    the preview must show the refusal (empty), not advertise a delete the
    run would never perform. With a second consistent entry the rails
    pass and the single orphan previews; detection stays read-only. A
    real run then evicts exactly the previewed list, refused or forced."""
    from dbfs_spark_cache_spark import fs, layout, resolve_table_hash, write_cache
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.management import (
        clear_inconsistent_cache,
        find_inconsistent_entries,
    )

    from tests.conftest import SF_SMOKE

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    victim = resolve_table_hash(write_cache(df))
    other = resolve_table_hash(write_cache(df.selectExpr("r_regionkey")))  # stays consistent
    assert fs.remove(layout.table_location(spark, victim))

    orphans = find_inconsistent_entries(spark)
    assert orphans == [victim]
    # and nothing was deleted: the metadata sidecar is still on disk
    assert os.path.isdir(f"{config.SPARK_CACHE_DIR}{victim}")

    # Refused state: remove the remaining entry's data too -> data
    # registry empty while metadata has 2 -> preview empty, force previews
    # both.
    assert fs.remove(layout.table_location(spark, other))
    assert find_inconsistent_entries(spark) == []
    previewed = find_inconsistent_entries(spark, force=True)
    assert len(previewed) == 2

    assert clear_inconsistent_cache(spark) == []
    assert clear_inconsistent_cache(spark, force=True) == previewed
    assert not os.listdir(config.SPARK_CACHE_DIR)


def test_cli_compact_ledger(tmp_path, monkeypatch, caplog):
    """--compact-ledger folds a sink ledger without needing a SparkSession."""
    import importlib
    import logging
    import sys as _sys

    from dbfs_spark_cache_spark import fs

    base = str(tmp_path / "sink")
    for i in range(3):
        fs.write_text(f"{base}/_committed/{i}.txt", f"batch {i} committed")

    from dbfs_spark_cache_spark import maintenance_cli

    monkeypatch.setattr(
        _sys, "argv", ["spark-cache-maintenance", "--compact-ledger", base]
    )
    with caplog.at_level(logging.INFO):
        assert maintenance_cli.main() == 0
    import os as _os

    assert _os.listdir(f"{base}/_committed") == ["manifest.txt"]
    # v2 manifest lines: these bare markers carried no inventory
    assert open(f"{base}/_committed/manifest.txt").read().splitlines() == [
        "id=0", "id=1", "id=2",
    ]


def test_cli_fold_growing_index(spark, tmp_path, monkeypatch, caplog):
    """--fold-growing-index BASE --fold-out OUT --truncate-after-fold is
    the cron-able form of the fold flow: folds the sink's committed
    batches into the cumulative dataset and truncates under the
    coverage guard. The missing --fold-out pairing exits via argparse."""
    import logging
    import sys as _sys

    import pandas as pd
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark import maintenance_cli, session
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import growing_corpus_dedup_sink

    def docs_df(docs):
        pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
        return spark.createDataFrame(pdf).select(
            F.col("doc_id").cast("long"), "text"
        )

    corpus_index = corpus_band_index_frame(
        docs_df([(1, " ".join(f"cli{i}" for i in range(60)))])
    )
    base = str(tmp_path / "grow")
    out = str(tmp_path / "folded")
    sink = growing_corpus_dedup_sink(base, corpus_index, threshold=0.5)
    sink(
        docs_df([(9_000_001, " ".join(f"clidoc{i * 7 % 977}" for i in range(60)))]),
        0,
    )

    # the CLI must reuse the test session and must not stop it
    class _NoStop:
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            return getattr(self._real, name)

        def stop(self):
            pass

    monkeypatch.setattr(session, "get_spark", lambda **kw: _NoStop(spark))
    monkeypatch.setattr(
        _sys,
        "argv",
        [
            "spark-cache-maintenance",
            "--fold-growing-index", base,
            "--fold-out", out,
            "--truncate-after-fold",
        ],
    )
    with caplog.at_level(logging.INFO):
        assert maintenance_cli.main() == 0
    assert os.path.exists(f"{out}/_FOLDED_OK")
    assert not os.path.exists(f"{base}/index")
    assert any("folded index" in m for m in caplog.messages)

    # pairing validation: argparse exits 2
    monkeypatch.setattr(
        _sys, "argv", ["spark-cache-maintenance", "--fold-growing-index", base]
    )
    import pytest as _pytest

    with _pytest.raises(SystemExit) as exc:
        maintenance_cli.main()
    assert exc.value.code == 2


def test_cli_scan_corrupt_batches(spark, tmp_path, monkeypatch):
    """--scan-corrupt-batches is the read-only cron stage for sink-side
    inventory audits: exit 0 clean, exit 1 (with the ids named) when a
    committed batch lost data files after commit. No SparkSession is
    started by the CLI for this stage."""
    import glob as _glob
    import sys as _sys

    import pandas as pd
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark import maintenance_cli
    from dbfs_spark_cache_spark.streaming import exactly_once_append_sink

    base = str(tmp_path / "sink")
    pdf = pd.DataFrame([(1, "a"), (2, "b")], columns=["doc_id", "text"])
    sink = exactly_once_append_sink(base)
    sink(spark.createDataFrame(pdf).select(F.col("doc_id").cast("long"), "text"), 0)

    monkeypatch.setattr(
        _sys, "argv",
        ["spark-cache-maintenance", "--scan-corrupt-batches", base],
    )
    assert maintenance_cli.main() == 0

    os.remove(sorted(_glob.glob(f"{base}/batch_id=0/part-*"))[0])
    assert maintenance_cli.main() == 1


def test_cli_scan_corrupt_entries(spark, clean_cache, monkeypatch):
    """--scan-corrupt lists cache entries failing their write-time data
    inventory: exit 1 + names when found, exit 0 once healed."""
    import glob as _glob
    import sys as _sys

    from dbfs_spark_cache_spark import core, layout, maintenance_cli, session, write_cache

    from tests.conftest import SF_SMOKE

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet").repartition(2)
    write_cache(df)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(spark, h).replace("file:", "")

    class _NoStop:
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            return getattr(self._real, name)

        def stop(self):
            pass

    monkeypatch.setattr(session, "get_spark", lambda **kw: _NoStop(spark))
    monkeypatch.setattr(
        _sys, "argv", ["spark-cache-maintenance", "--scan-corrupt"]
    )
    assert maintenance_cli.main() == 0
    os.remove(sorted(_glob.glob(f"{loc}/part-*"))[0])
    assert maintenance_cli.main() == 1
    write_cache(df)  # heal in place
    assert maintenance_cli.main() == 0
