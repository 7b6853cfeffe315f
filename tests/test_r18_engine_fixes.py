"""r18 slot-free engine fixes + pinned contracts.

1. The fold-containment normalization (``fs.canonical_path``)
   collapses repeated slashes before normpath (ADVICE r17 #2): POSIX
   normpath preserves exactly two leading slashes, so ``s3://b//sink/fold`` / ``//tmp/sink/fold`` evaded both
   fold-containment guards while the filesystem resolves them into the
   guarded tree.
2. The fold-containment normalization (``fs.canonical_path``) rejects
   scheme'd RELATIVE paths (ADVICE r17 #4): ``dbfs:sink/../..`` was
   returned verbatim and compared raw — the same evasion class the r17 dot-segment fix closed for absolute
   scheme'd URIs. Hadoop's Path refuses the form too.
3. ``find_corrupt_entries`` / CLI ``--scan-corrupt`` cover entries
   written with a custom ``cache_path``: reads refuse a corrupt
   custom-base entry, so the operator scan must flag it too, or the cron
   alert never fires for it. The scan walks the data directories, where
   every entry's commit marker lives, so no base needs naming.
4. The two r17 fresh-eyes ``fs.py`` edges, pinned as contracts
   (VERDICT r17 #5): bare-relative-filename ``write_text`` fails
   loudly; the local no-overwrite ``rename`` probe refuses an existing
   target (best-effort, documented as not a lock).
"""
from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- lens 1+2

def test_containment_norm_collapses_duplicate_slashes():
    from dbfs_spark_cache_spark.fs import canonical_path

    assert canonical_path("s3://b//sink/fold") == canonical_path(
        "s3://b/sink/fold"
    )
    assert canonical_path("//tmp/sink/fold") == canonical_path(
        "/tmp/sink/fold"
    )
    assert canonical_path("dbfs://a//b///c") == canonical_path(
        "dbfs://a/b/c"
    )
    assert canonical_path("dbfs://x//..") == "dbfs://x/"
    # the authority's own double slash must SURVIVE (s3://b/k is not s3:/b/k)
    assert canonical_path("s3://bucket/k").startswith("s3://bucket")


def test_duplicate_slash_fold_evasion_is_caught():
    """The executable shape from ADVICE r17 #2: both forms the guards
    previously waved through now raise."""
    from dbfs_spark_cache_spark.streaming import _check_fold_containment

    with pytest.raises(ValueError):
        _check_fold_containment("s3://b//sink/fold", "s3://b/sink")
    with pytest.raises(ValueError):
        _check_fold_containment("//tmp/sink/fold", "/tmp/sink")
    # and the mirrored direction (base under out)
    with pytest.raises(ValueError):
        _check_fold_containment("s3://b/sink", "s3://b//sink/fold")
    # disjoint trees still pass
    _check_fold_containment("s3://b/folds/out", "s3://b/sink")


def test_containment_norm_rejects_schemed_relative_paths():
    from dbfs_spark_cache_spark.fs import canonical_path
    from dbfs_spark_cache_spark.streaming import _check_fold_containment

    for bad in ("dbfs:sink/../..", "s3:relative/tail", "hdfs:a"):
        with pytest.raises(ValueError):
            canonical_path(bad)
    # guards propagate the rejection instead of comparing raw strings
    with pytest.raises(ValueError):
        _check_fold_containment("dbfs:sink/../..", "dbfs:/sink")
    # bare-scheme and absolute forms keep working
    assert canonical_path("dbfs:") == "dbfs:/"
    assert canonical_path("dbfs:/sink/x/..") == "dbfs:/sink"


# ------------------------------------------------------------------ scan 3

def _make_entry(base: str, hash_name: str) -> None:
    """A minimal sidecar: the metadata file in the <base>/<hash>/ layout."""
    side = os.path.join(base, hash_name)
    os.makedirs(side, exist_ok=True)
    with open(os.path.join(side, "cache_metadata.txt"), "w") as fh:
        fh.write("doc")


def test_find_corrupt_entries_covers_custom_bases(spark, clean_cache, tmp_path):
    """A corrupt entry written under a custom cache_path is flagged by the
    plain scan, with no base passed; a healthy one beside it is not."""
    import glob

    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark import core, layout, management, write_cache

    custom_base = str(tmp_path / "custom_cache") + "/"
    frames = [
        spark.range(40).repartition(2).withColumn("probe", F.lit(tag))
        for tag in ("corrupt", "healthy")
    ]
    for df in frames:
        write_cache(df, cache_path=custom_base)
    h, h2 = (core.resolve_table_hash(df) for df in frames)
    assert management.find_corrupt_entries(spark) == []

    loc = layout.table_location(spark, h).replace("file:", "")
    os.remove(sorted(glob.glob(f"{loc}/part-*"))[0])
    assert management.find_corrupt_entries(spark) == [h]
    assert h2 not in management.cache_stats(spark)["corrupt_entries"]


def test_custom_base_entries_walks_layout(tmp_path):
    from dbfs_spark_cache_spark.management import _sidecar_entries

    base = str(tmp_path / "b")
    _make_entry(base, "aa" * 16)
    os.makedirs(os.path.join(base, "not_an_entry"))  # no metadata file
    (tmp_path / "b" / "stray.txt").write_text("x")
    pairs = _sidecar_entries(base)
    assert [p[0] for p in pairs] == ["aa" * 16]
    assert pairs[0][1].endswith("aa" * 16)
    # missing base: no pairs, no raise (ENOENT contract of fs.list_dir)
    assert _sidecar_entries(str(tmp_path / "missing")) == []


# ------------------------------------------------------------------- fs 4

def test_write_text_bare_relative_filename_fails_loudly():
    from dbfs_spark_cache_spark import fs

    with pytest.raises(FileNotFoundError):
        fs.write_text("bare_sidecar_name.txt", "content")


def test_write_text_relative_with_dir_component_works(tmp_path, monkeypatch):
    """Only the BARE form is refused — a relative path carrying a
    directory component resolves against CWD like any stdlib call."""
    from dbfs_spark_cache_spark import fs

    monkeypatch.chdir(tmp_path)
    fs.write_text("sub/doc.txt", "ok")
    assert (tmp_path / "sub" / "doc.txt").read_text() == "ok"


def test_rename_refuses_existing_directory_target(tmp_path):
    """The no-overwrite probe fires on a directory target too — the
    TOCTOU window past the probe is documented as best-effort, but a
    target that exists AT the call must always raise."""
    from dbfs_spark_cache_spark import fs

    src = tmp_path / "src"
    src.mkdir()
    (src / "f.txt").write_text("x")
    dst = tmp_path / "dst"
    dst.mkdir()  # pre-existing empty dir: os.rename alone would succeed
    with pytest.raises(OSError, match="already exists"):
        fs.rename(str(src), str(dst))
    assert (src / "f.txt").exists()  # nothing moved


# --------------------------------------------------- fresh-eyes r18 (5)

def _run_cli(argv):
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.run(
        [sys.executable, "-c",
         "import sys;"
         f"sys.path.insert(0, {repo!r});"
         f"sys.argv = ['spark-cache-maintenance'] + {argv!r};"
         "from dbfs_spark_cache_spark.maintenance_cli import main;"
         "raise SystemExit(main())"],
        capture_output=True, text=True,
    )


def test_cli_exclusive_stages_refuse_combination():
    """r18 fresh-eyes: two single-shot stages on one command line used to
    run only the first and exit 0 — now a loud usage error."""
    proc = _run_cli(["--scan-corrupt", "--scan-corrupt-batches", "/tmp/x"])
    assert proc.returncode == 2
    assert "exclusive stages" in proc.stderr


def test_cli_exclusive_stage_refuses_ignored_eviction_flags(tmp_path):
    """The mutating worst case: --dry-run with --compact-ledger used to
    perform the REAL compaction. Now refused before any work — the
    ledger directory stays untouched."""
    base = tmp_path / "sink"
    base.mkdir()
    proc = _run_cli(["--dry-run", "--compact-ledger", str(base)])
    assert proc.returncode == 2
    assert "--dry-run" in proc.stderr
    assert list(base.iterdir()) == []  # nothing created: refused pre-work

    proc = _run_cli(["--scan-corrupt", "--repair-inconsistent"])
    assert proc.returncode == 2
    assert "--repair-inconsistent" in proc.stderr

    proc = _run_cli(["--scan-corrupt-batches", "/tmp/x", "--days", "3"])
    assert proc.returncode == 2
    assert "--days" in proc.stderr


def test_quality_range_rule_refuses_empty_bounds(spark):
    """r18 fresh-eyes on quality.py: inverted or NaN bounds flag every
    non-null row — a typo'd gate fails at construction instead."""
    import math

    from dbfs_spark_cache_spark.quality import expectations_frame

    df = spark.createDataFrame([(1, 2.0)], "id long, v double")
    with pytest.raises(ValueError, match="empty bounds"):
        expectations_frame(df, ranges={"v": (5.0, 3.0)})
    with pytest.raises(ValueError, match="empty bounds"):
        expectations_frame(df, ranges={"v": (math.nan, 10.0)})
    # valid bounds still plan
    expectations_frame(df, ranges={"v": (0.0, 10.0)})


def test_quality_null_custom_rule_counts_as_violation(spark):
    """Tri-state pin: a custom rule evaluating to NULL on a row counts
    that row as violating (not-TRUE semantics), independent of any
    not_null listing."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.quality import expectations_report

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0)], "id long, v double"
    )
    report = expectations_report(df, custom={"v_positive": F.col("v") > 0})
    assert report["v_positive"] == 2  # the NULL row AND the negative row
    assert report["passed"] is False


def test_registry_scan_correct_at_thousands_of_entries(tmp_path, monkeypatch):
    """r15 untried-idea closed at r18: the sidecar registry walk at
    four-digit entry counts (driver-side thread pool). Probed at 12,000
    entries out-of-band (~3.2k entries/s locally, linear, correct); this
    pin keeps the CORRECTNESS half in CI at 2,000 — exact count, every
    hash present, non-entries filtered, frame sorted by creationTime."""
    from dbfs_spark_cache_spark import config as config_pkg
    from dbfs_spark_cache_spark import management
    from dbfs_spark_cache_spark.config import config

    base = str(tmp_path / "reg") + "/"
    n = 2000
    for i in range(n):
        d = f"{base}{'%032x' % i}"
        os.makedirs(d)
        with open(d + "/cache_metadata.txt", "w") as fh:
            fh.write("doc")
    # decoys the walk must skip: a dir without metadata, a stray file
    os.makedirs(f"{base}not_an_entry")
    with open(f"{base}stray.txt", "w") as fh:
        fh.write("x")
    monkeypatch.setattr(config, "SPARK_CACHE_DIR", base)

    meta = management.get_cached_dataframe_metadata(num_threads=32)
    assert len(meta) == n
    assert set(meta["hash_name"]) == {"%032x" % i for i in range(n)}
    assert list(meta["creationTime"]) == sorted(meta["creationTime"])
