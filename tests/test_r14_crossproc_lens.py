"""Cross-process shared-cache-dir lens (r14 follow-on, handoff idea #3).

The r14 fresh-eyes review serialized probe/write/evict within ONE driver
(`_lock_for_key`); this lens covers the half that lock cannot reach —
two OS processes sharing a cache directory, the multi-notebook/multi-job
layout the reference runs under on DBFS:

* the sidecar protocol's foundation, ``fs.write_text``'s never-torn
  guarantee, stressed by REAL concurrent writer processes against a
  reader asserting every observation is a complete document;
* the ``_SUCCESS`` job-commit guard on the read of an entry's files: a
  non-transactional cache directory without Spark's committer marker
  (exactly what a concurrent rewrite in another process exposes
  mid-flight, since ``_save_as_cache_table`` is remove-then-rewrite) is
  a clean MISS, never partial rows served as a hit;
* a genuine two-process end-to-end: a child interpreter with its own
  SparkSession writes a cache entry into the shared dir, and the parent
  session — whose catalog never heard of it — serves the hit by scanning
  the entry's files.
"""
from __future__ import annotations

import multiprocessing
import os
import shutil
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def extended(spark, clean_cache):
    from dbfs_spark_cache_spark import extend_dataframe_methods

    extend_dataframe_methods(spark)
    return spark


def _agg_query(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# fs.write_text atomicity under real processes


def _hammer_write_text(args):
    """Writer worker: repeatedly rewrite one target with self-consistent
    documents (first line repeats until the last line — a torn read
    cannot fake consistency)."""
    path, worker, n_iters = args
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dbfs_spark_cache_spark import fs

    for i in range(n_iters):
        token = f"w{worker}i{i}"
        body = "\n".join([token] * 2000)
        fs.write_text(path, body)
    return worker


def test_write_text_never_torn_across_processes(tmp_path):
    """N real writer processes hammer ONE sidecar path while this process
    reads in a loop: every successful read must be a complete document
    (2000 identical lines), never a mix of two writers or a prefix."""
    from dbfs_spark_cache_spark import fs

    target = str(tmp_path / "sidecar" / "meta.txt")
    fs.write_text(target, "\n".join(["seed"] * 2000))

    ctx = multiprocessing.get_context("fork")
    n_workers, n_iters = 4, 60
    with ctx.Pool(n_workers) as pool:
        result = pool.map_async(
            _hammer_write_text,
            [(target, w, n_iters) for w in range(n_workers)],
        )
        observed = 0
        while not result.ready():
            txt = fs.read_text(target)
            assert txt is not None, "target must never vanish mid-rewrite"
            lines = txt.split("\n")
            assert len(lines) == 2000 and len(set(lines)) == 1, (
                f"torn read: {len(lines)} lines, heads {sorted(set(lines))[:3]}"
            )
            observed += 1
        assert sorted(result.get()) == list(range(n_workers))
    assert observed > 50, "reader loop must actually have raced the writers"

    # temp siblings must not leak (each rename consumed its temp file)
    leftovers = [
        f for f in os.listdir(tmp_path / "sidecar") if f != "meta.txt"
    ]
    assert leftovers == []


# ---------------------------------------------------------------------------
# the _SUCCESS commit guard on the path fallback


def test_path_fallback_refuses_uncommitted_dir(extended):
    """A cache directory without Spark's ``_SUCCESS`` job-commit marker is
    what a reader in ANOTHER process sees mid-rewrite (remove-then-
    rewrite overwrite). The path fallback must report a clean miss —
    serving the partial part-files as a valid hit is the silent-wrong-
    data class. Restoring the marker restores the hit."""
    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config

    df = _agg_query(extended)
    write_cache(df)
    h = core.resolve_table_hash(df)
    loc = layout.table_location(extended, h).replace("file:", "")

    # survive a catalog death so the probe must use the path fallback
    stash = tempfile.mkdtemp(prefix="crossproc_stash_")
    shutil.copytree(loc, f"{stash}/data")
    extended.sql(f"DROP TABLE IF EXISTS {config.CACHE_DATABASE}.{h}")
    shutil.copytree(f"{stash}/data", loc, dirs_exist_ok=True)
    shutil.rmtree(stash, ignore_errors=True)

    assert read_cache_if_exist(_agg_query(extended)) is not None

    # mid-rewrite view: data files present, committer marker not yet
    os.remove(f"{loc}/_SUCCESS")
    assert read_cache_if_exist(_agg_query(extended)) is None, (
        "an uncommitted directory must be a miss, not a partial-rows hit"
    )

    open(f"{loc}/_SUCCESS", "w").close()
    served = read_cache_if_exist(_agg_query(extended))
    assert served is not None and served.count() == df.count()


# ---------------------------------------------------------------------------
# two real SparkSessions, one shared cache dir

_CHILD_WRITER = r"""
import os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_GRAFT_HASH_FAMILY", "portable")
from dbfs_spark_cache_spark import reconfigure, write_cache
from dbfs_spark_cache_spark.session import get_spark
reconfigure(
    SPARK_CACHE_DIR={cache_dir!r},
    CACHE_DATABASE={db!r},
    DATABASE_PATH={warehouse!r},
)
spark = get_spark(app_name="crossproc_child", warehouse_dir={warehouse!r})
from pyspark.sql import functions as F
df = (
    spark.read.parquet({orders!r})
    .groupBy("o_orderpriority")
    .agg(F.count(F.lit(1)).alias("n"))
)
write_cache(df)
print("CHILD_OK")
spark.stop()
"""


def test_child_process_write_served_by_parent_path_fallback(spark, tmp_path):
    """End-to-end cross-process handoff: a CHILD interpreter (own JVM, own
    in-memory catalog) materializes a cache entry into a shared cache +
    warehouse dir; the parent session, whose catalog has no such table,
    must serve the hit via the path fallback — committed marker present,
    values exact. The two sessions share nothing but the filesystem,
    which is the DBFS layout the engine documents."""
    from dbfs_spark_cache_spark import core, layout, fs, read_cache_if_exist
    from dbfs_spark_cache_spark.config import config

    shared_cache = str(tmp_path / "shared_cache") + "/"
    child_db = "crossproc_child_db"
    # the child gets its OWN warehouse (embedded catalogs don't share),
    # but layout.table_location derives from the SESSION's warehouse conf — so
    # point the parent probe at the child's warehouse via the location
    # the child actually wrote. To keep the probe honest we give both
    # the SAME warehouse dir: the parent's catalog still has no entry
    # for the child's table, which is exactly the fallback scenario.
    warehouse = spark.conf.get("spark.sql.warehouse.dir")

    code = _CHILD_WRITER.format(
        repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        cache_dir=shared_cache,
        db=child_db,
        warehouse=warehouse,
        orders=f"{SF_SMOKE}/orders.parquet",
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=300,
    )
    assert "CHILD_OK" in proc.stdout, proc.stderr[-2000:]

    # parent probes the shared dir under the child's namespace
    old_cache, old_db = config.SPARK_CACHE_DIR, config.CACHE_DATABASE
    try:
        config.SPARK_CACHE_DIR = shared_cache
        config.CACHE_DATABASE = child_db
        df = _agg_query(spark)
        h = core.resolve_table_hash(df)
        loc = layout.table_location(spark, h)
        assert fs.exists(f"{loc.rstrip('/')}/_SUCCESS"), (
            "child's committed write must carry the job-commit marker"
        )
        hit = read_cache_if_exist(df)
        assert hit is not None, "parent must serve the child's entry"
        assert sorted(map(tuple, hit.collect())) == sorted(
            map(tuple, df.collect())
        )
    finally:
        config.SPARK_CACHE_DIR = old_cache
        config.CACHE_DATABASE = old_db
        spark.sql(f"DROP DATABASE IF EXISTS {child_db} CASCADE")


# ---------------------------------------------------------------------------
# commit-ledger compaction racing an ACTIVE sink, in real processes


def _ledger_writer(args):
    """Sink-side worker: append markers 0..n-1 (write_text, the same
    call the sinks make), re-probing _already_committed after each —
    an id must never read uncommitted once its marker landed, no
    matter what the concurrent compactor is doing."""
    base, n = args
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.streaming import _already_committed

    regressions = []
    for i in range(n):
        fs.write_text(f"{base}/_committed/{i}.txt", f"batch {i} committed")
        for probe in range(0, i + 1, 7):  # spot-check the history too
            if not _already_committed(fs, base, probe):
                regressions.append((i, probe))
        if not _already_committed(fs, base, i):
            regressions.append((i, i))
    return regressions


def _ledger_compactor(args):
    """Maintenance-side worker: compact continuously until told to stop."""
    base, stop_path = args
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dbfs_spark_cache_spark.streaming import compact_commit_ledger

    folded = 0
    while not os.path.exists(stop_path):
        folded += compact_commit_ledger(base)
    folded += compact_commit_ledger(base)
    return folded


def test_compaction_racing_active_sink_across_processes(tmp_path):
    """The single-compactor contract's OTHER half, under real processes:
    one process folds markers into the manifest in a tight loop while a
    sink process appends markers and probes `_already_committed` after
    every append. A committed id must never flicker back to
    uncommitted (the marker-then-manifest probe order vs the
    manifest-then-delete compactor order is exactly what closes the
    interleaving hole), and the final ledger must hold every id."""
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.streaming import _ledger_state

    base = str(tmp_path / "sink")
    stop = str(tmp_path / "stop")
    os.makedirs(f"{base}/_committed", exist_ok=True)
    n = 250

    ctx = multiprocessing.get_context("fork")
    with ctx.Pool(2) as pool:
        writer = pool.apply_async(_ledger_writer, [(base, n)])
        compactor = pool.apply_async(_ledger_compactor, [(base, stop)])
        regressions = writer.get(timeout=120)
        open(stop, "w").close()
        folded = compactor.get(timeout=120)

    assert regressions == [], (
        f"ids flickered uncommitted during compaction: {regressions[:10]}"
    )
    manifest_ids, marker_ids = _ledger_state(fs, base)
    assert manifest_ids | marker_ids == set(range(n)), (
        "compaction lost committed ids"
    )
    assert folded > 0, "the compactor must actually have raced the writer"


# ---------------------------------------------------------------------------
# two SparkSessions in ONE process (spark.newSession) sharing the cache


def test_new_session_shares_cache_entries(extended):
    """The notebook-fork layout: ``spark.newSession()`` shares the
    SparkContext and the external catalog but has its own conf and temp
    views. A cache written from the parent must serve a hit in
    the forked session (no recompute), and the per-key lock covers both
    (same process). The forked probe must also produce the SAME cache
    key — the fingerprint depends on plan + input mtimes, not on which
    sibling session built the frame."""
    from dbfs_spark_cache_spark import core, read_cache_if_exist, write_cache

    df = _agg_query(extended)
    write_cache(df)
    h = core.resolve_table_hash(df)

    forked = extended.newSession()
    df2 = _agg_query(forked)
    assert core.resolve_table_hash(df2) == h, (
        "sibling sessions must agree on the cache key"
    )
    hit = read_cache_if_exist(df2)
    assert hit is not None, "forked session must see the parent's entry"
    assert hit.sparkSession is forked or hit.sparkSession._jsparkSession is not None
    assert sorted(map(tuple, hit.collect())) == sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------------------
# persistent metastore (Derby/Hive): the catalog branch across process death

_HIVE_CHILD = r"""
import os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_GRAFT_HASH_FAMILY", "portable")
os.chdir({root!r})  # derby.log lands here
from pyspark.sql import SparkSession
from dbfs_spark_cache_spark import reconfigure
reconfigure(SPARK_CACHE_DIR={cache_dir!r}, CACHE_DATABASE="hive_restart_db")
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.warehouse.dir", {warehouse!r})
    .config(
        "javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=" + {root!r} + "/metastore_db;create=true",
    )
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .enableHiveSupport()
    .getOrCreate()
)
from pyspark.sql import functions as F
df = (
    spark.read.parquet({orders!r})
    .groupBy("o_orderpriority")
    .agg(F.count(F.lit(1)).alias("n"))
)
role = {role!r}
from dbfs_spark_cache_spark import core, read_cache_if_exist, write_cache
if role == "writer":
    write_cache(df)
    print("WRITER_OK", core.resolve_table_hash(df))
else:
    h = core.resolve_table_hash(df)
    table = core.table_name_for_hash(h)
    assert spark.catalog.tableExists(table), (
        "persistent metastore must remember the table across the restart"
    )
    hit = read_cache_if_exist(df)
    assert hit is not None
    rows = sorted(map(tuple, hit.collect()))
    want = sorted(map(tuple, df.collect()))
    assert rows == want, (rows, want)
    print("READER_OK", len(rows))
spark.stop()
"""


def test_cache_survives_process_restart_via_hive_metastore(tmp_path):
    """The Databricks-shaped restart story the in-memory catalog cannot
    express: with a persistent (Derby/Hive) metastore, the catalog keeps
    the entry's table (the registry's view) and the scan of its files serves a
    cache written by a process that has since exited. Two sequential
    JVMs share only the metastore + warehouse + cache dir."""
    root = str(tmp_path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    common = dict(
        repo=repo,
        root=root,
        cache_dir=str(tmp_path / "cache") + "/",
        warehouse=str(tmp_path / "wh"),
        orders=f"{SF_SMOKE}/orders.parquet",
    )
    writer = subprocess.run(
        [sys.executable, "-c", _HIVE_CHILD.format(role="writer", **common)],
        capture_output=True, text=True, timeout=300,
    )
    assert "WRITER_OK" in writer.stdout, writer.stderr[-2000:]
    reader = subprocess.run(
        [sys.executable, "-c", _HIVE_CHILD.format(role="reader", **common)],
        capture_output=True, text=True, timeout=300,
    )
    assert "READER_OK" in reader.stdout, reader.stderr[-2000:]
