"""r17 eviction-vs-reader race lens (VERDICT r16 #4).

The r16 corrupt lens covered data loss AT REST; this lens covers the
LIVE maintenance window: ``clear_cache_for_hash`` /
``clear_caches_older_than`` / ``evict_to_size_budget`` racing readers
of the same entries. The contract under test (the maintenance CLI's
"safe to run while jobs are reading caches" claim, made mechanical):

* an API read (``read_cache_if_exist`` probe, ``cache_dataframe``
  round) that loses the race sees the entry fully gone — a clean miss
  that recomputes and rewrites — never a half-pair (sidecar without
  table or vice versa) and never partial rows served as a hit. The
  in-process guarantee comes from ``_lock_for_key``: eviction and the
  probe/write both hold the entry's lock.
* a scan HANDED OUT before the eviction and executed after it must
  never silently return fewer rows: it either sees the full committed
  data or fails LOUDLY (Spark's missing-files/table errors). Lazy
  execution happens outside any lock — loud failure is the documented
  degradation there, exactly like reading any concurrently-dropped
  table.
* the registry scans (``get_cached_dataframe_metadata``,
  ``cache_stats``, ``find_corrupt_entries``, ``evict_to_size_budget``'s
  candidate walk) must tolerate entry directories vanishing mid-listing
  (the r14 probe-lock race one level down): a disappearing dir is
  skipped, never a crash, never a phantom row.
"""
from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


@pytest.fixture()
def extended(spark, clean_cache):
    from dbfs_spark_cache_spark import extend_dataframe_methods

    extend_dataframe_methods(spark)
    return spark


def _df(extended, tag):
    return (
        extended.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("probe", F.lit(tag))
    )


_LOUD_MARKERS = (
    "filenotfound",
    "file_not_found",
    "does not exist",
    "table_or_view_not_found",
    "table or view not found",
    "path_not_found",
    "refresh table",
    "filereadexception",
    "unable_to_infer_schema",
    "unable to infer schema",
)


def _is_loud_missing(exc: Exception) -> bool:
    msg = f"{type(exc).__name__}: {exc}".lower()
    return any(m in msg for m in _LOUD_MARKERS)


def test_probe_after_eviction_is_clean_miss_and_recomputes(extended):
    """Interleaving A (eviction wins): the next API read is a clean miss
    that recomputes; the rewrite restores a fully-paired entry."""
    from dbfs_spark_cache_spark import core, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.management import clear_cache_for_hash

    df = _df(extended, "interleave_a")
    expected = df.count()
    write_cache(df)
    h = core.resolve_table_hash(df)
    assert read_cache_if_exist(df) is not None

    assert clear_cache_for_hash(extended, h) is True
    assert read_cache_if_exist(df) is None  # clean miss, no half-pair

    healed = write_cache(df)
    assert healed.count() == expected
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == expected


def test_stale_scan_after_eviction_is_never_silently_partial(extended):
    """Interleaving B (reader holds a pre-eviction scan): executing it
    after the eviction must yield the full committed rows or raise the
    loud missing-data class — NEVER a silent subset."""
    from dbfs_spark_cache_spark import core, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.management import clear_cache_for_hash

    df = _df(extended, "interleave_b")
    expected = df.count()
    write_cache(df)
    h = core.resolve_table_hash(df)
    stale = read_cache_if_exist(df)
    assert stale is not None

    assert clear_cache_for_hash(extended, h) is True
    try:
        n = stale.count()
    except Exception as exc:  # loud is the documented degradation
        assert _is_loud_missing(exc), (
            f"stale-scan failure must be the loud missing-data class, "
            f"got: {type(exc).__name__}: {exc}"
        )
    else:
        assert n == expected, (
            f"stale scan silently served {n} of {expected} rows after "
            "eviction — partial data presented as a valid hit"
        )


def test_reader_hammer_vs_repeated_eviction(extended):
    """Thread hammer: a reader loops the full API round (probe -> miss ->
    recompute+rewrite -> count) while the main thread repeatedly evicts
    the same entry. Every successful count must be exact; failures must
    be the loud class; the loop must make progress (hits or rewrites,
    never a wedged lock)."""
    from dbfs_spark_cache_spark import core, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.management import clear_cache_for_hash

    df = _df(extended, "hammer_age")
    expected = df.count()
    write_cache(df)
    h = core.resolve_table_hash(df)

    failures: list = []
    loud: list = []
    successes: list = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                got = read_cache_if_exist(df)
                if got is None:
                    got = write_cache(df)
                n = got.count()
            except Exception as exc:
                (loud if _is_loud_missing(exc) else failures).append(exc)
                continue
            if n == expected:
                successes.append(n)
            else:
                failures.append(AssertionError(f"count {n} != {expected}"))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for _ in range(12):
            clear_cache_for_hash(extended, h)
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive(), "reader wedged against the eviction lock"
    assert failures == [], (
        f"non-loud or wrong-count outcomes under eviction race: "
        f"{[str(f)[:200] for f in failures[:3]]}"
    )
    # Deterministic liveness: whatever the race left behind, the next
    # API round heals. (The in-race `successes` tally is informational
    # only — under a stalled host the evictions can finish before the
    # reader completes a single round, so it must not be asserted on.)
    got = read_cache_if_exist(df) or write_cache(df)
    assert got.count() == expected


def test_reader_hammer_vs_size_budget_eviction(extended):
    """Same hammer against evict_to_size_budget(max_bytes=0), which
    walks the registry and evicts everything it sees — the scan must
    tolerate the reader's concurrent rewrites and vice versa."""
    from dbfs_spark_cache_spark import read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.management import evict_to_size_budget

    df = _df(extended, "hammer_budget")
    expected = df.count()
    write_cache(df)

    failures: list = []
    successes: list = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                got = read_cache_if_exist(df)
                if got is None:
                    got = write_cache(df)
                n = got.count()
            except Exception as exc:
                if not _is_loud_missing(exc):
                    failures.append(exc)
                continue
            if n == expected:
                successes.append(n)
            else:
                failures.append(AssertionError(f"count {n} != {expected}"))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for _ in range(4):
            evict_to_size_budget(extended, max_bytes=0)
    finally:
        stop.set()
        t.join(timeout=180)
    assert not t.is_alive(), "reader wedged against the budget eviction"
    assert failures == [], (
        f"non-loud or wrong-count outcomes under budget-eviction race: "
        f"{[str(f)[:200] for f in failures[:3]]}"
    )
    # Deterministic liveness (see the age-eviction hammer's note).
    got = read_cache_if_exist(df) or write_cache(df)
    assert got.count() == expected


_CHILD_EVICTOR = r"""
import os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
from dbfs_spark_cache_spark import reconfigure
from dbfs_spark_cache_spark.session import get_spark
reconfigure(
    SPARK_CACHE_DIR={cache_dir!r},
    CACHE_DATABASE={db!r},
    DATABASE_PATH={warehouse!r},
)
spark = get_spark(app_name="evict_child", warehouse_dir={warehouse!r})
from dbfs_spark_cache_spark.management import clear_cache_for_hash
ok = clear_cache_for_hash(spark, {hash!r})
print("CHILD_EVICTED" if ok else "CHILD_SKIPPED")
spark.stop()
"""


def test_cross_process_eviction_degrades_to_clean_miss(extended):
    """The CLI-cron shape the maintenance docstring promises is safe: a
    SEPARATE process (own JVM, own in-memory catalog) evicts an entry the
    live session cached. The live session's next API read must be a clean
    miss (sidecar gone) that recomputes and heals — never a crash at the
    probe, never partial rows."""
    import subprocess

    from dbfs_spark_cache_spark import core, layout, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config

    df = _df(extended, "crossproc_evict")
    expected = df.count()
    write_cache(df)
    h = core.resolve_table_hash(df)
    assert read_cache_if_exist(df) is not None
    location = layout.table_location(extended, h).replace("file:", "")
    assert os.path.exists(layout.commit_marker_path(location))

    code = _CHILD_EVICTOR.format(
        repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        cache_dir=config.SPARK_CACHE_DIR,
        db=config.CACHE_DATABASE,
        warehouse=extended.conf.get("spark.sql.warehouse.dir"),
        hash=h,
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300,
    )
    assert "CHILD_EVICTED" in proc.stdout, proc.stderr[-2000:]
    assert not os.path.exists(location)

    assert read_cache_if_exist(df) is None, (
        "cross-process eviction left the live session serving a half-pair"
    )
    healed = write_cache(df)
    assert healed.count() == expected
    served = read_cache_if_exist(df)
    assert served is not None and served.count() == expected


def test_registry_scan_tolerates_dirs_vanishing_mid_listing(extended):
    """A sidecar dir listed by the base scan but deleted before its
    inspection (CLI cron + live eviction) must be skipped — no crash,
    no phantom registry row. Injected deterministically: the base
    listing reports a dir that no longer exists."""
    from dbfs_spark_cache_spark import fs, write_cache
    from dbfs_spark_cache_spark import management as mgmt
    from dbfs_spark_cache_spark.config import config

    df = _df(extended, "vanish_scan")
    write_cache(df)

    base = config.SPARK_CACHE_DIR
    phantom = fs.FileStat(
        f"{base.rstrip('/')}/deadbeef_vanished/", "deadbeef_vanished",
        0, 0, True,
    )
    real_list_dir = fs.list_dir

    def injecting(path):
        out = real_list_dir(path)
        if path == base:
            return out + [phantom]
        return out

    orig = mgmt.fs.list_dir
    mgmt.fs.list_dir = injecting
    try:
        meta = mgmt.get_cached_dataframe_metadata()
    finally:
        mgmt.fs.list_dir = orig
    names = set(meta["hash_name"]) if not meta.empty else set()
    assert "deadbeef_vanished" not in names, (
        "a vanished dir produced a phantom registry row"
    )
    assert len(names) >= 1  # the real entry survived the scan


def test_stats_and_scans_tolerate_entry_vanishing_between_phases(extended):
    """cache_stats / find_corrupt_entries / evict_to_size_budget build a
    candidate list, then stat/size/inspect each entry in a pool — an
    entry evicted between the two phases must degrade to 'gone' (size 0
    / None verdict / False eviction result), never a crash."""
    import shutil

    from dbfs_spark_cache_spark import core, layout, write_cache
    from dbfs_spark_cache_spark import management as mgmt
    from dbfs_spark_cache_spark.config import config

    df = _df(extended, "vanish_phase")
    write_cache(df)
    h = core.resolve_table_hash(df)

    # Phase gap simulated directly: the helpers each entry goes through.
    loc = layout.table_location(extended, h).replace("file:", "")
    shutil.rmtree(loc, ignore_errors=True)
    shutil.rmtree(f"{config.SPARK_CACHE_DIR}{h}", ignore_errors=True)

    assert mgmt._entry_bytes(extended, h) == 0
    assert layout.inventory_ok(loc) is None
    stats = mgmt.cache_stats(extended)
    assert h not in stats["corrupt_entries"]
    assert mgmt.find_corrupt_entries(extended) == []
