"""End-to-end cache engine behavior on local Spark (SURVEY.md §3, §5).

Covers: fingerprint determinism/sensitivity, miss -> write -> hit round-trip,
plan substitution on hit, write-skip when metadata identical, invalidation on
input mtime change, direct-data caching, RDD rejection, threshold gates.
"""
import os
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def lineitem_copy(tmp_path, spark):
    """A private copy of lineitem so tests can bump mtimes safely."""
    src = f"{SF_SMOKE}/lineitem.parquet"
    dst = tmp_path / "lineitem.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        dst.mkdir()
        shutil.copy(src, dst / "part-0.parquet")
    return str(dst)


def _flagship(spark, path):
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def test_plan_canonicalization_strips_expr_ids(spark, lineitem_copy):
    from dbfs_spark_cache_spark import canonical_plan

    p1 = canonical_plan(_flagship(spark, lineitem_copy))
    p2 = canonical_plan(_flagship(spark, lineitem_copy))
    assert p1 == p2
    assert "#1" not in p1


def test_fingerprint_sensitive_to_query(spark, lineitem_copy):
    from dbfs_spark_cache_spark import resolve_table_hash

    df1 = _flagship(spark, lineitem_copy)
    df2 = _flagship(spark, lineitem_copy).filter(F.col("cnt") > 1)
    h1, h2 = resolve_table_hash(df1), resolve_table_hash(df2)
    assert h1 != h2
    assert len(h1) == 32


def test_miss_write_hit_roundtrip(spark, clean_cache, lineitem_copy):
    from dbfs_spark_cache_spark import canonical_plan, read_cache_if_exist, write_cache

    df = _flagship(spark, lineitem_copy)
    assert read_cache_if_exist(df) is None  # cold cache

    cached = write_cache(df)
    expected = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, cached.collect())) == expected

    hit = read_cache_if_exist(_flagship(spark, lineitem_copy))
    assert hit is not None
    assert sorted(map(tuple, hit.collect())) == expected
    # The hit's plan is a plain table scan, not the original aggregation.
    assert "Aggregate" not in canonical_plan(hit).split("== Analyzed")[0]


def test_write_skip_when_metadata_identical(spark, clean_cache, lineitem_copy):
    from dbfs_spark_cache_spark import write_cache
    from dbfs_spark_cache_spark.config import config

    df = _flagship(spark, lineitem_copy)
    write_cache(df)
    entries = os.listdir(config.SPARK_CACHE_DIR)
    assert len(entries) == 1
    meta = f"{config.SPARK_CACHE_DIR}{entries[0]}/cache_metadata.txt"
    first_mtime = os.stat(meta).st_mtime
    time.sleep(0.05)
    write_cache(df)  # identical -> must skip rewrite
    assert os.stat(meta).st_mtime == first_mtime


def test_invalidation_on_input_change(spark, clean_cache, lineitem_copy):
    from dbfs_spark_cache_spark import read_cache_if_exist, resolve_table_hash, write_cache

    df = _flagship(spark, lineitem_copy)
    h_before = resolve_table_hash(df)
    write_cache(df)

    # Touch the input -> new mtime -> new fingerprint -> cache miss.
    time.sleep(1.1)
    for name in os.listdir(lineitem_copy):
        os.utime(os.path.join(lineitem_copy, name))
    df2 = _flagship(spark, lineitem_copy)
    assert resolve_table_hash(df2) != h_before
    assert read_cache_if_exist(df2) is None


def test_cache_dataframe_threshold_skip(spark, clean_cache, lineitem_copy):
    from dbfs_spark_cache_spark import cache_dataframe
    from dbfs_spark_cache_spark.config import config

    df = _flagship(spark, lineitem_copy)
    out = cache_dataframe(df, complexity_threshold=10_000.0)
    assert out is df  # tiny input: skipped entirely
    assert not os.listdir(config.SPARK_CACHE_DIR)


def test_cache_dataframe_materializes_and_hits(spark, clean_cache, lineitem_copy):
    from dbfs_spark_cache_spark import cache_dataframe
    from dbfs_spark_cache_spark.config import config

    df = _flagship(spark, lineitem_copy)
    out = cache_dataframe(df, override_prefer_spark_cache=True)
    assert len(os.listdir(config.SPARK_CACHE_DIR)) == 1
    again = cache_dataframe(_flagship(spark, lineitem_copy),
                            override_prefer_spark_cache=True)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_spark_cache_tier(spark, clean_cache, lineitem_copy):
    from dbfs_spark_cache_spark import cache_dataframe, is_spark_cached
    from dbfs_spark_cache_spark.config import config

    df = _flagship(spark, lineitem_copy)
    out = cache_dataframe(df)  # PREFER_SPARK_CACHE=True, classic env
    assert is_spark_cached(out)
    assert not os.listdir(config.SPARK_CACHE_DIR)  # no materialized write
    out.unpersist()


def test_rdd_backed_plan_skipped(spark, clean_cache):
    from dbfs_spark_cache_spark import cache_dataframe

    rdd = spark.sparkContext.parallelize([(1, "a"), (2, "b")])
    df = spark.createDataFrame(rdd, ["id", "val"])
    assert cache_dataframe(df) is df


def test_create_cached_dataframe_hit_and_miss(spark, clean_cache):
    from dbfs_spark_cache_spark import create_cached_dataframe, resolve_table_hash

    pdf = pd.DataFrame({"x": [1, 2, 3], "y": [2.0, 4.0, 6.0]})
    df1 = create_cached_dataframe(spark, pdf)
    assert sorted(map(tuple, df1.collect())) == [(1, 2.0), (2, 4.0), (3, 6.0)]
    assert resolve_table_hash(df1).startswith("data_")

    df2 = create_cached_dataframe(spark, pdf)  # hit: same content hash
    assert resolve_table_hash(df2) == resolve_table_hash(df1)

    df3 = create_cached_dataframe(spark, pdf.assign(x=[9, 9, 9]))
    assert resolve_table_hash(df3) != resolve_table_hash(df1)


def test_extensions_attach(spark, clean_cache):
    from pyspark.sql import DataFrame

    from dbfs_spark_cache_spark import extend_dataframe_methods

    extend_dataframe_methods(spark)
    for attr in ("cacheToStorage", "cacheToDbfs", "clearStorageCache",
                 "clearDbfsCache", "withCachedDisplay", "wcd"):
        assert callable(getattr(DataFrame, attr))
    assert callable(spark.createCachedDataFrame)


def test_clear_cache_lifecycle(spark, clean_cache, lineitem_copy):
    from dbfs_spark_cache_spark import (
        clear_cache_for_hash,
        clear_inconsistent_cache,
        get_cached_dataframe_metadata,
        resolve_table_hash,
        write_cache,
    )
    from dbfs_spark_cache_spark.config import config

    df = _flagship(spark, lineitem_copy)
    write_cache(df)
    registry = get_cached_dataframe_metadata()
    assert len(registry) == 1
    h = registry.iloc[0]["hash_name"]
    assert h == resolve_table_hash(df)

    clear_cache_for_hash(spark, h)
    assert not spark.catalog.tableExists(f"{config.CACHE_DATABASE}.{h}")
    assert get_cached_dataframe_metadata().empty

    # Orphan repair: a metadata dir without a table is removed — but only
    # when a valid entry proves both registries are visible.
    write_cache(_flagship(spark, lineitem_copy))  # valid entry again
    os.makedirs(f"{config.SPARK_CACHE_DIR}{'b' * 32}", exist_ok=True)
    with open(f"{config.SPARK_CACHE_DIR}{'b' * 32}/cache_metadata.txt", "w") as fh:
        fh.write("orphan")
    removed = clear_inconsistent_cache(spark)
    assert "b" * 32 in removed
    assert not os.path.exists(f"{config.SPARK_CACHE_DIR}{'b' * 32}")
    # the valid entry survives repair
    assert len(get_cached_dataframe_metadata()) == 1


def test_clear_inconsistent_refuses_mass_delete(spark, clean_cache, lineitem_copy):
    """Safety rail: if one registry side is empty while the other is not
    (catalog-visibility problem, not N orphans), repair must refuse rather
    than delete every cache."""
    from dbfs_spark_cache_spark import clear_inconsistent_cache, write_cache
    from dbfs_spark_cache_spark.config import config

    write_cache(_flagship(spark, lineitem_copy))
    # Simulate an invisible catalog/warehouse: point the cache DB at a name
    # with no tables while the metadata sidecars remain.
    original = config.CACHE_DATABASE
    config.CACHE_DATABASE = "nonexistent_db_xyz"
    try:
        removed = clear_inconsistent_cache(spark)
        assert removed == []
    finally:
        config.CACHE_DATABASE = original
    assert len(os.listdir(config.SPARK_CACHE_DIR)) == 1  # nothing deleted


def test_derived_ops_never_short_circuit_to_parent_hash(spark, clean_cache, lineitem_copy):
    """Whitelist purity check: limit/dropDuplicates/sample over a cached scan
    are NOT pure scans — each must get its own identity, otherwise clearing
    the derived frame would drop the parent's cache (ADVICE r1, medium)."""
    from dbfs_spark_cache_spark import resolve_table_hash, write_cache

    cached = write_cache(_flagship(spark, lineitem_copy))
    parent = resolve_table_hash(cached)
    derived = {
        "limit": cached.limit(5),
        "dropDuplicates": cached.dropDuplicates(),
        "sample": cached.sample(0.5, seed=1),
        "intersect": cached.intersect(cached.limit(3)),
    }
    for label, d in derived.items():
        assert resolve_table_hash(d) != parent, f"{label} stole the parent's hash"
    # ...while a bare alias IS still the same cache entry.
    assert resolve_table_hash(cached.alias("x")) == parent


def test_path_fallback_derived_frames_do_not_collide(spark, clean_cache, tmp_path):
    """ADVICE r1 (high): two cache entries with identical schema, read back
    via the path fallback (session-restart story, no table name in the plan),
    then derived identically — their fingerprints must differ. The cache-dir
    path (which embeds the hash) participates in the metadata document."""
    from dbfs_spark_cache_spark import resolve_table_hash, write_cache
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.core import _read_cache_table
    from dbfs_spark_cache_spark.plans.fingerprint import resolve_table_hash as resolve

    src_a = tmp_path / "a.parquet"
    src_b = tmp_path / "b.parquet"
    spark.range(0, 100).toDF("v").write.parquet(str(src_a))
    spark.range(100, 200).toDF("v").write.parquet(str(src_b))

    h = {}
    for label, src in (("a", src_a), ("b", src_b)):
        df = spark.read.parquet(str(src)).filter(F.col("v") % 2 == 0)
        cached = write_cache(df)
        h[label] = resolve_table_hash(cached)
    assert h["a"] != h["b"]

    # Simulate a session restart: catalog entries gone, files remain.
    # (DROP TABLE on a managed table deletes its files, so stash them.)
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.layout import table_location

    for entry in (h["a"], h["b"]):
        loc = fs.strip_scheme(table_location(spark, entry))
        shutil.move(loc, f"{loc}__stash")
        spark.sql(f"DROP TABLE IF EXISTS {config.CACHE_DATABASE}.{entry}")
        shutil.move(f"{loc}__stash", loc)
    reread = {k: _read_cache_table(spark, v) for k, v in h.items()}
    assert all(df is not None for df in reread.values())

    derived_keys = {k: resolve(df.filter(F.col("v") > 10)) for k, df in reread.items()}
    assert derived_keys["a"] != derived_keys["b"], (
        "identical-schema derived frames over different path-read caches "
        "collided on one cache key"
    )


def test_clear_inconsistent_refuses_on_diverged_registries(spark, monkeypatch):
    """Safety rail #2: both registries non-empty but (nearly) disjoint —
    looks like a repointed cache dir, not N orphans. Refuse unless forced."""
    import pandas as pd

    from dbfs_spark_cache_spark import management

    meta = pd.DataFrame({"hash_name": ["a" * 32, "b" * 32, "c" * 32]})
    tables = pd.DataFrame({"hash_name": ["d" * 32, "e" * 32, "f" * 32]})
    monkeypatch.setattr(
        management, "get_cached_dataframe_metadata", lambda num_threads=None: meta
    )
    monkeypatch.setattr(
        management, "get_cached_tables", lambda s, num_threads=None: tables
    )
    deleted = []
    monkeypatch.setattr(
        management,
        "clear_cache_for_hash",
        lambda s, h, database=None: (deleted.append(h), True)[1],  # True = evicted
    )
    assert management.clear_inconsistent_cache(spark) == []
    assert deleted == []
    # force=True performs the (explicitly requested) full repair.
    removed = management.clear_inconsistent_cache(spark, force=True)
    assert sorted(removed) == sorted(deleted) and len(deleted) == 6


def test_lambda_variable_counter_normalized(spark, lineitem_copy):
    """Higher-order-function plans print lambda vars from a session-global
    counter (x_1, x_33, ...) — two builds of the same query must still
    fingerprint identically, else transform()/aggregate() queries never hit
    their cache."""
    from dbfs_spark_cache_spark import canonical_plan, resolve_table_hash

    def q():
        return (
            spark.read.parquet(lineitem_copy)
            .select(
                "l_orderkey",
                F.transform(
                    F.array("l_quantity", "l_extendedprice"),
                    lambda x: x.cast("double") * 2,
                ).alias("doubled"),
            )
        )

    assert canonical_plan(q()) == canonical_plan(q())
    assert resolve_table_hash(q()) == resolve_table_hash(q())


def test_lambda_normalization_spares_real_columns(spark, lineitem_copy):
    """The lambda-var normalizer is anchored to the `lambda ` prefix plans
    print: real columns that merely LOOK like lambda variables (x_1, y_2)
    must keep their counters, else `select x_1` and `select x_2` over the
    same table would share one cache key and serve wrong cached results."""
    from dbfs_spark_cache_spark import canonical_plan, resolve_table_hash

    base = spark.read.parquet(lineitem_copy).select(
        F.col("l_quantity").alias("x_1"),
        F.col("l_extendedprice").alias("x_2"),
    )
    q1 = base.select("x_1")
    q2 = base.select("x_2")
    assert canonical_plan(q1) != canonical_plan(q2)
    assert resolve_table_hash(q1) != resolve_table_hash(q2)

    # Lambda vars keep normalizing even when a same-stem real column exists.
    def hof():
        return base.select(
            "x_1",
            F.transform(F.array("x_2"), lambda v: v * 2).alias("doubled"),
        )

    assert canonical_plan(hof()) == canonical_plan(hof())


def test_sql_argument_view_names_normalized(spark):
    """``spark.sql(query, t=df)`` registers ``df`` under a fresh
    ``_pyspark_<hex>`` view name on every call. The name is normalized
    away, so two builds of a frame built that way share one key, while the
    view's body (which the plan prints) still tells two arguments apart."""
    from dbfs_spark_cache_spark import resolve_table_hash
    from dbfs_spark_cache_spark.operators.extras import udtf_tokenize

    assert resolve_table_hash(udtf_tokenize(spark, SF_SMOKE)) == resolve_table_hash(
        udtf_tokenize(spark, SF_SMOKE)
    )

    def q(n):
        return spark.sql("SELECT x FROM {t}", t=spark.range(n).select(
            F.col("id").alias("x")))

    assert resolve_table_hash(q(10)) == resolve_table_hash(q(10))
    assert resolve_table_hash(q(10)) != resolve_table_hash(q(20))


def test_corrupt_metadata_sidecar_heals_on_next_write(spark, clean_cache, lineitem_copy):
    """A torn/corrupted cache_metadata.txt (partial upload, truncated copy)
    must not poison the entry: the read path keys on the DataFrame's OWN
    fingerprint (sidecar existence is only the liveness signal, mirroring
    the reference's head+tableExists check), so hits keep serving; and the
    next write_cache sees non-identical metadata bytes, so the
    skip-if-identical branch does NOT fire and the sidecar is rewritten
    with the canonical document."""
    from dbfs_spark_cache_spark import read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config

    df = _flagship(spark, lineitem_copy)
    write_cache(df)
    expected = sorted(map(tuple, df.collect()))

    (entry,) = os.listdir(config.SPARK_CACHE_DIR)
    meta = f"{config.SPARK_CACHE_DIR}{entry}/cache_metadata.txt"
    good = open(meta).read()
    with open(meta, "w") as fh:
        fh.write(good[: len(good) // 2] + "\x00GARBAGE")

    # Hit still serves (identity comes from the df, not the sidecar bytes).
    hit = read_cache_if_exist(_flagship(spark, lineitem_copy))
    assert hit is not None
    assert sorted(map(tuple, hit.collect())) == expected

    # The next write repairs the sidecar back to the canonical document.
    write_cache(_flagship(spark, lineitem_copy))
    assert open(meta).read() == good


def test_concurrent_writers_one_write_all_correct(spark, clean_cache, lineitem_copy):
    """Four threads race write_cache on the same fingerprint. The per-key
    lock (core._lock_for_key) serializes them and the in-lock re-probe
    makes the losers take skip-if-identical: exactly ONE distributed write
    happens, every caller gets the correct cached rows, and the sidecar
    holds the canonical document. (Spark drivers legitimately run jobs
    from many threads; unserialized `overwrite` writes to one location can
    interleave their delete/commit phases.)"""
    from concurrent.futures import ThreadPoolExecutor

    from dbfs_spark_cache_spark import core, write_cache
    from dbfs_spark_cache_spark.config import config

    expected = sorted(map(tuple, _flagship(spark, lineitem_copy).collect()))

    writes = []
    real_save = core._save_as_cache_table

    def counting_save(*a, **kw):
        writes.append(1)
        return real_save(*a, **kw)

    core._save_as_cache_table = counting_save
    try:
        with ThreadPoolExecutor(4) as ex:
            results = list(
                ex.map(
                    lambda _: sorted(
                        map(tuple, write_cache(_flagship(spark, lineitem_copy)).collect())
                    ),
                    range(4),
                )
            )
    finally:
        core._save_as_cache_table = real_save

    assert len(writes) == 1
    assert all(r == expected for r in results)

    (entry,) = os.listdir(config.SPARK_CACHE_DIR)
    meta_doc = open(f"{config.SPARK_CACHE_DIR}{entry}/cache_metadata.txt").read()
    assert meta_doc.startswith("INPUT SOURCES MODIFICATION DATETIMES:")
    assert "DATAFRAME QUERY PLAN:" in meta_doc


def test_write_text_is_atomic_under_concurrent_reads(tmp_path):
    """A reader polling the sidecar while a writer flips it between two
    documents must only ever observe a complete document (or absence) —
    never a torn mix. Pins the temp+os.replace contract of fs.write_text."""
    import threading

    from dbfs_spark_cache_spark import fs

    path = str(tmp_path / "meta" / "cache_metadata.txt")
    doc_a = "DOC-A\n" + ("a" * 64 + "\n") * 200
    doc_b = "DOC-B\n" + ("b" * 64 + "\n") * 200

    stop = threading.Event()
    torn = []

    def reader():
        while not stop.is_set():
            seen = fs.read_text(path)
            if seen is not None and seen not in (doc_a, doc_b):
                torn.append(seen[:80])
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(300):
            fs.write_text(path, doc_a)
            fs.write_text(path, doc_b)
    finally:
        stop.set()
        t.join()

    assert torn == [], f"reader observed a torn document: {torn!r}"
    assert fs.read_text(path) == doc_b
    # No leaked temp siblings.
    assert [p for p in os.listdir(tmp_path / "meta") if ".tmp." in p] == []


def test_concurrent_direct_data_cache_single_materialization(spark, clean_cache):
    """createCachedDataFrame racers on identical driver-local data share
    one materialization: the content hash is the key, so the lock +
    in-lock re-probe gives one write (on either writer) and N hits."""
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    from dbfs_spark_cache_spark import core, create_cached_dataframe

    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})

    writes = []
    real_materialize = core._materialize

    def counting_materialize(*a, **kw):
        writes.append(1)
        return real_materialize(*a, **kw)

    core._materialize = counting_materialize
    try:
        with ThreadPoolExecutor(4) as ex:
            results = list(
                ex.map(
                    lambda _: sorted(
                        map(tuple, create_cached_dataframe(spark, pdf).collect())
                    ),
                    range(4),
                )
            )
    finally:
        core._materialize = real_materialize

    assert len(writes) == 1
    assert all(r == [(1, "x"), (2, "y"), (3, "z")] for r in results)


def test_failed_table_write_leaves_no_sidecar(spark, clean_cache, lineitem_copy):
    """Metadata commits AFTER the table write: if the distributed write
    dies, no sidecar may exist (a sidecar is the liveness signal — one
    without a table would read as a broken entry), and the next attempt
    must retry the write and heal the entry completely."""
    from dbfs_spark_cache_spark import core, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config

    real_save = core._save_as_cache_table

    def failing_save(*a, **kw):
        raise RuntimeError("simulated executor failure mid-write")

    core._save_as_cache_table = failing_save
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            write_cache(_flagship(spark, lineitem_copy))
    finally:
        core._save_as_cache_table = real_save

    # No sidecar anywhere — the entry simply does not exist yet.
    leftovers = [
        os.path.join(root, f)
        for root, _, files in os.walk(config.SPARK_CACHE_DIR)
        for f in files
    ]
    assert leftovers == []
    assert read_cache_if_exist(_flagship(spark, lineitem_copy)) is None

    # Retry heals: full write, correct rows, sidecar present.
    cached = write_cache(_flagship(spark, lineitem_copy))
    expected = sorted(map(tuple, _flagship(spark, lineitem_copy).collect()))
    assert sorted(map(tuple, cached.collect())) == expected
    (entry,) = os.listdir(config.SPARK_CACHE_DIR)
    assert os.path.exists(f"{config.SPARK_CACHE_DIR}{entry}/cache_metadata.txt")


def test_cache_session_stats_counters(spark, clean_cache, lineitem_copy):
    """The session-effectiveness counters track the real decision path:
    miss+write on first cacheToDbfs, hit on the second, write_skip when
    write_cache re-runs an identical entry, threshold_skip on a gated
    call, spark_cache on the in-memory tier."""
    from dbfs_spark_cache_spark import (
        cache_dataframe,
        cache_session_stats,
        reset_cache_session_stats,
        write_cache,
    )

    reset_cache_session_stats()
    df = _flagship(spark, lineitem_copy)

    cache_dataframe(df, override_prefer_spark_cache=True)          # miss+write
    cache_dataframe(_flagship(spark, lineitem_copy),
                    override_prefer_spark_cache=True)              # hit
    write_cache(_flagship(spark, lineitem_copy))                   # identical -> skip
    cache_dataframe(_flagship(spark, lineitem_copy).limit(1),
                    complexity_threshold=10_000.0)                 # gated
    out = cache_dataframe(_flagship(spark, lineitem_copy).limit(2))  # spark tier
    out.unpersist()

    s = cache_session_stats()
    assert s["hits"] == 1
    assert s["misses"] == 3          # first call + gated call + tier call
    assert s["writes"] == 1
    assert s["write_skips"] == 1
    assert s["threshold_skips"] == 1
    assert s["spark_cache"] == 1
    assert s["hit_rate"] == 0.25

    reset_cache_session_stats()
    assert cache_session_stats()["hits"] == 0


def test_evict_to_size_budget_oldest_first(spark, clean_cache, lineitem_copy):
    """Size-budget eviction walks oldest-first: with three entries and a
    budget that fits only the newest two, exactly the oldest is evicted;
    an unlimited budget evicts nothing; dry-run reports without deleting."""
    from dbfs_spark_cache_spark import evict_to_size_budget, write_cache
    from dbfs_spark_cache_spark.management import get_cached_dataframe_metadata

    base = spark.read.parquet(lineitem_copy)
    for i, flag in enumerate(["A", "N", "R"]):
        write_cache(
            base.where(F.col("l_returnflag") == flag)
            .groupBy("l_linestatus")
            .agg(F.sum("l_quantity").alias("q"))
        )
        time.sleep(1.1)  # sidecar mtime = creation order at 1s resolution

    registry = get_cached_dataframe_metadata()
    assert len(registry) == 3
    oldest = registry.iloc[0]["hash_name"]

    assert evict_to_size_budget(spark, max_bytes=10**12) == []

    # Budget below total: dry-run names the oldest, deletes nothing.
    would = evict_to_size_budget(spark, max_bytes=1, confirm_delete=False)
    assert would[0] == oldest and len(get_cached_dataframe_metadata()) == 3

    # Real run with a budget that only the newest two can fit: per-entry
    # footprints are near-equal here, so total*2/3 forces exactly one out.
    import os as _os

    from dbfs_spark_cache_spark.config import config

    from dbfs_spark_cache_spark.fs import strip_scheme

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    db_root = strip_scheme(f"{warehouse.rstrip('/')}/{config.CACHE_DATABASE}.db")
    total = sum(
        _os.path.getsize(_os.path.join(root, f))
        for top in (db_root, config.SPARK_CACHE_DIR)
        for root, _, files in _os.walk(top)
        for f in files
    )
    evicted = evict_to_size_budget(spark, max_bytes=int(total * 2 / 3))
    assert evicted == [oldest]
    left = get_cached_dataframe_metadata()
    assert len(left) == 2 and oldest not in set(left["hash_name"])
