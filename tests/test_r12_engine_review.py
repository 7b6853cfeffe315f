"""r12 fresh-eyes review of the least-recently-audited engine modules
(VERDICT r11 next-round #6: complexity.py degenerate paths, tiering.py's
backup loop under concurrent unpersist, hashing.py's pandas fallback on
exotic dtypes). Two real defects found and fixed, one race pinned:

1. plans/fingerprint.canonical_plan: Spark elides long field lists in
   plan text as "... N more fields" (spark.sql.debug.maxToStringFields,
   default 25) — two plans differing ONLY in the elided tail
   canonicalized IDENTICALLY and would have SHARED A CACHE KEY: a
   wrong-data hit. Reproduced with two 41-column projections differing
   in column 41. Fixed: the truncation marker triggers a re-render with
   the limit raised (conf restored in finally); if the text is somehow
   still truncated the key goes loud-and-unmatchable instead of
   collidable.
2. hashing.hash_input_data: a frame with DUPLICATE column names (legal
   in pandas and Spark) crashed with an opaque ValueError out of the
   parquet fallback (frame[col].dtype raises on a dup-name sub-frame).
   Fixed: the schema digest iterates frame.dtypes positionally — byte-
   identical digest for uniquely-named frames (no key-format change),
   dup-named frames now hash on the fast path.
3. tiering.backup_spark_cached_to_storage under concurrent unpersist:
   no defect — the write recomputes from source, per-key locks and the
   probe-inside-lock dedupe racers, duplicate frame objects skip-if-
   identical. Pinned here so the behavior can't regress silently.

complexity.py's degenerate paths reviewed clean: plan-error returns the
conservative (size, 1.0) pair; _has_grouped_aggregate terminates on
unterminated brackets (slice past end is '' and the scan advances);
empty plans cost the bare-scan baseline. The plan-truncation fix in (1)
also repairs its op counting on >25-field nodes (elided text hid
countable ops).
"""
from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_SMOKE  # noqa: E402


def _wide(spark, n_extra: int, last_expr):
    base = spark.range(10)
    cols = [(F.col("id") + i).alias(f"c{i}") for i in range(n_extra - 1)]
    return base.select("id", *cols, last_expr.alias(f"c{n_extra - 1}"))


def test_wide_plans_do_not_collide_on_truncation(spark):
    """Plans differing only beyond maxToStringFields (default 25) must
    canonicalize DIFFERENTLY — before the fix both rendered '... 16
    more fields' and shared a cache key."""
    from dbfs_spark_cache_spark.plans.fingerprint import canonical_plan

    a = _wide(spark, 40, F.col("id") + 39)
    b = _wide(spark, 40, F.col("id") * 999)
    pa_, pb_ = canonical_plan(a), canonical_plan(b)
    assert pa_ != pb_, "wide plans collided — wrong-cache-hit hazard is back"
    assert "more fields" not in pa_ and "more fields" not in pb_
    # deterministic across calls: legitimate cache hits still work
    assert canonical_plan(a) == pa_
    # and the session conf is restored (other renderings stay compact)
    assert spark.conf.get("spark.sql.debug.maxToStringFields") == "25"


def test_wide_plan_cache_roundtrip_serves_the_right_data(spark, clean_cache):
    """End-to-end: cache the first wide frame, then cache the second —
    the second must MISS and materialize its own (different) data, not
    hit the first entry."""
    from dbfs_spark_cache_spark import cache_dataframe

    a = _wide(spark, 40, F.col("id") + 39)
    b = _wide(spark, 40, F.col("id") * 999)
    ca = cache_dataframe(a, override_prefer_spark_cache=True)
    cb = cache_dataframe(b, override_prefer_spark_cache=True)
    assert ca.agg(F.sum("c39")).collect()[0][0] == sum(i + 39 for i in range(10))
    assert cb.agg(F.sum("c39")).collect()[0][0] == sum(i * 999 for i in range(10))


def test_hash_input_data_duplicate_column_names(spark):
    """Duplicate column names hash deterministically on the fast path
    (was: opaque ValueError from the parquet fallback), value-sensitive
    per position, and the digest's byte format is pinned: one
    ``name:dtype;`` per column, then the row hashes as one little-endian
    uint64 buffer."""
    import hashlib

    from dbfs_spark_cache_spark.hashing import hash_input_data

    dup = pd.DataFrame([[1, 2], [3, 4]], columns=["a", "a"])
    swapped = pd.DataFrame([[2, 1], [4, 3]], columns=["a", "a"])
    assert hash_input_data(dup) == hash_input_data(dup.copy(deep=True))
    assert hash_input_data(dup) != hash_input_data(swapped)

    f = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    want = hashlib.md5()
    for col in f.columns:
        want.update(f"{col}:{f[col].dtype};".encode("utf-8"))
    rows = pd.util.hash_pandas_object(f, index=True).values
    want.update(b"".join(int(v).to_bytes(8, "little") for v in rows))
    assert hash_input_data(f) == want.hexdigest()


@pytest.mark.parametrize(
    "make",
    [
        pytest.param(
            lambda: pd.DataFrame(
                {"t": pd.to_datetime(["2026-01-01"]).tz_localize("UTC")}
            ),
            id="tz-aware",
        ),
        pytest.param(
            lambda: pd.DataFrame({"c": pd.Categorical(["a", "b", "a"])}),
            id="categorical",
        ),
        pytest.param(
            lambda: pd.DataFrame({"x": pd.array([1, None], dtype="Int64")}),
            id="nullable-Int64",
        ),
        pytest.param(
            lambda: pd.DataFrame({"v": [[1.0, 2.0], [3.0, 4.0]]}),
            id="list-column",
        ),
    ],
)
def test_hash_input_data_exotic_dtypes_stable(make):
    """The verdict's named exotic dtypes all hash deterministically
    (fast path or parquet fallback — each frame takes the same path
    every time, so identity is stable)."""
    from dbfs_spark_cache_spark.hashing import hash_input_data

    assert hash_input_data(make()) == hash_input_data(make())


def test_hash_distinguishes_timezones():
    """Same wall-clock instants in different zones are different Spark
    data — the dtype string carries the zone."""
    from dbfs_spark_cache_spark.hashing import hash_input_data

    utc = pd.DataFrame({"t": pd.to_datetime(["2026-01-01"]).tz_localize("UTC")})
    est = pd.DataFrame(
        {"t": pd.to_datetime(["2026-01-01"]).tz_localize("US/Eastern")}
    )
    assert hash_input_data(utc) != hash_input_data(est)


def test_backup_survives_concurrent_unpersist(spark, clean_cache):
    """The tiering race the verdict pointed at: a frame unpersisted
    between eligibility screening and the write must still back up
    correctly (the write recomputes from source under the same key),
    and a duplicate frame object in the same call must skip-if-identical
    rather than double-write."""
    from dbfs_spark_cache_spark import read_cache_if_exist
    from dbfs_spark_cache_spark.core import cache_session_stats
    from dbfs_spark_cache_spark.tiering import backup_spark_cached_to_storage

    df = (
        spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
        .groupBy("n_regionkey")
        .count()
    )
    df.cache()
    df.count()

    # simulate the concurrent unpersist landing mid-loop: the eligibility
    # pass has a persisted frame, the write pass does not
    real_write = {}

    import dbfs_spark_cache_spark.tiering as tiering_mod
    from dbfs_spark_cache_spark.core import write_cache as _wc

    def unpersist_then_write(frame, **kw):
        frame.unpersist(blocking=True)
        real_write["called"] = real_write.get("called", 0) + 1
        return _wc(frame, **kw)

    orig = tiering_mod.__dict__.get("write_cache")
    try:
        # write_cache is imported inside the function body; patch the
        # core symbol it resolves
        import dbfs_spark_cache_spark.core as core_mod

        core_wc = core_mod.write_cache
        core_mod.write_cache = unpersist_then_write  # type: ignore[assignment]
        backed = backup_spark_cached_to_storage([df, df])
    finally:
        core_mod.write_cache = core_wc  # type: ignore[assignment]
        if orig is not None:
            tiering_mod.write_cache = orig  # type: ignore[attr-defined]

    assert len(backed) == 2  # both list entries processed
    stats = cache_session_stats()
    # the second write probe must have skipped (identical metadata)
    assert stats.get("write_skips", 0) >= 1
    # the entry is readable and correct
    hit = read_cache_if_exist(df)
    assert hit is not None
    assert hit.count() == df.count()


def _tag_of(source: str) -> str:
    """Build fn (+ any helpers) in a fresh namespace, wrap, return tag."""
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark.functions import content_addressed_udf

    ns: dict = {}
    exec(source, ns)
    u = content_addressed_udf(ns["fn"], DoubleType())
    return u.func.__name__.rsplit("__", 1)[1]


def test_udf_tag_tracks_referenced_helper_body():
    """Editing a module-level helper the UDF calls must retag it — the
    UDF's own bytecode/consts/closure are identical across the edit, so
    before the r12 fix the old tag served the stale cached result."""
    a = (
        "def _normalize(x):\n    return x / 10.0\n"
        "def fn(s):\n    return _normalize(s)\n"
    )
    b = a.replace("x / 10.0", "x / 20.0")
    assert _tag_of(a) == _tag_of(a)  # stable
    assert _tag_of(a) != _tag_of(b)


def test_udf_tag_tracks_referenced_module_constant():
    """Same staleness class through a module-level literal constant."""
    a = "W = 2.0\ndef fn(s):\n    return s * W\n"
    b = a.replace("W = 2.0", "W = 3.0")
    assert _tag_of(a) == _tag_of(a)
    assert _tag_of(a) != _tag_of(b)


def test_udf_tag_tracks_transitive_helper():
    """The chase recurses: helper calls helper2; editing helper2 retags."""
    a = (
        "def _inner(x):\n    return x + 1.0\n"
        "def _outer(x):\n    return _inner(x) * 2.0\n"
        "def fn(s):\n    return _outer(s)\n"
    )
    b = a.replace("x + 1.0", "x + 5.0")
    assert _tag_of(a) != _tag_of(b)


def test_udf_tag_survives_mutual_recursion_and_skips_unstable_globals():
    """Mutually recursive helpers terminate via the cycle guard, and
    module/class/object globals are skipped (their reprs embed paths and
    addresses — feeding them would destabilize the tag across machines
    sharing one cache)."""
    src = (
        "import math\n"
        "class Cfg:\n    pass\n"
        "CFG = Cfg()\n"
        "def _even(x):\n    return 1.0 if x == 0 else _odd(x - 1)\n"
        "def _odd(x):\n    return 0.0 if x == 0 else _even(x - 1)\n"
        "def fn(s):\n    return _even(int(math.fabs(s))) + (0.0 if CFG else 0.0)\n"
    )
    assert _tag_of(src) == _tag_of(src)


def test_scale_helpers_refuse_reserved_column_collisions(spark):
    """r12 review of operators/scale.py: withColumn silently OVERWRITES
    an existing column, so a caller frame already carrying __salt /
    __bucket / median_value would have its data clobbered and the
    helper's bookkeeping corrupted — wrong rows, no error. The helpers
    now refuse loudly."""
    import pytest as _pytest

    from dbfs_spark_cache_spark.operators.scale import (
        distributed_global_percentiles,
        grouped_median_mad,
        salted_join,
    )

    base = spark.range(5).withColumnRenamed("id", "k")
    dim = spark.range(3).withColumnRenamed("id", "k")

    with _pytest.raises(ValueError, match="__salt"):
        salted_join(base.withColumn("__salt", F.lit(1)), dim, "k")
    with _pytest.raises(ValueError, match="__salt"):
        salted_join(base, dim.withColumn("__salt", F.lit(1)), "k")
    with _pytest.raises(ValueError, match="__bucket"):
        distributed_global_percentiles(
            base.withColumn("__bucket", F.lit(1)), "k", tiebreak_col="k"
        )
    with _pytest.raises(ValueError, match="median_value"):
        grouped_median_mad(
            base.withColumn("median_value", F.lit(1.0)).withColumn(
                "g", F.lit(1)
            ),
            "k",
            "g",
            tiebreak_col="k",
        )
    # clean frames still work end to end
    out = salted_join(base, dim, "k").count()
    assert out == 3
