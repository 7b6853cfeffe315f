"""Scale-pattern pins: salted joins preserve semantics; bucketed joins
run shuffle-free; partitioned cache writes prune on re-read."""
import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_salted_join_matches_plain_join(spark):
    from dbfs_spark_cache_spark.operators.scale import salted_join

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = (
        orders.join(customer, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(orders, customer, "o_custkey", n_salts=8)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_has_no_shuffle(spark, clean_cache):
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.operators.scale import write_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {config.CACHE_DATABASE}")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    write_bucketed(orders, f"{config.CACHE_DATABASE}.b_orders", "o_orderkey", 8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        f"{config.CACHE_DATABASE}.b_lineitem",
        "o_orderkey",
        8,
    )
    # Fixture tables are broadcast-small; force the sort-merge path the
    # bucketing optimizes (at real scale neither side broadcasts anyway).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(f"{config.CACHE_DATABASE}.b_orders").join(
            spark.table(f"{config.CACHE_DATABASE}.b_lineitem"), "o_orderkey"
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # co-located buckets: no exchange feeds the join
        assert "Exchange hashpartitioning" not in plan, "bucketed join still shuffles"
        assert "Bucketed: true" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_cache_write_prunes(spark, clean_cache):
    from dbfs_spark_cache_spark import write_cache

    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_returnflag")
    )
    cached = write_cache(li, partition_by=["l_returnflag"])
    filtered = cached.where(F.col("l_returnflag") == "A")
    assert filtered.count() > 0
    plan = _plan(filtered)
    # partition filter must prune, not scan-and-filter
    assert re.search(r"PartitionFilters: \[[^\]]*l_returnflag", plan)


import pytest


@pytest.mark.parametrize(
    "values",
    [
        [5.0],                                     # single row (N-1 == 0)
        [3.0, 3.0, 3.0, 3.0],                      # all equal (hi == lo)
        [1.0, 2.0, 2.0, 2.0, 3.0, 3.0, 9.0],       # heavy ties, N < n_tiles
        [-50.0, -1.0, 0.0, 0.0, 7.5, 7.5, 7.5, 100.0, 100.0, 101.0, 102.0,
         103.0, 104.0, 105.0, 106.0, 107.0],       # negatives + tie runs
        [float(x % 13) for x in range(101)],       # many ties, N > buckets
        [None, 4.0, None, 1.0, 1.0, None, 8.0],    # NULLs rank first
        [None, None, None],                        # all NULL
    ],
)
def test_distributed_percentiles_match_global_window(spark, values):
    """The bucket-offset formulation must reproduce Spark's own
    unpartitioned-window percent_rank/cume_dist/ntile EXACTLY on adversarial
    inputs — ties across bucket boundaries, all-equal values, N < n_tiles."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.operators.scale import (
        distributed_global_percentiles,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, v double"
    )
    got = {
        r.id: (r.pct_rank, r.cume_dist, r.tile)
        for r in distributed_global_percentiles(
            df, value_col="v", tiebreak_col="id", n_buckets=4, n_tiles=10
        ).collect()
    }
    w_val = W.orderBy("v")
    w_det = W.orderBy("v", "id")
    expected = {
        r.id: (r.pct_rank, r.cume_dist, r.tile)
        for r in df.select(
            "id",
            F.percent_rank().over(w_val).alias("pct_rank"),
            F.cume_dist().over(w_val).alias("cume_dist"),
            F.ntile(10).over(w_det).cast("long").alias("tile"),
        ).collect()
    }
    assert got == expected


def test_grouped_percentiles_match_partitioned_window(spark):
    """partition_cols mode must reproduce Spark's own
    Window.partitionBy(key) distribution functions EXACTLY, across
    adversarial group shapes living side by side: a singleton group, an
    all-equal group, a group with tie runs crossing band boundaries, and
    a group smaller than n_tiles."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.operators.scale import (
        distributed_global_percentiles,
    )

    groups = {
        "singleton": [5.0],
        "allequal": [3.0] * 9,
        "ties": [-2.0, 0.0, 0.0, 0.0, 1.5, 1.5, 9.0, 9.0, 9.0, 9.0, 10.0],
        "tiny": [2.0, 1.0],  # fewer rows than n_tiles
    }
    rows = [
        (g, i, v)
        for g, vals in groups.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    got = {
        (r.g, r.id): (r.pct_rank, r.cume_dist, r.tile)
        for r in distributed_global_percentiles(
            df,
            value_col="v",
            tiebreak_col="id",
            n_buckets=3,
            n_tiles=4,
            partition_cols=["g"],
        ).collect()
    }
    w_val = W.partitionBy("g").orderBy("v")
    w_det = W.partitionBy("g").orderBy("v", "id")
    expected = {
        (r.g, r.id): (r.pct_rank, r.cume_dist, r.tile)
        for r in df.select(
            "g",
            "id",
            F.percent_rank().over(w_val).alias("pct_rank"),
            F.cume_dist().over(w_val).alias("cume_dist"),
            F.ntile(4).over(w_det).cast("long").alias("tile"),
        ).collect()
    }
    assert got == expected


def test_salt_is_layout_stable(spark):
    """The salt must be a pure function of row content: the same row gets
    the same salt under any partition layout, so a task retry after a
    repartition cannot re-salt mid-job (rand(seed) broke this)."""
    from pyspark.sql import functions as F

    orders = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in orders.columns]), F.lit(16)
    ).cast("int")
    a = {r.o_orderkey: r.s for r in orders.withColumn("s", salt).collect()}
    b = {
        r.o_orderkey: r.s
        for r in orders.repartition(7).withColumn("s", salt).collect()
    }
    assert a == b
    # and the salt actually spreads rows (not constant)
    assert len(set(a.values())) > 1


def test_banded_edit_pairs_complete_at_band_boundaries(spark):
    """Adversarial completeness check for the composite (block, length
    band) edit-distance blocking: names engineered so qualifying pairs
    straddle every band boundary (lengths 3/4, 7/8, 11/12 with width 4 —
    band indexes 0/1, 1/2, 2/3), plus max-gap pairs (|len diff| = 3
    exactly), identical-length pairs, cross-block decoys, and
    just-over-threshold pairs. The banded result must equal a brute-force
    all-pairs filter — the fixture oracle proves this on real data; this
    pins it on data chosen to break the fan-out arithmetic."""
    from dbfs_spark_cache_spark.operators.extras import banded_edit_pairs

    rows = [
        # (key, block, name) — bands at width 4: len 3 -> 0, 4 -> 1, 7 -> 1,
        # 8 -> 2, 11 -> 2, 12 -> 3
        (1, "B1", "abc"),            # len 3, band 0
        (2, "B1", "abcd"),           # len 4, band 1: boundary pair with 1 (dist 1)
        (3, "B1", "abcdef"),         # len 6, band 1: dist 3 from 1 (max gap)
        (4, "B1", "abcdefg"),        # len 7, band 1
        (5, "B1", "abcdefgh"),       # len 8, band 2: boundary pair with 4 (dist 1)
        (6, "B1", "abcdefghijk"),    # len 11, band 2: dist 3 from 5
        (7, "B1", "abcdefghijkl"),   # len 12, band 3: boundary pair with 6 (dist 1)
        (8, "B1", "abcdefghijklmnop"),  # len 16, band 4: beyond threshold from all
        (9, "B2", "abcd"),           # same name-shape, different block: no pair with 2
        (10, "B1", "zzzzzzz"),       # len 7, band 1: same band as 4 but dist > 3
        (11, "B1", "XbcdefgX"),      # len 8: near both bands 1 and 2 members
    ]
    df = spark.createDataFrame(rows, ["k", "blk", "nm"])

    banded = {
        (r.part_a, r.part_b, r.edit_dist)
        for r in banded_edit_pairs(df, "k", "blk", "nm").collect()
    }

    a = df.selectExpr("k AS ka", "blk AS ba", "nm AS na")
    b = df.selectExpr("k AS kb", "blk AS bb", "nm AS nb")
    brute = {
        (r.ka, r.kb, r.d)
        for r in a.join(b, (F.col("ba") == F.col("bb")) & (F.col("ka") < F.col("kb")))
        .withColumn("d", F.levenshtein("na", "nb").cast("long"))
        .where(F.col("d") <= 3)
        .collect()
    }

    assert banded == brute, (
        f"banded != brute force: missing={brute - banded} extra={banded - brute}"
    )
    # sanity: the adversarial set must actually exercise boundary pairs
    boundary_pairs = {(1, 2), (4, 5), (6, 7)}
    assert boundary_pairs <= {(x, y) for x, y, _ in brute}


def test_banded_edit_pairs_rejects_unsound_band_width():
    import pytest as _pytest

    from dbfs_spark_cache_spark.operators.extras import banded_edit_pairs

    with _pytest.raises(ValueError, match="band_width"):
        banded_edit_pairs(None, "k", "blk", "nm", max_dist=4, band_width=4)


def test_cache_layout_option_keeps_key(spark, clean_cache):
    """A layout option does not participate in the fingerprint: the frame
    keys the same before and after a ``partition_by`` write, and a probe
    without the option hits the partitioned entry."""
    from dbfs_spark_cache_spark import read_cache_if_exist, resolve_table_hash, write_cache

    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_returnflag")
    )
    key = resolve_table_hash(li)
    cached = write_cache(li, partition_by=["l_returnflag"])
    assert resolve_table_hash(li) == key
    assert resolve_table_hash(cached) == key  # a pure scan of the entry
    hit = read_cache_if_exist(li)
    assert hit is not None and hit.count() == li.count()


def test_distributed_percentiles_randomized_sweep(spark):
    """Randomized (seeded, reproducible) adversarial sweep: 25 generated
    value lists — mixed sizes, tie densities, negatives, NULL rates,
    constant runs, extreme spreads — checked against Spark's own window
    distribution functions in ONE job via partition_cols mode (each case
    is a partition), so the sweep costs one shuffle, not 25 jobs."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.operators.scale import (
        distributed_global_percentiles,
    )

    rng = random.Random(0xC0FFEE)
    rows = []
    for case in range(25):
        n = rng.choice([1, 2, 3, 7, 20, 64, 257])
        style = rng.choice(["dense_ties", "spread", "constant", "mixed"])
        for i in range(n):
            if style == "dense_ties":
                v = float(rng.randint(0, 3))
            elif style == "spread":
                v = rng.uniform(-1e6, 1e6)
            elif style == "constant":
                v = 42.0
            else:
                v = rng.choice([None, 0.0, -5.5, float(rng.randint(0, 9))])
            if v is not None and rng.random() < 0.1:
                v = None  # sprinkle NULLs everywhere
            rows.append((case, i, v))
    df = spark.createDataFrame(rows, "case_id int, id long, v double")

    got = {
        (r.case_id, r.id): (r.pct_rank, r.cume_dist, r.tile)
        for r in distributed_global_percentiles(
            df,
            value_col="v",
            tiebreak_col="id",
            n_buckets=4,
            n_tiles=10,
            partition_cols=["case_id"],
        ).collect()
    }
    w_val = W.partitionBy("case_id").orderBy("v")
    w_det = W.partitionBy("case_id").orderBy("v", "id")
    expected = {
        (r.case_id, r.id): (r.pct_rank, r.cume_dist, r.tile)
        for r in df.select(
            "case_id",
            "id",
            F.percent_rank().over(w_val).alias("pct_rank"),
            F.cume_dist().over(w_val).alias("cume_dist"),
            F.ntile(10).over(w_det).cast("long").alias("tile"),
        ).collect()
    }
    assert got == expected


def test_grouped_median_mad_randomized_sweep(spark):
    """Randomized (seeded) sweep for the banded median/MAD helper: 20
    generated groups side by side — singleton, even/odd sizes, tie runs,
    negatives, wide spreads — checked against Python's exact
    statistics.median in one job (the helper's part_col contract)."""
    import random
    import statistics

    from dbfs_spark_cache_spark.operators.scale import grouped_median_mad

    rng = random.Random(0xBEEF)
    rows, expect = [], {}
    for g in range(20):
        n = rng.choice([1, 2, 3, 4, 9, 33, 128])
        style = rng.choice(["ties", "spread", "constant", "negatives"])
        vals = []
        for i in range(n):
            if style == "ties":
                v = float(rng.randint(0, 4))
            elif style == "spread":
                v = rng.uniform(-1e5, 1e5)
            elif style == "constant":
                v = -7.25
            else:
                v = -abs(rng.uniform(0, 100))
            vals.append(v)
            rows.append((g, len(rows), v))
        med = statistics.median(vals)
        mad = statistics.median([abs(v - med) for v in vals])
        expect[g] = (med, mad)
    df = spark.createDataFrame(rows, "g int, id long, v double")
    got = {
        r.g: (r.median_value, r.mad)
        for r in grouped_median_mad(
            df, "v", "g", tiebreak_col="id"
        ).collect()
    }
    assert set(got) == set(expect)
    for g in expect:
        assert got[g][0] == pytest.approx(expect[g][0], abs=1e-9), g
        assert got[g][1] == pytest.approx(expect[g][1], abs=1e-9), g


def test_salted_join_parity_all_modes_hostile(spark):
    """Full row-multiset parity (not aggregated) between salted and
    plain joins for EVERY allowed how, on hostile inputs: NULL fact
    keys (never match, but left-family joins must still emit them),
    unmatched keys on both sides, fully duplicate fact rows (the
    deterministic content-hash salt co-locates them — still exactly the
    plain join's multiset), and one hot key owning half the fact. The
    replicated-dim hows stay refused."""
    import pytest as _pytest

    from dbfs_spark_cache_spark.operators.scale import salted_join

    fact_rows = (
        [(1, i, "hot") for i in range(50)]          # hot key
        + [(2, 100, "dup"), (2, 100, "dup")]         # exact duplicates
        + [(3, 200, "plain")]
        + [(7, 300, "unmatched_fact")]               # key absent in dim
        + [(None, 400, "null_key")]                  # NULL never matches
    )
    fact = spark.createDataFrame(fact_rows, "k int, payload int, tag string")
    dim = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three"), (9, "unmatched_dim")],
        "k int, label string",
    )

    def rows(df):
        return sorted(map(tuple, df.collect()), key=str)

    for how in ("inner", "left", "left_outer"):
        plain = fact.join(dim, "k", how)
        salted = salted_join(fact, dim, "k", n_salts=5, how=how)
        assert rows(salted) == rows(plain), how

    for how in ("left_semi", "left_anti"):
        plain = fact.join(dim, "k", how)
        salted = salted_join(fact, dim, "k", n_salts=5, how=how)
        assert rows(salted) == rows(plain), how

    for how in ("right", "full", "full_outer"):
        with _pytest.raises(ValueError, match="replicated per salt"):
            salted_join(fact, dim, "k", how=how)
