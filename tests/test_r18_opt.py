"""Round-18 optimization pins.

Each optimization that restructured an operator's internals gets two pins:
a VALUE pin proving the restructured form is row-identical to the exact
pre-optimization formulation (built inline here, so the equivalence stays
executable forever), and a PLAN pin proving the waste it removed stays
removed (the silent-regression class plan-quality tests exist for).
"""
from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _scan_locations(plan: str) -> list[str]:
    return re.findall(r"Location: InMemoryFileIndex \[([^\]]+)\]", plan)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- q9 / q20: inline partsupp derivation ---------------------------------
#
# partsupp is DERIVED from lineitem (distinct key pairs + pure key
# functions), so joining lineitem back onto it is the identity enrichment;
# r18 computes ps_supplycost / ps_availqty inline. These pins hold the
# equivalence and the single-scan plan shape.


def test_q9_inline_supplycost_matches_join_form(spark):
    from dbfs_spark_cache_spark.operators import QUERIES
    from dbfs_spark_cache_spark.operators.tpch_partsupp import partsupp_view
    from dbfs_spark_cache_spark.sources import load_table

    sf = SF_ORACLE
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%red%"))
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    ps = partsupp_view(spark, sf)
    from dbfs_spark_cache_spark.operators.registry import dec as _dec

    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    # The pre-r18 formulation, verbatim: explicit catalog join on both keys.
    join_form = (
        li.join(part.select("p_partkey"), li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(_dec(profit, 6)).cast("double").alias("sum_profit"))
        .orderBy("nation", "o_year")
    )
    assert _rows(QUERIES["q9_product_profit"](spark, sf)) == _rows(join_form)


def test_q9_scans_lineitem_once(spark):
    from dbfs_spark_cache_spark.operators import QUERIES

    plan = plan_text(QUERIES["q9_product_profit"](spark, SF_ORACLE))
    li_scans = [p for p in _scan_locations(plan) if "lineitem" in p]
    assert len(li_scans) == 1, f"expected 1 lineitem scan, got {len(li_scans)}"


def test_q20_inline_availqty_matches_join_form(spark):
    from dbfs_spark_cache_spark.operators import QUERIES
    from dbfs_spark_cache_spark.operators.registry import dec as _dec
    from dbfs_spark_cache_spark.operators.tpch_partsupp import partsupp_view
    from dbfs_spark_cache_spark.sources import load_table

    sf = SF_ORACLE
    ps = partsupp_view(spark, sf)
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("small%"))
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity", 6)).cast("double").alias("qty"))
    )
    excess = (
        ps.join(part.select("p_partkey"), ps.ps_partkey == part.p_partkey)
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .where(F.col("ps_availqty") > F.col("qty") * 200)
        .groupBy("ps_suppkey")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
    )
    join_form = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(excess, supplier.s_suppkey == excess.ps_suppkey)
        .select("s_suppkey", "s_name", "n_name", "n_excess_parts")
        .orderBy("s_suppkey")
    )
    assert _rows(QUERIES["q20_excess_availability"](spark, sf)) == _rows(
        join_form
    )


def test_q20_scans_lineitem_once(spark):
    from dbfs_spark_cache_spark.operators import QUERIES

    plan = plan_text(QUERIES["q20_excess_availability"](spark, SF_ORACLE))
    li_scans = [p for p in _scan_locations(plan) if "lineitem" in p]
    assert len(li_scans) == 1, f"expected 1 lineitem scan, got {len(li_scans)}"


# --- spread_unsplittable_scan: gated input spread -------------------------
#
# The dedup/pipeline family's MinHash signature stage spreads its narrow
# (doc_id, text) projection across the cores before the per-row hash
# compute. The gate must be metadata-only (no RDD conversion, no job),
# fire on the fixture corpus (few small files), and stay IDENTITY for
# every case where a repartition could hurt at scale: streaming frames,
# in-memory relations, many-file inputs, and few-but-large files.


def test_spread_fires_on_single_small_file(spark):
    from dbfs_spark_cache_spark.operators.scale import spread_unsplittable_scan

    df = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select("l_orderkey")
    out = spread_unsplittable_scan(df)
    assert out is not df
    plan = plan_text(out)
    assert "REPARTITION_BY_NUM" in plan


def test_spread_identity_branches(spark):
    from dbfs_spark_cache_spark.operators.scale import spread_unsplittable_scan

    # in-memory relation: Spark already parallelizes it
    mem = spark.createDataFrame([(1, "a"), (2, "b")], "id int, t string")
    assert spread_unsplittable_scan(mem) is mem
    # streaming frame: micro-batch parallelism is the source's concern
    stream = spark.readStream.format("rate").load()
    assert spread_unsplittable_scan(stream) is stream
    # file count >= target parallelism: the 100 TB shape, no added shuffle
    df = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    assert spread_unsplittable_scan(df, min_parallelism=1) is df


def test_spread_identity_when_input_is_large(spark, monkeypatch):
    # Few-but-large files must NOT be round-robined: force the size cap
    # below the fixture's estimate and require the identity branch.
    from dbfs_spark_cache_spark.operators.scale import spread_unsplittable_scan

    df = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try:
        assert spread_unsplittable_scan(df) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_identity_when_a_file_cannot_be_sized(spark, monkeypatch):
    # A file the size probe cannot stat (gone, unreadable) must not count
    # as 0 bytes and tip the gate into a repartition.
    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.operators.scale import spread_unsplittable_scan

    df = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select("l_orderkey")
    monkeypatch.setattr(fs, "list_dir", lambda path: [])
    monkeypatch.setattr(fs, "file_size", lambda path: None)
    assert spread_unsplittable_scan(df) is df


def test_spread_result_invariance_on_minhash(spark):
    # The spread is a pure partitioning change: signatures per doc must be
    # bit-identical with and without it.
    import dbfs_spark_cache_spark.operators.scale as scale
    from dbfs_spark_cache_spark.operators.dedup import minhash_signatures
    from dbfs_spark_cache_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    spread_rows = _rows(minhash_signatures(docs))
    orig = scale.spread_unsplittable_scan
    scale.spread_unsplittable_scan = lambda df, min_parallelism=None: df
    try:
        plain_rows = _rows(minhash_signatures(docs))
    finally:
        scale.spread_unsplittable_scan = orig
    assert spread_rows == plain_rows


# --- dedup_simhash: gated input spread ------------------------------------
#
# The per-token 60-slot vote fold is the heaviest per-row compute in the
# registry; the one-row-group fixture serialized it in a single scan task.
# The spread is a pure partitioning change: simhashes must be identical
# with and without it.


def test_simhash_result_invariance_under_spread(spark):
    import dbfs_spark_cache_spark.operators.scale as scale
    from dbfs_spark_cache_spark.operators import QUERIES

    spread_rows = _rows(QUERIES["dedup_simhash"](spark, SF_ORACLE))
    orig = scale.spread_unsplittable_scan
    scale.spread_unsplittable_scan = lambda df, min_parallelism=None: df
    try:
        plain_rows = _rows(QUERIES["dedup_simhash"](spark, SF_ORACLE))
    finally:
        scale.spread_unsplittable_scan = orig
    assert spread_rows == plain_rows


# --- agg_approx_distinct: split the HLL out of the distinct rewrite -------
#
# Mixing COUNT(DISTINCT) with approx_count_distinct in ONE aggregation made
# Spark's distinct rewrite key the partial aggregate by
# (o_orderpriority, o_custkey) and materialize the rsd=0.005 HLL buffer
# (6,551 longs) per partial group — gigabytes of aggregate state. r18 runs
# the sketch in its own 5-group aggregation and joins it back. The sketch
# sees the same values with the same rsd, and HLL register update/merge is
# a deterministic max(), so the estimate cannot move.


def test_agg_approx_distinct_matches_single_agg_form(spark):
    from dbfs_spark_cache_spark.operators import QUERIES
    from dbfs_spark_cache_spark.sources import load_table

    orders = load_table(spark, SF_ORACLE, "orders")
    # The pre-r18 formulation, verbatim: one mixed aggregation.
    agg = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", rsd=0.005).alias(
            "approx_customers"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )
    within = (
        F.abs(F.col("approx_customers") - F.col("exact_customers"))
        <= F.col("exact_customers") * F.lit(0.02)
    )
    single_agg_form = agg.select(
        "o_orderpriority",
        "exact_customers",
        within.alias("hll_within_2pct"),
        "n_orders",
    )
    assert _rows(QUERIES["agg_approx_distinct"](spark, SF_ORACLE)) == _rows(
        single_agg_form
    )


def test_agg_approx_distinct_hll_state_not_keyed_by_custkey(spark):
    from dbfs_spark_cache_spark.operators import QUERIES

    plan = plan_text(QUERIES["agg_approx_distinct"](spark, SF_ORACLE))
    # Formatted plans list one detail block per node; any aggregate that
    # carries the HLL buffer must be keyed by the 5-value priority alone.
    for block in re.split(r"\n\(\d+\) ", plan):
        if "approx_count_distinct" not in block:
            continue
        m = re.search(r"Keys \[\d+\]: \[([^\]]*)\]", block)
        if m is not None:
            assert "o_custkey" not in m.group(1), block[:300]


# --- grouped_map_pandas: narrow projection + explicit group spread --------
#
# applyInPandas is opaque to column pruning — the grouped frame shipped all
# six event columns to Python for a function reading two. The projection
# alone let AQE coalesce the tiny shuffle to ONE partition and serialize
# every per-group Python call; the explicit
# repartition(defaultParallelism, "user_id") keeps them spread and is
# reused by the groupBy (one exchange total).


def test_grouped_map_pandas_matches_unprojected_form(spark):
    import pandas as pd

    from dbfs_spark_cache_spark.operators import QUERIES
    from dbfs_spark_cache_spark.operators.registry import finite_or_null
    from dbfs_spark_cache_spark.sources import load_table

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf["value"] + 0.0
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "min_value": [vals.min()],
                "max_value": [vals.max()],
                "value_range": [vals.max() - vals.min()],
            }
        )

    # The pre-r18 formulation, verbatim: whole rows, planner-chosen layout.
    events = load_table(spark, SF_ORACLE, "events").where(
        finite_or_null("value")
    )
    old_form = events.groupBy("user_id").applyInPandas(
        summarize,
        schema=(
            "user_id long, n_events long, min_value double, "
            "max_value double, value_range double"
        ),
    )
    assert _rows(QUERIES["grouped_map_pandas"](spark, SF_ORACLE)) == _rows(
        old_form
    )


def test_grouped_map_pandas_single_exchange_two_columns(spark):
    from dbfs_spark_cache_spark.operators import QUERIES

    plan = plan_text(QUERIES["grouped_map_pandas"](spark, SF_ORACLE))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and sorted(c.split(":")[0] for c in m.group(1).split(",")) == [
        "user_id",
        "value",
    ], plan


# --- agg_approx_percentile: spread the percentile partials ----------------
#
# The exact percentiles sort the full per-group value set (layout-
# independent); the GK sketch value is internal — only the 1%-tolerance
# flag escapes, and the rank-error guarantee (1/accuracy) is ~100x inside
# that tolerance. Pin rows identical with the spread off and under forced
# 1- and 7-partition layouts.


def test_agg_approx_percentile_layout_invariance(spark):
    import dbfs_spark_cache_spark.operators.scale as scale
    from dbfs_spark_cache_spark.operators import QUERIES
    from dbfs_spark_cache_spark.operators.registry import dec as _dec  # noqa: F401
    from dbfs_spark_cache_spark.sources import load_table

    spread_rows = _rows(QUERIES["agg_approx_percentile"](spark, SF_ORACLE))
    orig = scale.spread_unsplittable_scan
    scale.spread_unsplittable_scan = lambda df, min_parallelism=None: df
    try:
        plain_rows = _rows(QUERIES["agg_approx_percentile"](spark, SF_ORACLE))
    finally:
        scale.spread_unsplittable_scan = orig
    assert spread_rows == plain_rows

    li = load_table(spark, SF_ORACLE, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    for n in (1, 7):
        forced = li.repartition(n)
        exact50 = F.percentile("l_extendedprice", 0.5)
        exact90 = F.percentile("l_extendedprice", 0.9)
        approx = F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), 10000
        )
        agg = forced.groupBy("l_returnflag").agg(
            exact50.alias("e50"),
            exact90.alias("e90"),
            approx.alias("ap"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        within = (
            F.abs(F.element_at("ap", 1) - F.col("e50")) <= F.col("e50") * 0.01
        ) & (
            F.abs(F.element_at("ap", 2) - F.col("e90")) <= F.col("e90") * 0.01
        )
        flags = [
            r[0]
            for r in agg.select(
                F.coalesce(within, F.col("e50").isNull())
            ).collect()
        ]
        assert all(flags), f"tolerance flag flipped at {n} partitions"


# --- dedup_simhash: grouped-pairs candidate stage (second r18 pass) --------
#
# The chunk SELF-JOIN planned the whole signature chain twice (Spark shares
# no subtrees across join legs) and paid two chunk-key exchanges; r18's
# second pass groups each (chunk_id, chunk) bucket once and expands the
# ordered pairs in-row. A bucket's pair set {(a, b): doc_a < doc_b} is
# exactly the self-join's output for that key — doc_ids are unique within
# a bucket (one chunk value per doc per chunk_id) and sort_array orders the
# collected structs by doc_id — so the rows cannot move. These pins hold
# the equivalence against the verbatim join formulation and the
# one-documents-scan plan shape it bought.


def _simhash_chunks(spark, sf):
    """The signature + chunk stage exactly as dedup_simhash builds it.

    DELIBERATE PARTIAL FREEZE (ADVICE r18 #4): this helper re-implements
    the operator's chunk construction by hand so the join-form baseline
    stays executable verbatim. If the operator's signature/chunk stage
    ever changes, this equivalence pin silently compares the grouped
    pairs against a STALE chunk formulation rather than failing — the
    drift risk is accepted because the chunk math itself is value-pinned
    independently by the DuckDB oracle (the oracle replays token hashes,
    votes, signatures and block-pair buckets bit-for-bit every round),
    so a drifted helper would diverge from the oracle before it could
    mask a pairing bug here."""
    from dbfs_spark_cache_spark.operators.dedup import SIMHASH_BITS, h62_sql
    from dbfs_spark_cache_spark.operators.scale import spread_unsplittable_scan
    from dbfs_spark_cache_spark.sources import load_table

    docs = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    hashed = spread_unsplittable_scan(docs.select("doc_id", "text")).select(
        "doc_id",
        F.expr(f"transform(split(text, ' '), t -> {h62_sql('t')})").alias("hs"),
    )
    votes = F.expr(
        f"aggregate(hs, array_repeat(0L, {SIMHASH_BITS}), "
        f"(acc, h) -> transform(sequence(0, {SIMHASH_BITS - 1}), "
        "i -> element_at(acc, i + 1) "
        "+ CASE WHEN (shiftright(h, i) & 1L) = 1L THEN 1L ELSE -1L END))"
    )
    simhash_expr = F.expr(
        f"aggregate(zip_with(votes, sequence(0, {SIMHASH_BITS - 1}), "
        "(v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, i) ELSE 0L END), "
        "0L, (acc, x) -> acc + x)"
    )
    simhash = hashed.select("doc_id", votes.alias("votes")).select(
        "doc_id", simhash_expr.alias("simhash")
    )

    def block(i: int):
        return F.shiftrightunsigned(F.col("simhash"), i * 8).bitwiseAND(F.lit(0xFF))

    block_pairs = [(i, j) for i in range(8) for j in range(i + 1, 8)]
    return simhash.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i * 8 + j).alias("chunk_id"),
                        (F.shiftleft(block(i), 8) + block(j)).alias("chunk"),
                    )
                    for i, j in block_pairs
                ]
            )
        ).alias("c"),
    ).select(
        "doc_id",
        "simhash",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk").alias("chunk"),
    )


def test_simhash_grouped_pairs_matches_join_form(spark):
    from dbfs_spark_cache_spark.operators import QUERIES

    chunks = _simhash_chunks(spark, SF_ORACLE)
    a = chunks.alias("a")
    b = chunks.alias("b")
    # The pre-r18-second-pass formulation, verbatim: chunk self-join.
    join_form = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 8)
    )
    assert _rows(QUERIES["dedup_simhash"](spark, SF_ORACLE)) == _rows(join_form)


def test_simhash_scans_documents_once(spark):
    from dbfs_spark_cache_spark.operators import QUERIES

    plan = plan_text(QUERIES["dedup_simhash"](spark, SF_ORACLE))
    doc_scans = [p for p in _scan_locations(plan) if "documents" in p]
    assert len(doc_scans) == 1, f"expected 1 documents scan, got {len(doc_scans)}"
