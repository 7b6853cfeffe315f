"""Remaining SURVEY.md §2 coverage: generators, renames, correlated
subqueries, percentiles, and the full Python-function surface (grouped-agg
pandas UDAF, applyInPandas grouped map, Python UDTF)."""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources import load_table, register_views
from .registry import finite_or_null, register


@register(
    "range_generate",
    oracle="""
    SELECT CAST(gs.generate_series AS BIGINT) AS id,
           CAST(gs.generate_series * gs.generate_series AS BIGINT) AS id_squared
    FROM generate_series(0, 999, 3) gs
    """,
)
def range_generate(spark: SparkSession, sf: str) -> DataFrame:
    """The range generator source (no input files — pure computation)."""
    return spark.range(0, 1000, 3).select(
        "id", (F.col("id") * F.col("id")).alias("id_squared")
    )


@register(
    "project_rename",
    oracle="""
    SELECT s_suppkey AS supplier_id, s_name AS supplier_name,
           CAST(s_acctbal AS DOUBLE) AS balance
    FROM supplier
    """,
)
def project_rename(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load_table(spark, sf, "supplier")
        .withColumnRenamed("s_suppkey", "supplier_id")
        .withColumnRenamed("s_name", "supplier_name")
        .withColumnRenamed("s_acctbal", "balance")
        .select("supplier_id", "supplier_name", "balance")
    )


@register(
    "correlated_subquery_min",
    oracle="""
    SELECT p_brand, p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS p_retailprice
    FROM part p
    WHERE p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                           WHERE p2.p_brand = p.p_brand)
    """,
)
def correlated_subquery_min(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery (cheapest part per brand) — Catalyst
    rewrites it to an aggregate + join; min() is exact so the equality
    predicate is engine-stable."""
    register_views(spark, sf, ["part"])
    return spark.sql(
        """
        SELECT p_brand, p_partkey, p_name, p_retailprice
        FROM part p
        WHERE p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                               WHERE p2.p_brand = p.p_brand)
        """
    )


@register(
    "agg_percentile_exact",
    oracle="""
    SELECT o_orderpriority,
           ROUND(CAST(QUANTILE_CONT(o_totalprice, 0.5) AS DOUBLE), 4) AS median_price,
           ROUND(CAST(QUANTILE_CONT(o_totalprice, 0.9) AS DOUBLE), 4) AS p90_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentile_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use the same
    linear-interpolation definition; rounded to absorb ULP drift)."""
    orders = load_table(spark, sf, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
    )


@register(
    "udaf_grouped_pandas",
    oracle="""
    SELECT o_orderpriority,
           CAST(MAX(o_totalprice) - MIN(o_totalprice) AS DOUBLE) AS price_spread
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPED_AGG pandas UDF (a Python UDAF): Arrow-batched, one value per
    group. max-min is order-independent, so the result is exact."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def spread(prices: pd.Series) -> float:
        return float(prices.max() - prices.min())

    orders = load_table(spark, sf, "orders")
    return orders.groupBy("o_orderpriority").agg(
        spread("o_totalprice").alias("price_spread")
    )


@register(
    "grouped_map_pandas",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(MIN(value + 0.0) AS DOUBLE) AS min_value,
           CAST(MAX(value + 0.0) AS DOUBLE) AS max_value,
           CAST(MAX(value + 0.0) - MIN(value + 0.0) AS DOUBLE) AS value_range
    FROM events
    WHERE value IS NULL OR isfinite(value)
    GROUP BY user_id
    """,
)
def grouped_map_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """applyInPandas grouped map: whole group in, one summary row out.
    The custom-stateful-operator escape hatch; outputs are exact
    (count/min/max only).

    Non-finite values are excluded on both engines (r9 NaN/Inf probe,
    this query's due slot; fixture-identical — every fixture value is
    finite): pandas min/max SKIP NaN (skipna default) while SQL MIN/MAX
    sort NaN above +Infinity, so a NaN-valued group summarized
    differently per engine; the guard drops bad-telemetry rows
    identically instead (NULL values are skipped by BOTH pandas and
    SQL aggregates, so they still flow through).

    Signed zero (r14 'negzero' lens, landed in this query's r15 due
    slot; regression pin tests/test_r15_window_fixes.py): a group
    carrying BOTH +0.0 and -0.0 rendered a signed-zero coin flip —
    pandas min/max preserve the winner's sign bit where Spark's own JVM
    aggregates normalize -0.0 in UnsafeRow (and DuckDB's pick is
    scan-order luck). Both engines now aggregate over ``value + 0.0``
    (IEEE round-to-nearest folds -0.0 + 0.0 to +0.0; identity for every
    other value; NaN is already gated by finite_or_null), so there is
    only one zero for MIN/MAX to pick on any scan order — the
    nondeterminism is eliminated, not dodged. Fixture-invisible: no
    fixture column carries a negative zero.

    r18 opt (guide §4.1 — pass only the columns the function needs):
    applyInPandas is opaque to column pruning, so the grouped frame
    shipped ALL SIX event columns (incl. the props payload string and
    the timestamp) through the exchange and the Arrow boundary while
    ``summarize`` reads only user_id/value. The explicit projection
    reaches the scan (ReadSchema 6 -> 2 cols) and shrinks the shuffle
    and the JVM->Python transfer to the two used columns.

    The projection alone REGRESSED 2.76 -> 4.6 s: the narrow shuffle
    fell under AQE's advisory partition size, AQE coalesced the
    post-shuffle stage to ONE partition, and all ~1.5k per-group Python
    calls serialized in a single task — byte-based coalescing cannot
    see per-group Python-call overhead. The explicit
    ``repartition(defaultParallelism, "user_id")`` keeps the group
    calls spread (AQE never coalesces an explicit numPartitions
    repartition; groupBy reuses the exchange — the plan still has
    exactly one shuffle, guide §2.4), and the count is cluster-derived,
    not a local constant. Measured: 2.76 -> 0.94 s at sf0.1."""
    spark_parallelism = spark.sparkContext.defaultParallelism
    events = (
        load_table(spark, sf, "events")
        .where(finite_or_null("value"))
        .select("user_id", "value")
        .repartition(spark_parallelism, "user_id")
    )

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        # + 0.0 folds -0.0 into +0.0 — the same normalization Spark's
        # UnsafeRow applies on the JVM path this function bypasses
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

    return events.groupBy("user_id").applyInPandas(
        summarize,
        schema=(
            "user_id long, n_events long, min_value double, max_value double, "
            "value_range double"
        ),
    )


@register(
    "udtf_tokenize",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts
        FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, CAST(u.gs - 1 AS INT) AS pos, ts[u.gs] AS token
    FROM toks, UNNEST(generate_series(1, len(ts))) AS u(gs)
    """,
)
def udtf_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF: one input row -> many output rows (token stream with
    positions). The tokenization itself is SQL-expressible, so the UDTF
    *mechanism* gets a full value oracle (split+unnest in DuckDB);
    equivalence with explode-based tokenization is additionally pinned in
    tests/test_operators_pipeline.py. Deterministic subset via a doc_id
    predicate, not LIMIT (unordered LIMIT is layout-dependent).

    The doc frame is passed to spark.sql as a DataFrame argument
    ({docs} substitution) rather than through a session-global temp
    view (r12, this query's due slot; same hazard class as ADVICE r11
    #3): a shared view name is mutable session state — two interleaved
    invocations on one SparkSession at different sf dirs could race
    and read the wrong fixture. The UDTF registration is sf-independent
    and idempotent, so it carries no such hazard."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, token string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            if text is None:
                # the oracle's string_split(NULL) unnests to zero rows;
                # None.split here raised and killed the whole job
                return
            for pos, token in enumerate(text.split(" ")):
                yield doc_id, pos, token

    docs = load_table(spark, sf, "documents").where(F.col("doc_id") < 50)
    spark.udtf.register("tokenize_udtf", Tokenize)
    return spark.sql(
        "SELECT t.doc_id, t.pos, t.token "
        "FROM {docs}, LATERAL tokenize_udtf(doc_id, text) t",
        docs=docs,
    )


@register(
    "fn_edit_distance",
    oracle="""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fn_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy string matching via Levenshtein distance — the record-linkage
    primitive (catalog reconciliation, near-identical entity names) that
    complements the set-based dedup family.

    Scale shape (r6, composite block key): TPC-H has a FIXED ~25 brands,
    so brand-only blocking makes block size linear in the corpus and the
    within-block pair count quadratic (VERDICT r5 weak #1). The equi-key
    here is (brand, length band): edit_dist <= 3 implies
    |len(a) - len(b)| <= 3, so with band width 4 every qualifying pair
    has band keys differing by at most 1. The probe side fans each row
    out to its three adjacent bands (map-side 3x, no shuffle growth in
    keys matched per pair — the three exploded keys are distinct, so a
    pair joins exactly once). Candidate pairs are therefore
    sum-over-(brand x band) of |block_a| * 3|block_b| instead of
    sum-over-brand of |block|^2 — sublinear growth in pair space as the
    corpus scales, same result set. The p_partkey ordering halves pairs;
    a cheap |len diff| <= 3 guard runs before the O(len^2) levenshtein.

    Byte-level contract (r18, landed in this query's due slot; found by
    the r17 `astral` lens, 150/1 at sf0.01): Spark's levenshtein counts
    CODE POINTS while DuckDB's counts UTF-8 BYTES ('café'~'cafe': 1 vs
    2; one astral char ~ 'a': 1 vs 4), so "the engines agree exactly"
    holds only for single-byte text. The registered semantic is the
    BYTE distance — the one contract exactly expressible on both
    engines: names are folded through decode(encode(x,'UTF-8'),
    'ISO-8859-1') (each UTF-8 byte becomes exactly one Latin-1 code
    point, so Spark's code-point levenshtein over the fold IS the byte
    distance) and banding uses octet_length (byte_dist <= 3 implies
    |byte-length diff| <= 3; the code-POINT band bound does NOT hold
    under byte semantics). ASCII is a byte-for-byte no-op, so the
    landing is fixture-identical (pinned in
    tests/test_edit_distance_contract.py); the oracle is unchanged —
    it was byte-based all along.
    """
    part = load_table(spark, sf, "part")
    return banded_edit_pairs(
        part, key_col="p_partkey", block_col="p_brand", name_col="p_name"
    )


def _bytes_as_latin1(col):
    """Each UTF-8 byte of ``col`` as ONE Latin-1 code point: Spark's
    code-point levenshtein over this fold is the UTF-8 BYTE distance —
    the semantic DuckDB's levenshtein natively computes. ASCII text is a
    byte-for-byte no-op."""
    return F.decode(F.encode(col, "UTF-8"), "ISO-8859-1")


def banded_edit_pairs(
    df: DataFrame,
    key_col: str,
    block_col: str,
    name_col: str,
    max_dist: int = 3,
    band_width: int = 4,
) -> DataFrame:
    """All pairs within ``max_dist`` BYTE-level edits sharing
    ``block_col``, blocked by (block, byte-length band). Output columns:
    part_a/part_b (keys), name_a/name_b, edit_dist. The distance is the
    UTF-8 byte Levenshtein (see ``_bytes_as_latin1`` — r18 contract;
    identical to code-point distance on ASCII), and banding uses
    ``octet_length`` because the band-adjacency bound is only sound in
    the same unit as the distance. band_width must exceed max_dist so
    any qualifying pair's band keys differ by at most 1 (the probe side
    fans out to the three adjacent bands). Completeness against a
    brute-force self-join is pinned on adversarial band-boundary data in
    tests/test_scale_patterns.py and on astral/multibyte names in
    tests/test_edit_distance_contract.py; the fixture query's DuckDB
    oracle re-proves it on real data every round."""
    if band_width <= max_dist:
        raise ValueError(
            f"band_width ({band_width}) must exceed max_dist ({max_dist}): "
            "a qualifying pair could otherwise span non-adjacent bands and "
            "be missed by the 3-band fan-out"
        )
    spark = df.sparkSession
    # A NULL name has a NULL band, which never matches in the equi-join,
    # so dropping NULL names changes no result; it lets the scan push
    # IsNotNull(name) down and skip those rows before the fan-out.
    df = df.where(F.col(name_col).isNotNull())
    # The byte fold is HOISTED into the row projections — folded once per
    # row (3x on the exploded probe side) instead of once per candidate
    # pair inside the join condition, where it re-ran for every comparison
    # (measured at sf0.1: per-pair fold 1.22 s vs hoisted 0.99 s vs the
    # pre-r18 code-point form 0.81 s — the byte-correct semantics are
    # worth it, BENCH_NOTES "Round-18").
    # r19 opt (guide §2.3 shuffle fewer bytes; VERDICT r18 next-round
    # item #5 — the byte contract regressed fn_edit_distance 2.3x on the
    # driver box): the fold is a BIJECTION (Latin-1 decode of the UTF-8
    # bytes is total and invertible), so the name column no longer rides
    # the join at all — both sides carry ONLY the fold plus a precomputed
    # byte-length int, and the few surviving pairs recover the original
    # names post-join via encode(fold,'ISO-8859-1') -> decode(.,'UTF-8').
    # That halves each side's string payload through the repartition and
    # the broadcast build, and the per-pair length guard compares two
    # precomputed ints instead of re-running octet_length per candidate.
    blen = F.octet_length(name_col)
    a = df.select(
        F.col(key_col).alias("part_a"),
        F.col(block_col).alias("brand_a"),
        _bytes_as_latin1(F.col(name_col)).alias("fold_a"),
        blen.alias("len_a"),
        (blen / band_width).cast("int").alias("band_a"),
    )
    base_band = (blen / band_width).cast("int")
    b = df.select(
        F.col(key_col).alias("part_b"),
        F.col(block_col).alias("brand_b"),
        _bytes_as_latin1(F.col(name_col)).alias("fold_b"),
        blen.alias("len_b"),
        F.explode(
            F.array(base_band - 1, base_band, base_band + 1)
        ).alias("band_b"),
    )
    # Thresholded levenshtein (returns -1 above the threshold) early-exits
    # at O(len * max_dist) per pair instead of O(len^2); the cheap guards
    # (ordering halves the pair space, the length band implies most of the
    # |len diff| filter) sit BEFORE it in the conjunction so codegen
    # short-circuits. The probe side repartitions so the per-block
    # quadratic work spreads across cores — a single small parquet file
    # otherwise scans as ONE task and serializes every distance eval
    # (at real scale the input splits naturally; this keeps the plan
    # shape honest at bench scale too).
    dist_t = F.levenshtein(F.col("fold_a"), F.col("fold_b"), max_dist)
    # Databricks auto-optimized shuffle sets this conf to the literal
    # string "auto"; int("auto") would fail the whole query at plan-build
    # time. Fall back to the cluster's default parallelism.
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except (TypeError, ValueError):
        n_parts = spark.sparkContext.defaultParallelism

    def _unfold(fold_col: str):
        # Inverse of _bytes_as_latin1: Latin-1 encode recovers the exact
        # original UTF-8 bytes, UTF-8 decode the original string. Runs
        # only on the surviving pairs (a few thousand rows), never on the
        # candidate space.
        return F.decode(F.encode(F.col(fold_col), "ISO-8859-1"), "UTF-8")

    return (
        a.repartition(n_parts)
        .join(
            b,
            (F.col("brand_a") == F.col("brand_b"))
            & (F.col("band_a") == F.col("band_b"))
            & (F.col("part_a") < F.col("part_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist),
        )
        .where(dist_t >= 0)
        .select(
            "part_a",
            "part_b",
            _unfold("fold_a").alias("name_a"),
            _unfold("fold_b").alias("name_b"),
            dist_t.cast("long").alias("edit_dist"),
        )
    )


@register(
    "window_value_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderdate) OVER w_full AS first_order_ts,
           LAST_VALUE(o_orderdate) OVER w_full AS last_order_ts,
           NTH_VALUE(o_totalprice, 2) OVER w_full AS second_order_price
    FROM orders
    WINDOW w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
    """,
)
def window_value_frames(spark: SparkSession, sf: str) -> DataFrame:
    """first_value / last_value / nth_value over explicit full-partition
    frames — each order row annotated with its customer's first order
    date, last order date, and second-order price (NULL for single-order
    customers). Completes the window-function family alongside
    rank/lag/running-frame/percentile queries.

    One shuffle on o_custkey; the frame is per-customer and bounded by
    order count. Tie-break on o_orderkey keeps the frame order (and so
    nth_value) engine-deterministic.

    NULL-date contract (r11, this query's due slot; r9 third review
    batch): on a NULL o_orderdate the engines DIVERGED — Spark's
    ascending window orders NULLS FIRST, DuckDB NULLS LAST, so
    first/last/nth_value all shifted for every row of an affected
    customer (the sessionization NULL-ordering class). The Spark window
    now orders ``asc_nulls_last`` (DuckDB's ASC default); regression
    pin in ``tests/test_r11_window_fixes.py``. No fixture has a NULL
    order date at any SF (fixture-identical).
    """
    orders = load_table(spark, sf, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc_nulls_last(), "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderdate").over(w).alias("first_order_ts"),
        F.last("o_orderdate").over(w).alias("last_order_ts"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_order_price"),
    )


@register(
    "events_value_zscore",
    oracle="""
    WITH ev AS (
        SELECT * FROM events WHERE value IS NULL OR isfinite(value)
    ),
    stats AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2,
               COUNT(*) AS n
        FROM ev GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND((e.value - s1 / n)
                 / NULLIF(CASE WHEN n > 1 THEN
                     sqrt(GREATEST((s2 - s1 * s1 / n) / (n - 1), 0))
                   END, 0), 6) AS value_z
    FROM ev e JOIN stats s USING (event_type)
    """,
)
def events_value_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group z-score normalization — the standard feature-scaling pass
    before model training. The mean/variance are computed from DECIMAL
    power sums (sum x, sum x^2) instead of the built-in stddev aggregate:
    decimal sums are association-independent, so the statistics — and
    therefore every normalized value — are bit-reproducible under any
    partitioning and match the oracle exactly, where a float stddev's
    result depends on partition reduction order.

    Scale shape: one grouped aggregation over the fact (map-side partials),
    then the tiny per-group stats table broadcast back onto the fact rows —
    the same one-shuffle + broadcast pattern as the tf-idf scorer.

    Overflow bound (r11, this query's due slot; r9 third review batch):
    a value of magnitude >= ~1e9 CRASHED the sum-of-squares cast —
    value^2 needs 19+ integer digits, over DECIMAL(30,12)'s 18 — under
    ANSI mode, on BOTH engines (one corrupt reading killing the pass).
    The x^2 power sum is now DECIMAL(38,12) on both engines, raising
    the per-value bound to |v| < ~1e13 while keeping the
    association-independent exactness; regression pin in
    ``tests/test_r11_window_fixes.py``. No fixture value reaches 1e9 at
    any SF (fixture-identical).

    Non-finite contract (same r11 slot; nonfinite lens — true NaN/Inf
    storage): a single NaN/Inf reading crashed the oracle's DECIMAL
    cast and poisoned this side's group stats into NULL — bad-telemetry
    rows now drop identically on both engines (finite_or_null; NULLs
    keep flowing through three-valued sums).
    """
    events = load_table(spark, sf, "events").where(finite_or_null("value"))
    stats = events.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,12)"))
        .cast("double")
        .alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.col("s1") / F.col("n")
    # Degenerate groups get NULL, not a crash: a singleton group makes
    # (n - 1) zero — DIVIDE_BY_ZERO under ANSI mode (Spark 4 default) —
    # and an all-equal group has std 0 (plus the decimal-quantized
    # variance can round a hair negative, where sqrt is NaN here but a
    # hard error in the oracle). n>1 gate + GREATEST(...,0) + NULLIF(std,
    # 0) give both engines the same NULL for every degenerate shape; a
    # z-score simply has no meaning for those groups.
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    std = F.when(F.col("n") > 1, F.sqrt(F.greatest(var, F.lit(0.0))))
    return (
        events.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                (F.col("value") - mean) / F.nullif(std, F.lit(0.0)), 6
            ).alias("value_z"),
        )
    )


@register(
    "market_basket_pairs",
    oracle="""
    WITH lines AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM lines a
        JOIN lines b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, COUNT(*) AS n_orders_together
    FROM pairs
    GROUP BY part_a, part_b
    HAVING COUNT(*) >= 2
    ORDER BY n_orders_together DESC, part_a, part_b
    """,
)
def market_basket_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in at
    least two orders — the support-counting core of association-rule
    mining (and of co-occurrence embeddings).

    Scale shape: the self-join is equi-keyed on l_orderkey, so pair
    generation is quadratic only in LINES PER ORDER (~7 in TPC-H shapes,
    bounded by basket size — a per-key constant), never in the table; the
    l_partkey < l_partkey ordering halves it. One shuffle on the order
    key, one on the pair for the count; the HAVING threshold prunes the
    long tail before any downstream join.

    r18 opt note: a one-scan restructure (collect_set basket per order
    + in-row sorted-pair expansion, removing one scan and one distinct
    exchange) was A/B-measured INTERLEAVED with this form and REFUTED
    at sf0.1: old 1.25-1.40 s best vs restructure 1.52-1.72 s (plain)
    and 1.65-2.39 s (with the input spread) — the ObjectHashAggregate
    collect_set + explode costs more than the AQE-broadcast distinct
    leg it replaces. Oracle parity of the rejected form was verified
    before rejecting. Left as the self-join; at a scale where the
    distinct leg exceeds the broadcast threshold AQE falls back to SMJ
    and the trade could invert — re-measure there, don't assume.
    """
    # DISTINCT first: an order holding the same part on TWO lineitem rows
    # otherwise yields duplicate joined pairs, inflating
    # n_orders_together past the true distinct-order support (live at
    # sf0.01: 55 duplicate (order, part) groups pushed support-1 pairs
    # over the >= 2 threshold). Support counts ORDERS, not line pairs.
    li = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.withColumnRenamed("l_partkey", "part_a")
    b = li.withColumnRenamed("l_partkey", "part_b").withColumnRenamed(
        "l_orderkey", "r_orderkey"
    )
    return (
        a.join(
            b,
            (F.col("l_orderkey") == F.col("r_orderkey"))
            & (F.col("part_a") < F.col("part_b")),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders_together"))
        .where(F.col("n_orders_together") >= 2)
        # No trailing global orderBy: the pair set SCALES with the corpus
        # (unlike the tiny aggregated outputs the qN queries sort), the
        # driver comparison canonicalizes row order anyway, and a full
        # range-partitioned sort purely for presentation is a whole extra
        # shuffle+sort pass at 100 TB. Callers that want "top pairs"
        # should .orderBy(...).limit(k) — TakeOrdered, not a full sort.
    )


@register(
    "customer_rfm_features",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS max_date FROM orders)
    SELECT o.o_custkey,
           CAST(date_diff('day', MAX(o.o_orderdate),
                          (SELECT max_date FROM maxd)) AS BIGINT)
               AS recency_days,
           COUNT(*) AS frequency,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(22,2))) AS DOUBLE)
               AS monetary
    FROM orders o
    GROUP BY o.o_custkey
    """,
)
def customer_rfm_features(spark: SparkSession, sf: str) -> DataFrame:
    """RFM (recency / frequency / monetary) per customer — the canonical
    behavioral feature block for churn/LTV models. Recency is measured
    against the corpus max date, kept in-plan as a broadcast single-row
    aggregate (no driver collect, no data-dependent literal in the cache
    fingerprint); DECIMAL sums make monetary exact.

    One grouped aggregation over orders (map-side partials); the max-date
    row broadcasts onto the grouped output, not the fact.
    """
    orders = load_table(spark, sf, "orders")
    max_date = orders.agg(F.max("o_orderdate").alias("max_date"))
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(22,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            "o_custkey",
            F.datediff("max_date", "last_order").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
