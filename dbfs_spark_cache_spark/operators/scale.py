"""Scale patterns as first-class helpers: skew-salted joins and bucketed
co-located joins. These are the knobs a 100 TB deployment turns when AQE's
automatic handling isn't enough; both are demonstrated and pinned by
tests/test_scale_patterns.py."""
from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fs
from ..plans.fingerprint import input_files
from .registry import register


def _reject_reserved_columns(helper: str, names: tuple, *frames: DataFrame) -> None:
    """Refuse input frames already carrying a helper-internal column name
    (r12 review): ``withColumn`` silently OVERWRITES an existing column,
    so a caller's ``__salt``/``__bucket``/... would be clobbered and the
    helper's own bookkeeping corrupted — wrong rows, no error. A loud
    precondition beats silent data loss; callers rename first."""
    for frame in frames:
        clash = [c for c in frame.columns if c in names]
        if clash:
            raise ValueError(
                f"{helper}: input columns {clash} collide with the "
                "helper's internal bookkeeping names — rename them first"
            )


def spread_unsplittable_scan(
    df: DataFrame, min_parallelism: Optional[int] = None
) -> DataFrame:
    """Fan a narrow-parallelism input out to the session's cores before
    CPU-heavy per-row work — the guarded form of the optimization guide's
    unsplittable-input fix (§2.5: "one huge unsplittable file … otherwise
    repartition immediately after the read").

    A parquet file written as a single row group (every fixture table —
    and any streaming-writer output with per-batch files), a gzip file,
    or a handful of small files all plan to FEWER scan tasks than the
    cluster has cores, so every expression computed in that stage
    serializes no matter how wide the cluster is: a 128-hash MinHash
    signature build over such a scan ran ~4x slower than the same build
    over a spread frame at sf0.1 (BENCH_NOTES "Round-18 opt"). The gate
    is file-level metadata only: the spread fires when the frame reads
    FEWER files than the target parallelism AND the summed on-disk size
    of those files is below what `target` scan tasks would each take one
    split of (target x maxPartitionBytes). The files come from
    `plans.fingerprint.input_files`, the plan walk the cache key and the
    cost gate read (so a `.cache()`d frame is gated like the uncached
    one), and are sized with `fs.file_sizes` only after the count check
    passes — a few files, one listing per directory, no job, no RDD
    conversion and no extra plan pass. (Gating on
    `df.rdd.getNumPartitions()` or `optimizedPlan().stats()` was tried
    and dropped: both charge a physical-planning or optimize pass to
    every call.) A well-partitioned corpus (the 100 TB case: thousands of
    files) takes the identity branch, so this can never ADD a shuffle at
    scale; under the size cap the moved bytes are bounded by one split per
    core — less data than one task would otherwise grind through serially.
    It is the opposite of a constant tuned to one deployment. A failed
    probe (a listing that raises, a file that cannot be sized) leaves the
    frame alone.

    Results are partitioning-invariant for every caller by contract
    (pure per-row map stages feeding set-semantic joins/aggregations;
    the package-wide invariance sweeps pin results under forced
    1/7-partition layouts). Streaming frames return unchanged — their
    partitioning is not introspectable before execution, and micro-batch
    parallelism is the source's concern. Frames with no file source
    (in-memory relations) are left alone: Spark already parallelizes
    them over the cores.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    try:
        files = input_files(df)
        if not files or len(files) >= target:
            return df
        max_split = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
            )
        )
        sizes = fs.file_sizes(files)
        if len(sizes) < len(files) or sum(sizes) > target * max_split:
            # A file went unsized (the probe failed), or few-but-large
            # files: parquet row groups usually make these splittable to
            # >= target tasks anyway, and moving this many bytes is no
            # longer obviously cheaper than the serial scan.
            return df
    except Exception:
        # Non-introspectable plan: leave the frame alone rather than guess.
        return df
    return df.repartition(target)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the fact side gets a random salt in
    [0, n_salts), the dim side is replicated n_salts times, and the join key
    becomes (key, salt). A single hot key spreads over n_salts tasks instead
    of melting one executor.

    Use when one side is too large to broadcast AND the key distribution is
    pathological beyond what AQE's skew-join splitting handles. The salt
    column is internal and dropped from the result.

    Only join types where the replicated dim side cannot surface unmatched
    rows are allowed: a right/full outer join would emit every unmatched
    dim row once per salt.

    The salt is a content hash of the whole fact row (xxhash64 over every
    column, mod n_salts), NOT rand(): rand(seed) is only deterministic per
    partition layout, so a task retry after a repartition could re-salt
    rows differently mid-job (round-5 nit #4). A content hash is
    retry- and layout-stable, and still spreads a hot KEY because the
    non-key columns vary across its rows. (Hashing only the key would
    send each hot key to a single salt — no skew mitigation at all.)
    Fully identical duplicate rows co-locate; that is inherent to any
    deterministic scheme.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join does not support how={how!r}: the dim side is "
            "replicated per salt, which duplicates unmatched rows in "
            "right/full outer joins"
        )
    _reject_reserved_columns("salted_join", ("__salt",), fact, dim)
    salted_fact = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salts)).cast("int"),
    )
    exploded_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    joined = salted_fact.join(exploded_dim, [key, "__salt"], how)
    return joined.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
    sort_by: Optional[List[str]] = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key.

    Two tables bucketed the same way join WITHOUT a shuffle on either side —
    the physical plan reads co-located buckets directly into the sort-merge
    join. This is the pre-computation that turns a recurring 100 TB join
    into a scan-only operation.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def distributed_global_percentiles(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_buckets: int = 32,
    n_tiles: int = 10,
    pct_col: str = "pct_rank",
    cume_col: str = "cume_dist",
    tile_col: str = "tile",
    partition_cols: Optional[List[str]] = None,
    count_col: Optional[str] = None,
) -> DataFrame:
    """Global percent_rank / cume_dist / ntile WITHOUT a global window.

    With ``partition_cols`` it is the GROUPED variant: distribution ranks
    within each partition-key combination, for LOW-cardinality keys (a
    5-value priority, a region, a status) where a plain
    ``Window.partitionBy(key)`` is partitioned in name only — each key's
    entire population still sorts in one task. Bounds/counts/offsets then
    key on (partition, bucket); the broadcast stages stay tiny because
    |keys| x n_buckets is small — that's the contract. For
    HIGH-cardinality keys, use a plain window: partitions are already
    parallel and banding adds cost for nothing.

    ``Window.orderBy`` with no partitionBy funnels the whole table through
    one task (Exchange SinglePartition -> one WindowExec) — the classic
    scale-killer. This helper implements the distributed global-rank
    pattern instead:

      1. range-bucket rows on the value (bounds via in-plan broadcast
         min/max, so equal values always share a bucket);
      2. per-bucket counts -> one tiny aggregation per partition key
         collects the <= n_buckets + 1 (bucket, cnt) rows into a sorted
         array and computes every cumulative offset plus the total
         IN-ROW (no window, no driver collect(); r19 — this replaced an
         ``n_buckets``-row broadcast self-join for offsets, a separate
         grouped sum for totals, and one of two attach joins);
      3. per-bucket windows (partitioned, parallel) for local rank /
         tie-inclusive count / row_number;
      4. global_rank = offset + local rank; percent_rank, cume_dist and
         NTILE follow arithmetically from (global rank, N).

    Exactly matches the single-window semantics (verified against Spark's
    own global window in tests/test_scale_patterns.py, including ties,
    all-equal, NULLs, and N < n_tiles edge cases). Every WindowExec is
    partitioned; only <= n_buckets aggregate rows cross single-partition
    exchanges.

    NULL contract: ``Window.orderBy`` ranks NULLs first (ascending), so
    NULL values get their own lowest bucket. Without that, ``F.least``
    skips NULL operands and ``least(n_buckets-1, floor(NULL))`` would
    silently rank NULL rows at the TOP. A NULL PARTITION KEY forms its
    own group — ``Window.partitionBy`` and SQL ``PARTITION BY`` both
    group NULLs together — so every internal join on ``partition_cols``
    is null-safe (``<=>``); plain equality silently DROPPED rows whose
    partition key is NULL (r9 window fix: the banded form diverged from
    both the plain-window form and the oracle on such rows; still a
    hash-equi join, so the broadcast plan shape is unchanged).

    ``count_col`` additionally emits each row's (partition-)total N —
    already computed internally for the rank arithmetic, so consumers
    that need it (:func:`grouped_exact_median`) get it for free instead
    of re-scanning the input for a separate count aggregate.
    """
    from pyspark.sql import Window as W

    # The guard covers the internal bookkeeping names AND the
    # caller-supplied output names (ADVICE r12 #4: grouped_exact_median
    # calls this with pct_col="__pct"/cume_col="__cume"/tile_col="__tile",
    # and an input frame already carrying one of those was silently
    # clobbered by the final select's alias — the same silent-overwrite
    # hazard class the guard exists to close).
    _out_names = tuple(
        c for c in (pct_col, cume_col, tile_col, count_col) if c
    )
    _reject_reserved_columns(
        "distributed_global_percentiles",
        tuple(
            dict.fromkeys(
                ("__lo", "__hi", "__bucket", "__cnt", "__n", "__offset",
                 "__bc", "__ob")
                + _out_names
            )
        ),
        df,
    )
    parts: List[str] = list(partition_cols or [])

    if parts:
        bounds = df.groupBy(*parts).agg(
            F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi")
        )
    else:
        bounds = df.agg(
            F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi")
        )
    v = F.col(value_col).cast("double")
    step = (F.col("__hi") - F.col("__lo")).cast("double") / n_buckets
    bucket = (
        F.when(v.isNull(), F.lit(-1))
        .when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(F.lit(n_buckets - 1), F.floor((v - F.col("__lo")) / step))
        )
    )
    def _ns_cond(left_alias: str, right_alias: str):
        from functools import reduce as _r

        return _r(
            lambda a, b: a & b,
            [
                F.col(f"{left_alias}.{p}").eqNullSafe(F.col(f"{right_alias}.{p}"))
                for p in parts
            ],
        )

    if parts:
        joined = (
            df.alias("l")
            .join(F.broadcast(bounds.alias("r")), _ns_cond("l", "r"))
            .select("l.*", "r.__lo", "r.__hi")
        )
    else:
        joined = df.crossJoin(F.broadcast(bounds))
    bucketed = joined.withColumn("__bucket", bucket.cast("int")).drop(
        "__lo", "__hi"
    )

    counts = bucketed.groupBy(*parts, "__bucket").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # r19 opt (VERDICT r18 next-round item #7, guide §2.4): cumulative
    # offsets and partition totals used to be TWO further branches over
    # `counts` — an n_buckets-row broadcast self-join for the offsets plus
    # a separate grouped sum for the totals — and the final attach paid
    # TWO broadcast joins. Spark shares no subtrees across branches, so
    # every branch re-planned the whole counts chain (scan included). One
    # aggregation per partition key now collects the (bucket, cnt) rows —
    # at most n_buckets + 1 of them by construction, that is the helper's
    # low-cardinality contract — into a bucket-sorted array and computes
    # every cumulative offset and the total IN-ROW (O(n_buckets^2) integer
    # adds on <= 34 elements); the attach below is ONE broadcast join.
    # Offsets/totals are the same exact integer sums as before, so every
    # downstream rank value is bit-identical.
    bc_agg = F.sort_array(F.collect_list(F.struct("__bucket", "__cnt")))
    if parts:
        meta = counts.groupBy(*parts).agg(bc_agg.alias("__bc"))
    else:
        meta = counts.agg(bc_agg.alias("__bc"))
    off_struct = F.expr(
        "transform(__bc, (x, i) -> named_struct("
        "'__bucket', x.__bucket, "
        "'__offset', aggregate(slice(__bc, 1, i), 0L, (acc, y) -> acc + y.__cnt)))"
    )
    total_expr = F.expr("aggregate(__bc, 0L, (acc, y) -> acc + y.__cnt)")
    offsets = meta.select(
        *parts, total_expr.alias("__n"), F.explode(off_struct).alias("__ob")
    ).select(
        *parts,
        F.col("__ob.__bucket").alias("__bucket"),
        F.col("__ob.__offset").alias("__offset"),
        "__n",
    )

    w_val = W.partitionBy(*parts, "__bucket").orderBy(value_col)
    w_le = w_val.rangeBetween(W.unboundedPreceding, W.currentRow)
    w_det = W.partitionBy(*parts, "__bucket").orderBy(value_col, tiebreak_col)

    n = F.col("__n")
    g_rank = F.col("__offset") + F.rank().over(w_val)
    n_le = F.col("__offset") + F.count(F.lit(1)).over(w_le)
    rn = F.col("__offset") + F.row_number().over(w_det)

    # NTILE(k) over n rows: the first n % k tiles hold floor(n/k)+1 rows.
    tile_sz = F.floor(n / n_tiles)
    rem = n % n_tiles
    tile = F.when(
        rn <= rem * (tile_sz + 1), F.floor((rn - 1) / (tile_sz + 1)) + 1
    ).otherwise(rem + F.floor((rn - rem * (tile_sz + 1) - 1) / tile_sz) + 1)

    out_cols = list(df.columns)
    if parts:
        off_cond = _ns_cond("l", "r") & (
            F.col("l.__bucket") == F.col("r.__bucket")
        )
        with_totals = (
            bucketed.alias("l")
            .join(F.broadcast(offsets.alias("r")), off_cond)
            .select("l.*", "r.__offset", "r.__n")
        )
    else:
        with_totals = bucketed.join(F.broadcast(offsets), ["__bucket"])
    extra = [n.cast("long").alias(count_col)] if count_col else []
    return with_totals.select(
        *out_cols,
        F.when(n == 1, F.lit(0.0))
        .otherwise((g_rank - 1).cast("double") / (n - 1).cast("double"))
        .alias(pct_col),
        (n_le.cast("double") / n.cast("double")).alias(cume_col),
        tile.cast("long").alias(tile_col),
        *extra,
    )


def grouped_exact_median(
    df: DataFrame,
    value_col: str,
    part_col: str,
    out_name: str,
    tiebreak_col: str,
) -> DataFrame:
    """Exact per-group median (SQL/DuckDB interpolating semantics: the
    mean of the two middle values for even counts) WITHOUT a per-group
    global sort — for LOW-cardinality group keys, the same contract as
    :func:`distributed_global_percentiles` grouped mode, which this rides.

    Each row gets its tie-inclusive cumulative count via the banded,
    partitioned windows; the k-th smallest value of a group is then the
    MIN value whose cumulative count reaches k — one conditional
    aggregation, no single-task WindowExec anywhere. cume_dist arrives as
    n_le/n in DOUBLE; multiplying back by n and rounding recovers the
    integer n_le exactly (|error| ~ ulp, far below 0.5 for any realistic
    group size). Edge cases (singletons, all-equal, ties straddling the
    middle, even/odd counts) are pinned against ``statistics.median`` in
    tests/test_pending_r8.py.
    """
    ranked = distributed_global_percentiles(
        df,
        value_col,
        tiebreak_col=tiebreak_col,
        partition_cols=[part_col],
        pct_col="__pct",
        cume_col="__cume",
        tile_col="__tile",
        count_col="__n",  # free ride on the helper's internal total
    )
    n_le = F.round(F.col("__cume") * F.col("__n")).cast("long")
    k_lo = F.floor((F.col("__n") + 1) / 2)  # lower middle (== upper if odd)
    k_hi = F.floor(F.col("__n") / 2) + 1  # upper middle
    return ranked.groupBy(part_col).agg(
        (
            (
                F.min(F.when(n_le >= k_lo, F.col(value_col)))
                + F.min(F.when(n_le >= k_hi, F.col(value_col)))
            )
            / 2
        ).alias(out_name)
    )


def grouped_median_mad(
    df: DataFrame,
    value_col: str,
    part_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-group robust baseline: exact median of ``value_col`` plus the
    median absolute deviation from it — one frame of
    ``(part_col, median_value, mad)``, |groups| rows.

    The single source of the median->deviation->MAD math: the batch
    anomaly screen (``events_anomaly_mad``) and the streaming screen's
    staged baseline (``streaming.robust_outlier_baseline``) both call
    this, so their batch/stream parity can never drift. MAD is
    irreducibly two sequential banded-median passes; both ride
    :func:`grouped_exact_median` (low-cardinality ``part_col`` contract,
    no single-task sorts).

    NULL group keys are DROPPED from the output (r17 fresh-eyes,
    documented not changed): the deviation and median<->mad joins here
    use plain equality on ``part_col`` — exactly like the batch twin
    ``events_anomaly_mad``'s inline joins and its oracle's
    ``JOIN ... USING (event_type)``, so batch, stream, and oracle all
    agree. A caller that needs a NULL-keyed group ranked must coalesce
    the key to a sentinel first (the banded helper underneath is
    null-safe; it is the consumer-side joins that define this contract).
    """
    _reject_reserved_columns("grouped_median_mad", ("__dev", "median_value"), df)
    med = grouped_exact_median(
        df, value_col, part_col, "median_value", tiebreak_col=tiebreak_col
    )
    with_dev = df.join(F.broadcast(med), part_col).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("median_value"))
    )
    mad = grouped_exact_median(
        with_dev, "__dev", part_col, "mad", tiebreak_col=tiebreak_col
    )
    return med.join(mad, part_col)


@register(
    "join_salted_skew",
    oracle="""
    SELECT p.p_type,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(22,2))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_type
    ORDER BY p.p_type
    """,
)
def join_salted_skew(spark: SparkSession, sf: str) -> DataFrame:
    """The salted join under the correctness gate: fact lineitem joined to
    part through :func:`salted_join` (16 salts), then aggregated per part
    type. Salting is semantics-free by construction — every salt
    assignment yields the same join result — so the plain-join oracle
    value-checks the helper end to end, and the query documents the shape
    you reach for when one join key is pathological beyond AQE's skew
    splitting. DECIMAL sums keep the revenue reduction order-independent
    under the salt-spread partitioning.

    r19 opt: the r18 input spread ahead of the salt+probe stage was
    REFUTED by the driver's cold-JVM single-pass ground truth (PERF_r18:
    1.28 -> 1.41 s at local[32], speedup 0.91). The probe side already
    ends in the salted-join exchange, so the spread was a pure extra
    hop. REVERTED per VERDICT r18 next-round item #2."""
    from ..sources import load_table

    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_extendedprice")
    part = (
        load_table(spark, sf, "part")
        .select("p_partkey", "p_type")
        .withColumnRenamed("p_partkey", "l_partkey")
    )
    joined = salted_join(li, part, "l_partkey", n_salts=16)
    return (
        joined.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(22,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("p_type")
    )
