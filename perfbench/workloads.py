"""The benchmark's workloads and the harness that times their operations.

Every workload is a closed loop: one client in one process issues the next
operation when the previous one has returned. A *pass* is one fixed round
of operations; a run repeats passes until its measuring time is used up.
The engine is only called through the public functions of its modules;
the harness times those calls from outside.
"""
from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

import datagen
from sparkstats import StageCollector

# One headline query of 11 of the 13 operator modules the 32 headline
# queries come from, mostly the cheapest of its module; the pipeline one is
# the query with two cache-staged stages, and runs the dedup module's MinHash
# funnel. All 32 cost 62 s cold + 29 s warm a pass on 4 cores at fixture
# scale 0.01, and the 13-module set 29 s + 13 s: more than a run may take.
# The cheaper similarity query, embedding_quantize_int8, disagrees with its
# oracle on one row of some generated inputs (seed 11).
HEADLINE = {  # query: its operator module
    "q3_shipping_priority": "relational",
    "q2_min_cost_supplier": "tpch_partsupp",
    "sessionization": "timeseries",
    "similarity_topk_cosine": "similarity",
    "text_pii_scrub": "text",
    "pipeline_dedup_survivors": "pipeline",
    "join_salted_skew": "scale",
    "train_val_test_split": "training",
    "fn_edit_distance": "extras",
    "stats_corr_covar": "analytics2",
    "text_chunk_sliding": "corpus_analytics",
}


def digest(df):
    """(rows, order-free content digest) of ``df`` — one aggregation job
    that reads every row and column, so it also materializes ``df``."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


class Namespace:
    """A cache directory + database of its own, dropped with ``drop``."""

    def __init__(self, spark, work: str, name: str):
        from dbfs_spark_cache_spark import reconfigure

        self.spark, self.name = spark, name
        self.cache_dir = os.path.join(work, "cache", name) + "/"
        reconfigure(SPARK_CACHE_DIR=self.cache_dir, CACHE_DATABASE=name)

    def drop(self) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS {self.name} CASCADE")
        shutil.rmtree(self.cache_dir, ignore_errors=True)


def tree_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for base, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(base, f))
                except OSError:
                    pass
    return total


CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def process_cpu_s(*pids) -> float:
    """User + system CPU seconds consumed so far by the processes ``pids``
    (``"self"`` for this one), all their threads included."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / CLOCK_TICKS


def _tamper(result):
    if isinstance(result, pd.DataFrame):
        return result.iloc[1:]
    if hasattr(result, "limit"):  # a Spark DataFrame
        return result.limit(0)
    return object()


class Harness:
    """Times each operation, tags its Spark jobs, checks its output and
    keeps one record per operation."""

    def __init__(self, spark, work: str, cores: int, tracer=None, corrupt=False):
        self.spark, self.work, self.cores = spark, work, cores
        self.tracer = tracer
        self.corrupt = corrupt
        self.store_roots = [os.path.join(work, "cache"), os.path.join(work, "warehouse")]
        self.stages = StageCollector(spark)
        self.pids = ("self", spark._jvm.java.lang.ProcessHandle.current().pid())
        self.records: list = []
        self.staged: list = []  # see StagedProbes
        self.passes: list = []
        self.failures: list = []
        self.attempted = 0
        self.first_op_at = None
        self._pass = None
        self._bookkeeping = 0.0

    def verify(self, check, result):
        """``check(result)``: ``None`` or a problem. With ``corrupt`` set, the
        first result checked is tampered with first, so a working check
        must report it."""
        if self.corrupt:
            self.corrupt = False
            result = _tamper(result)
        try:
            return check(result)
        except Exception as exc:
            return f"check raised {type(exc).__name__}: {exc}"

    def untimed(self, label: str, problem=None) -> None:
        """Count a check made outside the timed passes."""
        self.attempted += 1
        if problem is not None:
            self.failures.append(f"{label}: {problem}")

    def op(self, kind: str, label: str, fn, check=None, **extra):
        """Run ``fn()`` as one timed operation; ``check(result)`` returns a
        problem string (or ``None``) and runs untimed."""
        self.attempted += 1
        op_id = f"op{self.attempted}"
        if self.first_op_at is None:
            self.first_op_at = time.monotonic()
        self.stages.tag(op_id)
        span = None
        if self.tracer is not None and self.tracer.active:
            self.tracer.op_id = op_id
            span = self.tracer.begin(f"bench.{kind}")
        result, problem = None, None
        cpu0 = process_cpu_s(*self.pids)
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # an operation that raises is a failure
            problem = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}"
        ms = (time.perf_counter() - t0) * 1e3
        cpu_s = process_cpu_s(*self.pids) - cpu0
        if span is not None:
            self.tracer.end(span)
            self.tracer.op_id = None
        t1 = time.perf_counter()
        rec = {"op_id": op_id, "kind": kind, "label": label, "pass": self._pass,
               "ms": ms, "cpu_s": cpu_s, **extra}
        rec.update(self.stages.collect(op_id))
        self.stages.tag("bench")
        if problem is None and check is not None:
            problem = self.verify(check, result)
        rec["ok"] = problem is None
        if problem is not None:
            self.failures.append(f"{label}: {problem}")
        self.records.append(rec)
        self._bookkeeping += time.perf_counter() - t1
        return result, rec

    def cache_op(self, label: str, fn, check=None, expect=None, **extra):
        """An operation through the cache engine, recorded as a ``hit`` or a
        ``miss`` by the engine's own session counters (a miss writes)."""
        from dbfs_spark_cache_spark import cache_session_stats

        before = cache_session_stats()
        result, rec = self.op("probe", label, fn, check, **extra)
        after = cache_session_stats()
        rec["kind"] = ("miss" if after["writes"] > before["writes"]
                       else "hit" if after["hits"] > before["hits"] else "other")
        if rec["ok"] and expect is not None and rec["kind"] != expect:
            rec["ok"] = False
            self.failures.append(f"{label}: expected a {expect}, got {rec['kind']}")
        return result, rec

    @contextlib.contextmanager
    def aside(self):
        """Benchmark-side work inside a pass; excluded from ``pass_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._bookkeeping += time.perf_counter() - t0

    def run_passes(self, seconds: float, one_pass) -> None:
        """Repeat ``one_pass(i)`` until ``seconds`` have passed. With a
        tracer, passes alternate untraced/traced, at least three, so the
        untraced ones bracket a traced one and the warm-up between passes
        does not pass for tracing overhead."""
        from dbfs_spark_cache_spark import cache_session_stats

        tracing = self.tracer is not None
        start, i = time.monotonic(), 0
        while i < (3 if tracing else 1) or time.monotonic() - start < seconds:
            traced = tracing and i % 2 == 1
            if traced:
                self.tracer.start()
            self._pass, bk0 = i, self._bookkeeping
            stats0 = cache_session_stats()
            t0 = time.perf_counter()
            info = one_pass(i) or {}
            wall = time.perf_counter() - t0 - (self._bookkeeping - bk0)
            if traced:
                self.tracer.stop()
            stats1 = cache_session_stats()
            info.update(
                index=i, traced=traced, wall_s=wall,
                store_bytes=tree_bytes(*self.store_roots),
                counters={k: stats1[k] - stats0[k] for k in
                          ("hits", "misses", "writes", "write_skips")},
            )
            self.passes.append(info)
            if "after" in info:
                info.pop("after")()
            i += 1
        self._pass = None


# --------------------------------------------------------------------------
# operators
# --------------------------------------------------------------------------

class StagedProbes:
    """Times the ``core.cache_dataframe`` calls the headline queries make
    for their cache-staged stages into ``Harness.staged``, each a ``hit`` or
    a ``miss`` by the engine's counters. They lie inside a query's own
    operation, so they are kept apart from the operation records."""

    def __init__(self, h: Harness):
        from dbfs_spark_cache_spark import core

        self.h, self.core = h, core
        self.original = core.cache_dataframe
        core.cache_dataframe = self._timed

    def _timed(self, *args, **kwargs):
        before = self.core.cache_session_stats()
        t0 = time.perf_counter()
        try:
            return self.original(*args, **kwargs)
        finally:
            ms = (time.perf_counter() - t0) * 1e3
            after = self.core.cache_session_stats()
            kind = ("miss" if after["writes"] > before["writes"]
                    else "hit" if after["hits"] > before["hits"] else "other")
            self.h.staged.append({"kind": kind, "pass": self.h._pass, "ms": ms})


class Operators:
    """The ``HEADLINE`` queries, each once per pass in a seed-shuffled
    order, with a ``noop`` sink. An untimed warm-up pass collects every
    result, checks it against its DuckDB oracle and fills the cache-staged
    stages; the timed passes then hit them. The staged stages' misses (in
    the warm-up) and hits (in the timed passes) are the workload's
    ``miss_*`` and ``hit_*`` latencies."""

    def __init__(self, h: Harness, seed: int, data_dir: str):
        from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

        self.h, self.seed, self.data = h, seed, data_dir
        self.queries, self.oracles = QUERIES, ORACLES

    def setup(self) -> None:
        import duckdb
        from selfcheck import compare

        h = self.h
        Namespace(h.spark, h.work, "pb_stages")
        StagedProbes(h)

        def collect(name):
            try:
                return self.queries[name](h.spark, self.data).toPandas(), None
            except Exception as exc:
                return None, f"{type(exc).__name__}: {str(exc)[:200]}"

        # The rest share the cores and warm the JVM first; then the staged
        # queries run one at a time, so the engine's counters tell each
        # staged probe's miss apart.
        staged = [n for n, m in HEADLINE.items() if m == "pipeline"]
        rest = [n for n in HEADLINE if n not in staged]
        with ThreadPoolExecutor(h.cores) as pool:
            results = dict(zip(rest, pool.map(collect, rest)))
        results.update((n, collect(n)) for n in staged)
        con = duckdb.connect()
        for table in datagen.TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{self.data}/{table}.parquet'")
        for name in HEADLINE:
            pdf, problem = results[name]
            if problem is None:
                oracle = con.execute(self.oracles[name]).fetchdf()
                problem = h.verify(lambda got: "; ".join(compare(name, got, oracle)) or None, pdf)
            h.untimed(f"oracle {name}", problem)
        con.close()

    def one_pass(self, i: int):
        h = self.h
        order = list(HEADLINE)
        random.Random(self.seed * 1009 + i).shuffle(order)
        for name in order:
            times = {}

            def run(name=name, times=times):
                t0 = time.perf_counter()
                df = self.queries[name](h.spark, self.data)
                times["build_ms"] = (time.perf_counter() - t0) * 1e3
                df.write.mode("overwrite").format("noop").save()

            _, rec = h.op("query", name, run, module=HEADLINE[name])
            rec["build_ms"] = times.get("build_ms", rec["ms"])
            rec["exec_ms"] = rec["ms"] - rec["build_ms"]


# --------------------------------------------------------------------------
# cache: reuse phase
# --------------------------------------------------------------------------

def _dec(col, scale=2):
    from pyspark.sql import functions as F

    return F.col(col).cast(f"decimal(22,{scale})")


def reuse_templates(rng):
    """Seeded notebook DataFrames, from a 1-table aggregate to the 4-table
    customer-month rollup. The seeded cut-offs change every cache key but
    move few rows, so result sizes hardly vary between seeds. Sums are
    DECIMAL so a recompute is bit-equal to the cached result."""
    from pyspark.sql import functions as F

    ship_cut = f"2001-{int(rng.integers(1, 7)):02d}-{int(rng.integers(1, 29)):02d}"
    min_price = float(rng.integers(1000, 5000))
    order_cut = f"1995-01-{int(rng.integers(2, 29)):02d}"

    def li_flags(t):
        return (t["lineitem"].where(F.col("l_shipdate") < F.lit(ship_cut).cast("timestamp"))
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.count(F.lit(1)).alias("n"), F.sum(_dec("l_quantity")).alias("qty"),
                     F.sum(_dec("l_extendedprice")).alias("price"),
                     F.max("l_discount").alias("max_disc")))

    def cust_orders(t):
        o, c = t["orders"], t["customer"]
        return (o.where(F.col("o_totalprice") > min_price)
                .join(c, o.o_custkey == c.c_custkey)
                .groupBy("c_mktsegment", F.year("o_orderdate").alias("yr"))
                .agg(F.count(F.lit(1)).alias("n"), F.sum(_dec("o_totalprice")).alias("total")))

    def rollup(t):
        li, o, c, n = t["lineitem"], t["orders"], t["customer"], t["nation"]
        return (li.join(o.where(F.col("o_orderdate") >= F.lit(order_cut).cast("timestamp")),
                        li.l_orderkey == o.o_orderkey)
                .join(c, o.o_custkey == c.c_custkey)
                .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                .groupBy("c_custkey", "n_name", F.trunc("o_orderdate", "month").alias("order_month"))
                .agg(F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias("revenue"),
                     F.count(F.lit(1)).alias("n_lines"),
                     F.count_distinct("l_partkey").alias("n_parts"),
                     F.sum(_dec("l_quantity")).alias("qty"))
                .where(F.col("n_parts") >= 1)
                .repartition(8, "n_name"))

    return [li_flags, cust_orders, rollup]


class ReusePhase:
    """A notebook session's reuse: per pass a fresh cache namespace; per
    DataFrame one paired uncached run and one ``cache_dataframe`` miss
    (write + read-back); then ``HITS`` rounds of hits interleaved across the
    DataFrames, so reads outnumber writes ``HITS``:1. A miss or hit is timed
    as the ``cache_dataframe`` call alone, the driver-side probe (and, for a
    miss, the write) that the cache serves; the returned DataFrame is then
    materialized by the digest aggregation, untimed, and must equal the
    uncached recompute, which is timed with its digest."""

    HITS = 3

    def __init__(self, h: Harness, seed: int, data_dir: str):
        from dbfs_spark_cache_spark.sources import load_table

        self.h = h
        self.templates = reuse_templates(np.random.default_rng(seed))
        self.tables = {t: load_table(h.spark, data_dir, t) for t in
                       ("lineitem", "orders", "customer", "nation")}

    @staticmethod
    def _cached(build):
        from dbfs_spark_cache_spark import core

        return lambda: core.cache_dataframe(build(), override_prefer_spark_cache=True)

    def setup(self) -> None:
        h = self.h
        ns = Namespace(h.spark, h.work, "pb_warm")

        def warm(tmpl):  # JIT / codegen warm-up, untimed
            build = lambda: tmpl(self.tables)
            digest(self._cached(build)())

        with ThreadPoolExecutor(h.cores) as pool:
            list(pool.map(warm, self.templates))
        ns.drop()

    def one_pass(self, i: int):
        h = self.h
        with h.aside():
            ns = Namespace(h.spark, h.work, f"pb_reuse{i}")
        builds = [lambda tmpl=tmpl: tmpl(self.tables) for tmpl in self.templates]
        expected = {}

        def same_as(k):
            def check(df):
                got = digest(df)
                return None if got == expected[k] else f"{got} != recompute {expected[k]}"
            return check

        for k, build in enumerate(builds):
            expected[k], _ = h.op("uncached", f"uncached {k}", lambda b=build: digest(b()), df=k)
            h.cache_op(f"miss {k}", self._cached(build), check=same_as(k), expect="miss", df=k)
        for _ in range(self.HITS):
            for k, build in enumerate(builds):
                h.cache_op(f"hit {k}", self._cached(build), check=same_as(k), expect="hit", df=k)
        return {"after": ns.drop}


# --------------------------------------------------------------------------
# cache: churn phase
# --------------------------------------------------------------------------

N_COLS = 10
BIG_ROWS = 100_000


def int_frame(seed, rows: int, high: int) -> pd.DataFrame:
    values = np.random.default_rng(seed).integers(0, high, (rows, N_COLS))
    return pd.DataFrame(values, columns=[f"c{j}" for j in range(N_COLS)])


def frame_checksum(pdf: pd.DataFrame) -> tuple:
    v = pdf.to_numpy(dtype=np.int64)
    return (len(pdf),) + tuple(int(x) for x in v.sum(0)) + tuple(int(x) for x in (v * v).sum(0))


def spark_checksum(df) -> tuple:
    from pyspark.sql import functions as F

    cols = [f"c{j}" for j in range(N_COLS)]
    row = df.agg(
        F.count(F.lit(1)),
        *[F.sum(F.col(c).cast("decimal(38,0)")) for c in cols],
        *[F.sum(F.col(c).cast("decimal(38,0)") * F.col(c)) for c in cols],
    ).collect()[0]
    return tuple(int(x) for x in row)


class ChurnPhase:
    """Writes beside reads on a store of ``PREFILL`` + a few entries held at
    a fixed byte budget. Each pass: ``create_cached_dataframe`` on a new and
    on repeated 100k x 10 int64 frames; a rewrite of one file of one of the
    multi-file inputs, so that input's plan-keyed probe misses and rewrites
    while the others hit; the registry calls; and ``evict_to_size_budget``
    back to the budget. ``PREFILL`` is kept to what set-up can write in a
    few seconds: on 4 cores each small entry costs ~0.6 s of a thread, and
    the registry calls cost ~60 ms per entry a pass."""

    PREFILL = 16
    NEW, REPEATED = 1, 1
    DIRS, FILES, DIR_ROWS = 2, 4, 2000
    HIGH = 4  # value range of the 100k-row frames

    def __init__(self, h: Harness, seed: int, data_dir: str):
        self.h, self.seed = h, seed
        self.input_root = os.path.join(data_dir, "churn")

    def _write_input(self, d: int, f: int, version: int) -> None:
        """Write one input file. Its mtime is set to ``version`` seconds
        after a fixed base: input fingerprints have one-second resolution,
        so a rewrite must land in a later second to change the key."""
        rng = np.random.default_rng([self.seed, d, f, version])
        n = self.DIR_ROWS // self.FILES
        path = os.path.join(self.input_root, f"d{d}", f"part-{f}.parquet")
        pd.DataFrame({
            "k": rng.integers(0, 50, n), "v": rng.integers(0, 10**6, n),
            "w": np.round(rng.uniform(0, 100, n), 2),
        }).to_parquet(path, index=False)
        os.utime(path, (self.mtime_base + version,) * 2)

    def _probe_df(self, d: int):
        from pyspark.sql import functions as F

        return (self.h.spark.read.parquet(os.path.join(self.input_root, f"d{d}"))
                .groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("v")))

    def setup(self) -> None:
        from dbfs_spark_cache_spark import cache_dataframe, cache_stats, create_cached_dataframe

        h = self.h
        self.mtime_base = int(time.time()) - 3600
        for d in range(self.DIRS):
            os.makedirs(os.path.join(self.input_root, f"d{d}"), exist_ok=True)
            for f in range(self.FILES):
                self._write_input(d, f, 0)
        Namespace(h.spark, h.work, "pb_churn")
        # A pass adds NEW frames and one rewritten probe entry; size the
        # prefill entries so eviction removes about as many as a pass adds.
        buf = io.BytesIO()
        int_frame(0, BIG_ROWS, self.HIGH).to_parquet(buf, index=False)
        per_entry = buf.tell() * self.NEW / (self.NEW + 1)
        small_rows = max(100, int(per_entry / (N_COLS * 8.3)))  # ~8.3 B per random int64
        seeds = [[self.seed, 1, j] for j in range(self.PREFILL)]
        with ThreadPoolExecutor(h.cores) as pool:
            list(pool.map(lambda s: create_cached_dataframe(
                h.spark, int_frame(s, small_rows, 2**62)), seeds))
        self.repeated = [[self.seed, 2, j] for j in range(self.REPEATED)]
        for s in self.repeated:
            create_cached_dataframe(h.spark, int_frame(s, BIG_ROWS, self.HIGH))
        self.probe_digest = {}
        for d in range(self.DIRS):
            self.probe_digest[d] = digest(cache_dataframe(
                self._probe_df(d), override_prefer_spark_cache=True))
        self.budget = cache_stats(h.spark, num_threads=h.cores)["total_cache_bytes"]

    def one_pass(self, i: int):
        from dbfs_spark_cache_spark import (
            cache_dataframe, cache_stats, config,
            create_cached_dataframe, evict_to_size_budget, find_corrupt_entries,
            get_cached_tables,
        )

        h, spark, threads = self.h, self.h.spark, self.h.cores
        with h.aside():
            Namespace(spark, h.work, "pb_churn")

        def create(kind, s):
            pdf = int_frame(s, BIG_ROWS, self.HIGH)
            want = frame_checksum(pdf)
            h.op(kind, f"{kind} {s}", lambda: create_cached_dataframe(spark, pdf),
                 check=lambda df: None if spark_checksum(df) == want else "frame did not round-trip")

        for j in range(self.NEW):
            create("create_miss", [self.seed, 3, i, j])
        for s in self.repeated:
            create("create_hit", s)

        with h.aside():
            rewritten = i % self.DIRS
            self._write_input(rewritten, i % self.FILES, i + 1)
        for d in range(self.DIRS):
            def probe(d=d):
                return cache_dataframe(self._probe_df(d), override_prefer_spark_cache=True)

            def same(df, d=d):
                return None if digest(df) == self.probe_digest[d] else "hit differs from the cached result"

            if d == rewritten:
                def rewrite(df, d=d):
                    self.probe_digest[d] = digest(df)
                    recompute = digest(self._probe_df(d))
                    return None if recompute == self.probe_digest[d] else "miss differs from a recompute"

                h.cache_op(f"probe d{d}", probe, check=rewrite, expect="miss")
            else:
                h.cache_op(f"probe d{d}", probe, check=same, expect="hit")

        h.op("management", "get_cached_tables", lambda: get_cached_tables(spark, num_threads=threads))
        stats, _ = h.op("management", "cache_stats", lambda: cache_stats(spark, num_threads=threads))
        h.op("management", "find_corrupt_entries",
             lambda: find_corrupt_entries(spark, num_threads=threads),
             check=lambda bad: f"corrupt entries {bad}" if bad else None)

        def gone(evicted):
            for key in evicted:
                if spark.catalog.tableExists(f"{config.CACHE_DATABASE}.{key}") or \
                        os.path.exists(f"{config.SPARK_CACHE_DIR}{key}"):
                    return f"evicted entry {key} still present"
            return None

        evicted, _ = h.op("management", "evict_to_size_budget",
                          lambda: evict_to_size_budget(spark, self.budget, num_threads=threads),
                          check=gone)
        return {
            "entries_scanned": (stats or {}).get("n_metadata_entries", 0),
            "entries_evicted": len(evicted or ()),
        }


class Cache:
    """The cache engine's own work, one pass = the reuse phase in a fresh
    namespace, then the churn phase on the budgeted store. The two phases
    share one workload because a run must also fit its set-up in the
    benchmark's time budget: three workloads leave each run under 50 s."""

    def __init__(self, h: Harness, seed: int, data_dir: str):
        self.churn = ChurnPhase(h, seed, data_dir)
        self.reuse = ReusePhase(h, seed, data_dir)

    def setup(self) -> None:
        self.churn.setup()
        self.reuse.setup()

    def one_pass(self, i: int):
        after = self.reuse.one_pass(i)["after"]
        info = self.churn.one_pass(i)
        info["after"] = after
        return info


WORKLOADS = {"operators": Operators, "cache": Cache}
