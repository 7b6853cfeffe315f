"""Tuned SparkSession factory.

One place to encode the scale-aware defaults every entry point shares:
AQE on (runtime re-planning + skew-join handling), shuffle partitions sized
to the machine instead of the 200 default, Arrow enabled for the pandas
boundary, UTC session timezone so timestamp semantics match columnar stores
and the DuckDB oracle.

Generated-class cache: Spark keeps the classes Janino compiles for
whole-stage codegen in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
entries, 100 by default. The working set of repeated queries is larger:
the 11 headline queries of the ``operators`` benchmark generate about 165
distinct classes, and one ``scripts/selfcheck.py`` run over all 150
registered queries (sf0.01) generates about 1,370. At 100 entries the cache
evicts in a cycle, so every repetition compiles its classes again, and the
JIT then compiles those fresh classes again too. ``CODEGEN_CACHE_ENTRIES``
sizes the cache above that measured working set. The cache is a Guava
cache, which may evict before its bound is reached: with 100 entries, the
~80 classes of the ``cache`` benchmark recompiled 17 classes a pass at some
seeds.

JIT thresholds: HotSpot compiles a method with C1 first and moves it to C2
after 5,000 calls (``Tier4InvocationThreshold``). Much of the driver's warm
code (Catalyst rules, planning, the parquet and Arrow glue) crosses that
count during the first repetitions of a workload, so C2 compiles it then, in
a burst. On the ``cache`` benchmark (4 vCPUs), the JIT threads spent 7.5-9.5 s
of CPU in the first timed pass and 3.1-3.7 s in the second, which made the
first pass cost 1.7x the CPU of the next. ``JIT_OPTIONS`` raises the
call-count thresholds tenfold: that code stays in C1 and the burst shrinks
(5.1 s against 2.4 s of JIT CPU; first pass 1.6x the next, at less CPU per
pass). Loops still move to C2 at the default back-edge count, so the hot
loops of generated code are compiled as before.

getOrCreate caveat (r15 fresh-eyes note): when a SparkSession already
exists in the process, Spark applies the builder's RUNTIME confs
(``spark.sql.*`` — shuffle partitions, AQE, timezone) to that session but
silently ignores the STATIC ones — ``master``, ``spark.driver.memory``,
``spark.sql.warehouse.dir`` and ``spark.sql.codegen.cache.maxEntries``
keep the first session's values. Callers that need a different warehouse
or driver size must stop the existing session first (the test suite's
one-session-per-process rule exists for the same reason: the embedded
Derby metastore also locks the warehouse). The codegen cache is sized
once per JVM, when Spark first generates code, so even a stopped and
rebuilt session keeps that size. ``spark.driver.extraJavaOptions`` (and
with it ``JIT_OPTIONS``) applies only when ``get_spark`` starts the JVM;
an ``extra_conf`` value for it replaces ``JIT_OPTIONS``.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes kept per JVM; above the ~1,370 that all 150 registered
# queries generate (see the module docstring).
CODEGEN_CACHE_ENTRIES = 2000

# HotSpot's C2 call-count thresholds, each raised tenfold from its default
# (5000, 600, 15000); see the module docstring.
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000"
)


def get_spark(
    app_name: str = "dbfs_spark_cache_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Read TIMESTAMP(NANOS) parquet columns (Spark has no nanos type):
        # they surface as LONG nanos; sources.load_table converts to
        # microsecond timestamps, matching how columnar stores downcast.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", JIT_OPTIONS)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    if warehouse_dir is None:
        from .config import config

        warehouse_dir = config.DATABASE_PATH
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
