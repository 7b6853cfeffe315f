"""``session.get_spark`` sizes Spark's generated-class cache above the
working set of repeated queries, so a repetition compiles nothing, and
starts the JVM with raised C2 thresholds."""
from __future__ import annotations

import os
import re
import sys

from tests.conftest import SF_SMOKE
from dbfs_spark_cache_spark.session import CODEGEN_CACHE_ENTRIES, JIT_OPTIONS

# The headline query of 11 operator modules: about 165 generated classes at
# SF_SMOKE, more than Spark's default cache of 100 holds.
QUERIES = (
    "q3_shipping_priority",
    "q2_min_cost_supplier",
    "sessionization",
    "similarity_topk_cosine",
    "text_pii_scrub",
    "pipeline_dedup_survivors",
    "join_salted_skew",
    "train_val_test_split",
    "fn_edit_distance",
    "stats_corr_covar",
    "text_chunk_sliding",
)


def test_get_spark_carries_the_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_get_spark_starts_the_jvm_with_the_c2_thresholds(spark):
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(runtime.getInputArguments())
    for option in JIT_OPTIONS.split():
        assert option in args, (option, args)


def test_second_round_of_queries_compiles_nothing(spark):
    import __spark_entry__ as entry

    registry = entry.queries()
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_round():
        before = compilations.getCount()
        for name in QUERIES:
            registry[name](spark, SF_SMOKE).collect()
        return compilations.getCount() - before

    first = run_round()
    assert run_round() == 0, f"second round recompiled (first round compiled {first})"


def test_selfcheck_reports_compilations_and_cache_entries(spark):
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from selfcheck import codegen_summary

    line = codegen_summary(spark)
    assert re.fullmatch(rf"codegen: \d+ compilations, \d+/{CODEGEN_CACHE_ENTRIES} cache entries", line), line
