"""Plan-quality pins: the properties that make these queries scale.

These assertions are the 100 TB design contract: filters reach the parquet
scan, projections prune columns, small dims broadcast, global top-k avoids
a full sort. If a refactor regresses one of these, correctness tests stay
green but the plan silently degrades — this file is what catches it.
"""
import io
import re
from contextlib import redirect_stdout

import pytest

from tests.conftest import SF_ORACLE


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    from dbfs_spark_cache_spark.operators import QUERIES

    return QUERIES


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = plan_text(queries["scan_filter_project"](spark, SF_ORACLE))
    pushed = re.search(r"PushedFilters: \[([^\]]+)\]", plan)
    assert pushed, "no PushedFilters in scan"
    assert "GreaterThanOrEqual(l_quantity" in pushed.group(1)
    assert "In(l_returnflag" in pushed.group(1)


def test_column_pruning(spark, queries):
    plan = plan_text(queries["join_broadcast_dim"](spark, SF_ORACLE))
    schema = re.search(r"ReadSchema: (\S+)", plan).group(1)
    # lineitem scan must read only the join key + price columns
    assert "l_partkey" in schema
    assert "l_shipdate" not in schema and "l_orderkey" not in schema


@pytest.mark.parametrize(
    "name",
    ["join_broadcast_dim", "q3_shipping_priority", "q5_region_revenue",
     "flagship_wide", "join_inner", "q9_product_profit", "q2_min_cost_supplier"],
)
def test_dim_joins_broadcast(spark, queries, name):
    plan = plan_text(queries[name](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan, f"{name}: dim join did not broadcast"
    assert "CartesianProduct" not in plan


def test_global_topk_no_full_sort(spark, queries):
    plan = plan_text(queries["sort_limit_topk"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan, "top-k fell back to a global sort"


def test_q1_partial_aggregation(spark, queries):
    """Grouped agg must have a partial (map-side) phase before the shuffle."""
    plan = plan_text(queries["q1_pricing_summary"](spark, SF_ORACLE))
    assert len(re.findall(r"HashAggregate", plan)) >= 2


def test_cache_hit_plan_is_bare_scan(spark, clean_cache, queries):
    from dbfs_spark_cache_spark import write_cache

    df = queries["q1_pricing_summary"](spark, SF_ORACLE)
    cached = write_cache(df)
    plan = plan_text(cached)
    assert "HashAggregate" not in plan and "Join" not in plan


def test_window_percentiles_no_global_window(spark, queries):
    """Global percentile analytics must NOT use an unpartitioned window
    (Exchange SinglePartition + one WindowExec over the full table). Every
    window spec in the plan must be partitioned by the range bucket; only
    tiny aggregate rows may pass through single-partition exchanges."""
    plan = plan_text(queries["window_percentiles"](spark, SF_ORACLE))
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, "expected window specs in the plan"
    for spec in specs:
        assert spec.lstrip().lstrip("_").startswith("bucket#"), (
            f"unpartitioned (global) window spec: windowspecdefinition({spec}..."
        )


def test_ntile_cume_windows_are_banded(spark, queries):
    """window_ntile_cume partitions by a FIVE-value key, so a plain
    partitionBy(priority) window is one sort task per priority at corpus
    scale. Pin the grouped distributed-rank form: every window spec in
    the plan must carry the price band alongside the priority."""
    plan = plan_text(queries["window_ntile_cume"](spark, SF_ORACLE))
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, "expected a (bounded) local window in the plan"
    for spec in specs:
        assert "__bucket" in spec, (
            f"window not banded: windowspecdefinition({spec}..."
        )


def test_no_driver_collect_in_query_builders():
    """Query builders must emit ONE distributed plan: no driver-side
    ``collect()`` to fetch scalars mid-build (it splits the query into two
    jobs and bakes data-dependent literals into the cache fingerprint).
    Scalar needs are expressed as broadcast single-row aggregates instead."""
    import inspect

    import dbfs_spark_cache_spark.operators as ops
    from dbfs_spark_cache_spark.operators import QUERIES

    offenders = []
    seen_files = set()
    for name, fn in QUERIES.items():
        try:
            src_file = inspect.getsourcefile(fn)
        except TypeError:
            continue
        if src_file in seen_files:
            continue
        seen_files.add(src_file)
        with open(src_file) as fh:
            for lineno, line in enumerate(fh, 1):
                code = line.split("#", 1)[0]
                if ".collect(" in code:
                    offenders.append(f"{src_file}:{lineno}")
    assert not offenders, f"driver-side collect() in query builders: {offenders}"


def test_no_python_udfs_in_relational_suite(spark, queries):
    """Relational + dedup/similarity/text queries stay JVM-side: no
    row-at-a-time Python eval in their plans (pandas-UDF queries excepted
    by design)."""
    python_allowed = {
        "udf_pandas_scalar", "udaf_grouped_pandas", "grouped_map_pandas",
        "udtf_tokenize", "multimodal_decode_features", "multimodal_frame_sample",
    }
    for name, fn in queries.items():
        if name in python_allowed:
            continue
        plan = plan_text(fn(spark, SF_ORACLE))
        assert "BatchEvalPython" not in plan, f"{name} uses a row-wise Python UDF"


def test_exact_jaccard_candidates_come_from_band_join(spark, queries):
    """The exact-Jaccard verify stage must consume MinHash band-join
    candidates, not fixed-count length blocking: a constant bucket count
    makes the pair count quadratic in corpus size (round-2 scale finding).
    The est_jaccard filter only exists on the band-join path; the length
    blocks were (n_chars % 10/20) expressions."""
    for name in ("dedup_token_jaccard", "dedup_ngram_jaccard"):
        df = queries[name](spark, SF_ORACLE)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "est_jaccard" in analyzed, f"{name}: candidates not from LSH band join"
        assert "% 10" not in analyzed and "% 20" not in analyzed, (
            f"{name}: length-bucket blocking resurfaced"
        )


def test_edit_distance_blocking_is_composite(spark, queries):
    """fn_edit_distance must block on (brand, length band), not brand
    alone: TPC-H has a fixed ~25 brands, so brand-only blocks grow
    linearly with the corpus and the pair count quadratically (round-5
    scale finding). The length band is sound because edit_dist <= 3
    bounds |len(a)-len(b)| <= 3 < band width."""
    df = queries["fn_edit_distance"](spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "band_a" in analyzed and "band_b" in analyzed, (
        "composite length-band block key missing"
    )
    # the probe side fans out to adjacent bands via explode
    assert "explode" in analyzed.lower(), "adjacent-band fan-out missing"
    # and the join itself must carry both equi-keys
    joined = re.search(r"Join Inner, (.+)", analyzed)
    assert joined and "band_a" in joined.group(1) and "brand_a" in joined.group(1), (
        f"join keys not composite: {joined.group(1) if joined else 'no join found'}"
    )


def test_flagship_no_forced_broadcast_on_growing_dim(spark, queries):
    """flagship_wide may hint-broadcast only the BOUNDED dim (nation, 25
    rows at every SF). The customer leg grows with the corpus (~GBs at
    sf100), so a forced broadcast there OOMs at the 100x target — AQE
    decides that join size-conditionally instead (round-5 finding #3)."""
    df = queries["flagship_wide"](spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = analyzed.count("ResolvedHint")
    assert hints == 1, f"expected exactly 1 explicit broadcast hint (nation), got {hints}"
    # and the auto-broadcast still kicks in at bench scale
    assert "BroadcastHashJoin" in plan_text(df)


def test_no_forced_broadcast_of_growing_tables():
    """Standing policy pin (r7 sweep): hard broadcast hints are reserved
    for BOUNDED dims (nation: 25 rows, region: 5 — constant at every
    scale factor). customer/supplier/part/orders/lineitem all grow
    linearly with the corpus, and F.broadcast() on them overrides the
    size threshold with no adaptive fallback — the r5 flagship
    scale-killer class, removed from 14 queries in r7. Source-level scan
    so a regression is caught the moment it is written, without building
    147 plans. `join_broadcast_dim` is the single allowed exception: the
    named, plan-pinned demonstration of the hint mechanism."""
    import os
    import re

    ops_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "dbfs_spark_cache_spark",
    )
    # \b (not \s*\)) so expression forms rooted at a growing table —
    # F.broadcast(part.select(...)), F.broadcast(orders.where(...)) — are
    # caught too: ADVICE r7 #1 found three part.select(...) hints the old
    # close-paren anchor was blind to. \b keeps part_agg/parts-style
    # derived names out of scope (they are judged by their own base).
    banned = re.compile(
        r"F\.broadcast\(\s*(customer|supplier|part|orders|li|lineitem)\b"
    )
    offenders = []
    for root, _, files in os.walk(ops_dir):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                for lineno, line in enumerate(fh, 1):
                    if banned.search(line):
                        offenders.append(f"{fname}:{lineno}: {line.strip()}")
    allowed = [o for o in offenders if "join_broadcast_dim" in open(
        os.path.join(ops_dir, "operators", "relational.py")).read() and
        o.startswith("relational.py") and "F.broadcast(part)" in o]
    real = [o for o in offenders if o not in allowed]
    assert len(allowed) <= 1, f"unexpected extra allowlisted hints: {allowed}"
    assert not real, (
        "hard broadcast hint on a corpus-growing table (policy: hints only "
        f"on bounded nation/region): {real}"
    )


# Every F.broadcast( site in the package, keyed by (filename, root
# identifier of the argument expression), with a one-line boundedness
# justification. A site NOT in this table and NOT rooted at a bounded
# TPC-H dim (nation/region) fails test_broadcast_sites_are_allowlisted —
# the r8 verdict finding-#1 class (vocabulary-sized DERIVED frames like
# explode→groupBy token tables, invisible to the named-table regex
# above). Adding a new F.broadcast is a deliberate act: add the row here
# WITH the justification, or drop the hint and let AQE decide.
_BROADCAST_ALLOWLIST: dict[tuple, str] = {
    # --- single-row aggregates (bounded by construction: 1 row) ---
    ("tpch_partsupp.py", "total"): "single-row global sum (q11 threshold)",
    ("corpus_analytics.py", "tot"): "single-row corpus total",
    ("tpch_more2.py", "avg_bal"): "single-row global average balance",
    ("text.py", "n"): "single-row corpus doc count (tf-idf N)",
    ("text.py", "max_chars"): "single-row global max length",
    ("tpch_more3.py", "max_rev"): "single-row global max revenue (q15)",
    ("pending_r8.py", "total"): "single-row vocabulary token total",
    ("extras.py", "max_date"): "single-row global max order date",
    ("similarity.py", "query"): "single query vector (1 row)",
    # --- frames bounded by a constant domain, not by corpus size ---
    ("streaming/__init__.py", "baseline"):
        "per-event_type aggregate; event-type domain is a bounded enum",
    ("pending_r8.py", "med"):
        "per-event_type exact median; bounded event-type enum",
    ("pending_r8.py", "mad"):
        "per-event_type MAD; bounded event-type enum",
    ("extras.py", "stats"):
        "per-event_type mean/stddev; bounded event-type enum",
    ("pending_r8.py", "qids"): "literal 5-element query-id frame",
    ("pending_r8.py", "queries"): "5 query vectors (qids-joined)",
    ("similarity.py", "q_id"): "single literal query id (1 row)",
    ("similarity.py", "probes"): "n_probes nearest-centroid ids (constant)",
    ("similarity.py", "centroids"): "k centroid vectors (constant k)",
    ("training.py", "bucket_offsets"):
        "one row per pack bucket; bucket count is the constant parallelism knob",
    # scale.py banded-rank/MAD helpers: one row per (low-cardinality
    # part key × constant n_buckets) per the documented helper contract
    ("scale.py", "bounds"): "per-part-key min/max (bounded part_col contract)",
    ("scale.py", "offsets"): "per-(part,bucket) prefix offsets",
    ("scale.py", "med"): "per-part-key exact median (MAD helper)",
    # --- the named demo exception (also allowlisted by the test above) ---
    ("relational.py", "part"):
        "join_broadcast_dim: the plan-pinned hint-mechanism demonstration",
}

# Bounded TPC-H dims (constant rows at every scale factor) and their
# derived local aliases — auto-allowed as broadcast roots anywhere.
_BOUNDED_DIM_ROOTS = {"nation", "region", "ns", "nc", "ncust"}


def test_broadcast_sites_are_allowlisted():
    """r8 verdict finding #1 / next-round #2: the named-table regex above
    cannot see a forced broadcast of a DERIVED growing frame (e.g. the
    explode→groupBy('token') vocabulary — billions of rows at 100 TB by
    Heaps' law). Pin the full inventory instead: every F.broadcast( in
    the package must be rooted at a bounded dim or carry an explicit
    allowlist row with a boundedness justification. Verified to catch the
    finding: reverting either r9 hint drop (text.py df_,
    pending_r8.py logp) fails this test."""
    import os
    import re

    pkg_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "dbfs_spark_cache_spark",
    )
    # WHOLE-FILE scan, not per-line: a multiline call site
    # (`F.broadcast(\n    frame)`) must resolve its root identifier, not
    # silently fall outside a line-anchored regex (fail-open). The
    # site_re/root_re pair keeps the check fail-CLOSED: every
    # `F.broadcast(` occurrence must yield a root identifier or it is
    # reported as unresolvable.
    site_re = re.compile(r"F\.broadcast\s*\(")
    root_re = re.compile(r"F\.broadcast\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)")
    unjustified, seen = [], set()
    for root, _, files in os.walk(pkg_dir):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, pkg_dir)
            key_file = rel.replace(os.sep, "/")
            # allowlist keys use the path relative to the package, except
            # operators/* which are keyed by bare filename for brevity
            short = (
                os.path.basename(key_file)
                if key_file.startswith("operators/")
                else key_file
            )
            with open(path) as fh:
                content = fh.read()
            n_sites = len(site_re.findall(content))
            matches = list(root_re.finditer(content))
            if len(matches) != n_sites:
                unjustified.append(
                    f"{key_file}: {n_sites - len(matches)} F.broadcast( "
                    "site(s) whose argument root could not be resolved to "
                    "an identifier — rewrite with a named frame so the "
                    "boundedness is reviewable"
                )
            for m in matches:
                var = m.group(1)
                if var in _BOUNDED_DIM_ROOTS:
                    continue
                key = (short, var)
                seen.add(key)
                if key not in _BROADCAST_ALLOWLIST:
                    lineno = content.count("\n", 0, m.start()) + 1
                    snippet = content[m.start():m.end()].replace("\n", " ")
                    unjustified.append(f"{key_file}:{lineno}: {snippet}")
    assert not unjustified, (
        "F.broadcast( on a frame that is neither a bounded dim nor "
        "allowlisted with a boundedness justification (r8 verdict "
        f"finding #1 class — drop the hint and let AQE decide): {unjustified}"
    )
    stale = set(_BROADCAST_ALLOWLIST) - seen
    assert not stale, f"allowlist rows with no matching site (stale): {stale}"
