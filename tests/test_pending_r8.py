"""The three r8-slot queries (operators/pending_r8.py): oracle parity,
plan shape, the registered-at-the-150-ceiling contract, and the pinned
registration order.

Pre-built in r7 (zero r7 window slack), registered at r8 where exactly 3
slots were free. Parity here runs the same sorted-signature comparison
the driver and scripts/selfcheck.py use, at two scale factors.
"""
from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    ),
)

from conftest import SF_ORACLE, SF_SMOKE  # noqa: E402
from selfcheck import compare  # noqa: E402  (same comparator the harness uses)

from dbfs_spark_cache_spark.operators import ORACLES, QUERIES  # noqa: E402

R8_QUERIES = [
    "similarity_topk_batch",
    "events_anomaly_mad",
    "text_unigram_logprob",
]

_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in _TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def test_r8_queries_are_registered_and_registry_is_at_ceiling():
    """The three queries are live, queries and oracles agree, and the
    registry sits EXACTLY at the 150-query hard ceiling — the frozen-
    registry capacity policy (see __spark_entry__.py) makes any further
    growth a policy violation this pin catches."""
    assert set(QUERIES) == set(ORACLES)
    assert len(QUERIES) == 150, (
        f"registry has {len(QUERIES)} queries; the capacity policy "
        "freezes it at 150 (register + retire in the same commit if a "
        "new query is truly needed)"
    )
    # Registration order is the rotation tie-break: the three r8 entries
    # must be LAST so they fill the 3 slack slots behind the 47 due.
    assert list(QUERIES)[-3:] == R8_QUERIES
    assert list(ORACLES)[-3:] == R8_QUERIES


def test_registration_order_is_pinned():
    """``queries()`` order and the rotation tie-break follow registration
    order: the full ordered name list of both registries is pinned (MD5
    of the newline-joined names), so moving a module or a registration
    fails here."""
    import hashlib

    from dbfs_spark_cache_spark.operators import pending_r8

    assert list(ORACLES) == list(QUERIES)
    digest = hashlib.md5("\n".join(QUERIES).encode("utf-8")).hexdigest()
    assert digest == "8910a9ea409182f24bb28730757de2d1", list(QUERIES)
    for name in R8_QUERIES:
        assert QUERIES[name] is getattr(pending_r8, name)


@pytest.mark.parametrize("name", sorted(R8_QUERIES))
@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_pending_query_matches_oracle(spark, name, sf_dir):
    """Row-count + schema + sorted exact-value parity against the DuckDB
    oracle — the driver's own comparison, via selfcheck's comparator."""
    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    con = _duck(sf_dir)
    duck_pdf = con.execute(ORACLES[name]).df()
    problems = compare(name, spark_pdf, duck_pdf, verbose=True)
    assert not problems, f"{name} @ {sf_dir}: {problems}"
    assert len(spark_pdf) > 0, f"{name} returned no rows"


def _plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_topk_batch_windows_are_bucketed(spark):
    """The batch top-k must never rank a whole corpus partition-by-q_id:
    the first window carries the vec_id bucket next to q_id, and the
    final window only sees the <= n_buckets x k candidate survivors."""
    plan = _plan_text(QUERIES["similarity_topk_batch"](spark, SF_SMOKE))
    assert "pmod" in plan, "vec_id bucket expression missing from the plan"
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, "expected window specs in the plan"
    # Spark projects pmod(vec_id, 8) into a _w<N> attribute before the
    # window; the first-stage spec must carry that bucket attribute as a
    # second partition key next to q_id.
    bucketed = [s for s in specs if re.search(r"_w\d+#", s)]
    assert bucketed, (
        "first-stage top-k window lost its vec_id bucket — a plain "
        "partitionBy(q_id) window funnels the corpus through one task "
        f"per query: {specs}"
    )


def test_anomaly_mad_windows_are_banded(spark):
    """Both median passes ride the grouped distributed-rank helper: every
    window spec must carry the value band (__bucket), never a bare
    partitionBy(event_type) sort of a whole type's population."""
    plan = _plan_text(QUERIES["events_anomaly_mad"](spark, SF_SMOKE))
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, "expected window specs in the plan"
    for spec in specs:
        assert "__bucket" in spec, f"unbanded window spec: {spec}"


def test_grouped_exact_median_matches_python(spark):
    """Property: the banded no-global-sort median equals
    ``statistics.median`` (the same interpolating semantics DuckDB's
    ``median()`` uses) on hostile group shapes — singletons, all-equal
    values, heavy ties straddling the middle, even/odd counts, negatives.
    Deterministic example table rather than @given: a Spark job per
    hypothesis example is prohibitively slow, and the failure modes are
    group-shape-driven, not value-driven."""
    import statistics

    from dbfs_spark_cache_spark.operators.scale import grouped_exact_median

    groups = {
        "singleton": [7.5],
        "pair": [1.0, 2.0],
        "all_equal": [3.0] * 6,
        "ties_at_middle_even": [1.0, 2.0, 2.0, 2.0, 2.0, 9.0],
        "ties_at_middle_odd": [1.0, 2.0, 2.0, 2.0, 9.0],
        "negatives": [-5.0, -1.0, -3.0, 0.0],
        "odd_spread": [10.0, -10.0, 0.5, 2.5, 100.0],
        "even_spread": [4.0, 8.0, 15.0, 16.0, 23.0, 42.0],
        "two_values_skewed": [1.0] * 9 + [2.0],
    }
    rows = [
        (f"{g}-{i}", g, v)
        for g, vals in groups.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id string, grp string, value double"
    )
    got = {
        r["grp"]: r["med"]
        for r in grouped_exact_median(
            df, "value", "grp", "med", tiebreak_col="event_id"
        ).collect()
    }
    for g, vals in groups.items():
        assert got[g] == pytest.approx(statistics.median(vals), abs=0), (
            f"group {g}: got {got[g]}, want {statistics.median(vals)}"
        )


def test_unigram_logprob_vocab_is_broadcast(spark):
    """The vocabulary join must broadcast the vocab side (vocabulary-sized)
    into the token stream — a shuffle join on token re-shuffles the whole
    exploded corpus for a dictionary-sized build side."""
    plan = _plan_text(QUERIES["text_unigram_logprob"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
