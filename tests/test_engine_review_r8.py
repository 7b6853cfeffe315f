"""Regression pins for the r8 engine review findings: the dead UDF cost
factor, plain-UDF warnings naming Catalyst builtins, tiering's
schema-change orphan + pure-scan re-materialization, and the maintenance
CLI's unscoped destructive stages."""
from __future__ import annotations

import logging
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE


def test_udf_multiplier_counts_real_python_udfs(spark):
    """The analyzed plan prints a UDF call as its bare function name, so
    the old plan.count('udf') scored UDF pipelines as bare projections
    (0.6 < the 1.01 auto-cache gate). The JSON-node count must see
    lambda, named, and pandas UDFs alike."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark.complexity import (
        count_python_udfs,
        estimate_compute_complexity,
    )

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    lam = F.udf(lambda x: float(x), DoubleType())

    with_udf = df.select(lam("r_regionkey").alias("s"))
    assert count_python_udfs(with_udf) == 1
    _, multiplier, _ = estimate_compute_complexity(with_udf)
    assert multiplier >= 1.2 - 1e-9, (
        f"one-UDF projection must clear the 1.01 gate, got {multiplier}"
    )

    two = df.select(lam("r_regionkey").alias("a"), lam("r_regionkey").alias("b"))
    assert count_python_udfs(two) == 2

    no_udf = df.select(F.sqrt("r_regionkey").alias("s"))
    assert count_python_udfs(no_udf) == 0
    _, base_mult, _ = estimate_compute_complexity(no_udf)
    assert base_mult == pytest.approx(0.6)


def test_find_plain_udfs_reports_only_outer_function(spark):
    """A builtin nested in the UDF's argument expression (cast, substring)
    is not a Python function; flagging it as one is misleading noise."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark.plans.fingerprint import find_plain_udfs

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    lam = F.udf(lambda x: float(x), DoubleType())
    frame = df.select(lam(F.col("r_regionkey").cast("string")).alias("s"))
    assert find_plain_udfs(frame) == ["<lambda>"]


def test_backup_skips_schema_changed_inputs(spark, clean_cache, monkeypatch):
    """A SCHEMA_CHANGE failure from the input listing yields a key embedding
    now() — unmatchable forever. Backup must skip, like the
    listing-failure guard next to it, instead of orphaning a full write."""
    from dbfs_spark_cache_spark import get_cached_tables
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.plans import fingerprint
    from dbfs_spark_cache_spark.tiering import backup_spark_cached_to_storage

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet").select("r_name")

    def boom(frame):
        raise Exception("SCHEMA_CHANGE detected on source")

    monkeypatch.setattr(fingerprint, "input_files", boom)
    backed = backup_spark_cached_to_storage([df])
    assert backed == []
    # nothing materialized: no data directory, no sidecar
    assert get_cached_tables(spark).empty, "schema-changed frame must not materialize"
    assert os.listdir(config.SPARK_CACHE_DIR) == []


def test_backup_skips_pure_scan_of_existing_entry(spark, clean_cache):
    """A frame that IS a scan of a cache entry already lives in the
    persistent tier under that key; backing it up again wrote the whole
    entry a second time under a different (stranded) key."""
    from dbfs_spark_cache_spark import get_cached_tables, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.tiering import backup_spark_cached_to_storage

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    write_cache(df)
    assert len(get_cached_tables(spark)) == 1
    scan = read_cache_if_exist(df)
    assert scan is not None

    backed = backup_spark_cached_to_storage([scan])
    assert backed == []
    assert len(get_cached_tables(spark)) == 1, "pure-scan backup must not create a twin entry"


class _NoStopSession:
    """Real session, but stop() is a no-op so the CLI can't kill the
    shared test fixture."""

    def __init__(self, real):
        self._real = real

    def stop(self):
        pass

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_cli_refuses_unscoped_destructive_stages(
    spark, clean_cache, monkeypatch, caplog
):
    """--size-budget-bytes / --repair-inconsistent act on the CONFIGURED
    database; under --database they must refuse instead of silently
    deleting from the namespace the operator scoped away from.

    The scoped stages (the --database count and
    ``clear_caches_older_than(specific_database=...)``) both see the
    scoped database's data directory."""
    from dbfs_spark_cache_spark import layout, maintenance_cli, management, write_cache

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    write_cache(df)
    assert len(management.get_cached_tables(spark)) == 1

    import dbfs_spark_cache_spark.session as session_mod

    monkeypatch.setattr(
        session_mod, "get_spark", lambda **kw: _NoStopSession(spark)
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS cli_scoped_db")

    try:
        spark.range(1).write.parquet(
            layout.table_location(spark, "scoped_entry", "cli_scoped_db"))
        monkeypatch.setattr(
            sys,
            "argv",
            [
                "spark-cache-maintenance",
                "--database", "cli_scoped_db",
                "--days", "9999",
                "--size-budget-bytes", "1",
                "--repair-inconsistent", "--force",
            ],
        )
        with caplog.at_level(logging.INFO):
            # exit 2, not 0: the refused stages must be DETECTABLE by a
            # cron operator (ADVICE r8 #2) — success would hide the skip
            assert maintenance_cli.main() == 2
        assert any("do not honor --database" in r.message for r in caplog.records)
        messages = [r.getMessage() for r in caplog.records]
        for when in ("before", "after"):
            assert f"1 data directories in cli_scoped_db {when} maintenance" in messages
        # the configured namespace survives untouched
        assert len(management.get_cached_tables(spark)) == 1
        assert management.clear_caches_older_than(
            spark, num_days=0, specific_database="cli_scoped_db",
            confirm_delete=False,
        ) == ["scoped_entry"]
    finally:
        spark.sql("DROP DATABASE IF EXISTS cli_scoped_db CASCADE")


# --- adversarial parity: hostile inputs no driver fixture contains --------

def _duck_with(tables: dict):
    import duckdb

    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _compare(name, spark_pdf, duck_pdf):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from selfcheck import compare

    return compare(name, spark_pdf, duck_pdf, verbose=True)


def test_zscore_degenerate_groups_null_not_crash(spark, tmp_path):
    """Singleton and all-equal event_type groups must z-score to NULL on
    BOTH engines — under ANSI mode (Spark 4 default) the unguarded
    (n - 1) divide crashed the whole query on one singleton group."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    rows = (
        [(i, "normal", float(i)) for i in range(10)]
        + [(100, "singleton", 42.0)]
        + [(200 + i, "constant", 7.0) for i in range(5)]
    )
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "value"])
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path)

    got = QUERIES["events_value_zscore"](spark, str(tmp_path)).toPandas()
    by_type = got.set_index("event_id")
    assert by_type.loc[100, "value_z"] != by_type.loc[100, "value_z"] or \
        by_type.loc[100, "value_z"] is None or \
        pd.isna(by_type.loc[100, "value_z"])
    assert pd.isna(by_type.loc[200, "value_z"])
    assert not pd.isna(by_type.loc[0, "value_z"])

    duck = _duck_with({"events": path}).execute(
        ORACLES["events_value_zscore"]
    ).df()
    problems = _compare("events_value_zscore", got, duck)
    assert not problems, problems


def test_quality_scores_empty_text_null_not_crash(spark, tmp_path):
    """An empty-text document must yield NULL char-based ratios and an
    'ok' flag on both engines, not an ANSI DIVIDE_BY_ZERO that kills the
    corpus pass."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "lang": ["en", "en", "en"],
            "text": ["the cat sat on the mat.", "", "12345 67890 99999"],
        }
    )
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    got = QUERIES["text_quality_scores"](spark, str(tmp_path)).toPandas()
    empty = got[got.doc_id == 2].iloc[0]
    assert pd.isna(empty.punct_ratio) and pd.isna(empty.digit_ratio)
    assert empty.quality_flag == "ok"

    duck = _duck_with({"documents": path}).execute(
        ORACLES["text_quality_scores"]
    ).df()
    problems = _compare("text_quality_scores", got, duck)
    assert not problems, problems


def test_from_json_type_strictness_parity(spark, tmp_path):
    """from_json('k BIGINT') is NULL for any non-integer JSON value —
    string "7", 1.5, even 7.0. The oracle must be equally strict (its
    old TRY_CAST coerced "7"->7 and 1.5->2)."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    props = [
        '{"k": 7}', '{"k": -7}', '{"k": "7"}', '{"k": 1.5}', '{"k": 7.0}',
        '{"k": 99999999999999999999}', '{"k": true}', '{"k": null}',
        "garbage", None,
    ]
    pdf = pd.DataFrame(
        {"event_id": range(len(props)), "props": props}
    )
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path)

    got = QUERIES["fn_from_json_struct"](spark, str(tmp_path)).toPandas()
    k = got.set_index("event_id").k_value
    assert k[0] == 7 and k[1] == -7
    assert k[[2, 3, 4, 5, 6, 7, 8, 9]].isna().all()

    duck = _duck_with({"events": path}).execute(
        ORACLES["fn_from_json_struct"]
    ).df()
    problems = _compare("fn_from_json_struct", got, duck)
    assert not problems, problems


def test_cleaning_chain_is_shared_single_definition():
    """The capstone's md5 comparability depends on ONE cleaning chain: the
    regex literals must appear exactly once in the operator tree (in the
    shared text.py helper), never as inline copies."""
    import glob

    ops = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "dbfs_spark_cache_spark",
        "operators",
    )
    hits = []
    for path in glob.glob(f"{ops}/*.py"):
        n = open(path).read().count('"[^a-z0-9 ]"')
        if n:
            hits.append((os.path.basename(path), n))
    assert hits == [("text.py", 1)], f"cleaning chain forked: {hits}"


def test_corr_degenerate_groups_null_not_crash(spark, tmp_path):
    """Singleton and constant-valued groups must produce NULL correlation
    on both engines (ANSI DIVIDE_BY_ZERO crashed the query; DuckDB
    sqrt(negative)/div-0 diverged)."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    rows = (
        [("N", float(i % 7 + 1), float((i * 3) % 11 + 1)) for i in range(20)]
        + [("S", 5.0, 10.0)]
        + [("C", 4.0, float(i + 1)) for i in range(5)]
    )
    pdf = pd.DataFrame(rows, columns=["l_returnflag", "l_quantity", "l_extendedprice"])
    path = str(tmp_path / "lineitem.parquet")
    pdf.to_parquet(path)

    got = QUERIES["stats_corr_covar"](spark, str(tmp_path)).toPandas()
    by = got.set_index("l_returnflag")
    assert pd.isna(by.loc["S", "qty_price_corr"])  # singleton
    assert pd.isna(by.loc["C", "qty_price_corr"])  # constant x
    assert not pd.isna(by.loc["N", "qty_price_corr"])

    duck = _duck_with({"lineitem": path}).execute(
        ORACLES["stats_corr_covar"]
    ).df()
    problems = _compare("stats_corr_covar", got, duck)
    assert not problems, problems


def test_funnel_empty_stage_null_not_crash(spark, tmp_path):
    """A slice with views but no clicks must yield NULL click_to_purchase
    (0/NULL semantics) on both engines, not DIVIDE_BY_ZERO."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "event_type": ["view", "view", "view"],
            "ts": pd.to_datetime(
                ["2026-01-01 10:00", "2026-01-01 11:00", "2026-01-02 09:00"]
            ),
        }
    )
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path)

    got = QUERIES["events_funnel_conversion"](spark, str(tmp_path)).toPandas()
    row = got.iloc[0]
    assert row.n_view_users == 2 and row.n_click_users == 0
    assert row.view_to_click == 0.0
    assert pd.isna(row.click_to_purchase)

    duck = _duck_with({"events": path}).execute(
        ORACLES["events_funnel_conversion"]
    ).df()
    problems = _compare("events_funnel_conversion", got, duck)
    assert not problems, problems


def test_cosine_zero_vector_null_not_crash(spark, tmp_path):
    """A zero-norm embedding must score NULL cosine (dropped by the
    threshold / ranked last) on both engines instead of crashing every
    search and the embedding near-dup pass."""
    import numpy as np
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    rng = np.random.RandomState(7)
    vecs = [rng.randn(8).round(3).tolist() for _ in range(6)]
    vecs[3] = [0.0] * 8  # the hostile zero vector
    pdf = pd.DataFrame(
        {
            "vec_id": range(6),
            "embedding": vecs,
            "label": ["a", "b", "a", "z", "b", "a"],
        }
    )
    path = str(tmp_path / "embeddings.parquet")
    pdf.to_parquet(path)

    for name in ("similarity_topk_cosine", "dedup_embedding_cosine"):
        got = QUERIES[name](spark, str(tmp_path)).toPandas()
        duck = _duck_with({"embeddings": path}).execute(ORACLES[name]).df()
        problems = _compare(name, got, duck)
        assert not problems, f"{name}: {problems}"


def test_keep_first_md5_key_same_results(spark):
    """The md5 shuffle-key switch must not change keep-first survivors."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    got = QUERIES["dedup_keep_first"](spark, SF_SMOKE).toPandas()
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    duck = con.execute(ORACLES["dedup_keep_first"]).df()
    problems = _compare("dedup_keep_first", got, duck)
    assert not problems, problems


def test_cluster_keepers_reclaims_checkpoint_generations(spark):
    """The propagation loop must not accumulate one persisted RDD per
    round: after the run, at most the initial edges/labels checkpoints
    plus the final generation may remain registered."""
    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    from dbfs_spark_cache_spark.operators import QUERIES

    QUERIES["dedup_cluster_keepers"](spark, SF_SMOKE).count()
    after = sc._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 3, (
        f"checkpoint generations leaked: {before} -> {after} persistent RDDs"
    )


def test_udf_tag_stable_across_hash_seeds(tmp_path):
    """A set literal compiles a frozenset into co_consts; raw repr orders
    its elements by the per-process randomized string hash, so the tag
    differed in EVERY process and the persistent cache never hit again.
    Tags must agree across PYTHONHASHSEED values."""
    import subprocess

    prog = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from pyspark.sql.types import DoubleType\n"
        "from dbfs_spark_cache_spark.functions import content_addressed_udf\n"
        "def fn(s):\n"
        "    return s.map(lambda t: 1.0 if t in {'a', 'b', 'see', 'dee'} else 0.0)\n"
        "u = content_addressed_udf(fn, DoubleType())\n"
        "print(u.func.__name__.rsplit('__', 1)[1])\n"
    )
    tags = set()
    for seed in ("1", "2", "3"):
        out = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True, text=True,
            env={**os.environ, "PYTHONHASHSEED": seed},
        )
        assert out.returncode == 0, out.stderr[-500:]
        tags.add(out.stdout.strip().splitlines()[-1])
    assert len(tags) == 1, f"tag varies with PYTHONHASHSEED: {tags}"


def test_basket_support_counts_distinct_orders(spark, tmp_path):
    """An order holding the same part on two lines must contribute ONE
    unit of support per pair, not two (the overcount let support-1 pairs
    pass the >= 2 threshold on both engines)."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    rows = [
        # order 1: part 10 twice + part 20 -> (10,20) must get support 1
        (1, 10), (1, 10), (1, 20),
        # orders 2+3: genuine support-2 pair (30,40)
        (2, 30), (2, 40), (3, 30), (3, 40),
    ]
    pdf = pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    path = str(tmp_path / "lineitem.parquet")
    pdf.to_parquet(path)

    got = QUERIES["market_basket_pairs"](spark, str(tmp_path)).toPandas()
    pairs = {(r.part_a, r.part_b): r.n_orders_together for r in got.itertuples()}
    assert (10, 20) not in pairs, "support-1 pair passed the >= 2 bar"
    assert pairs == {(30, 40): 2}

    duck = _duck_with({"lineitem": path}).execute(
        ORACLES["market_basket_pairs"]
    ).df()
    problems = _compare("market_basket_pairs", got, duck)
    assert not problems, problems


def test_q12_null_priority_counts_in_neither_bucket(spark, tmp_path):
    """A NULL o_orderpriority row must not inflate low_line_count (the
    oracle's NOT IN is NULL -> ELSE 0; Spark's otherwise(1) counted it)."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    orders = pd.DataFrame(
        {"o_orderkey": [1, 2, 3], "o_orderpriority": ["1-URGENT", "5-LOW", None]}
    )
    li = pd.DataFrame(
        {
            "l_orderkey": [1, 2, 3],
            "l_returnflag": ["A", "A", "A"],
            # inside the builder's 1997 ship-date window
            "l_shipdate": pd.to_datetime(
                ["1997-06-01", "1997-06-02", "1997-06-03"]
            ).astype("datetime64[us]"),
        }
    )
    orders.to_parquet(str(tmp_path / "orders.parquet"))
    li.to_parquet(str(tmp_path / "lineitem.parquet"))

    got = QUERIES["q12_shipmode_priority"](spark, str(tmp_path)).toPandas()
    row = got.iloc[0]
    assert row.high_line_count == 1 and row.low_line_count == 1, got

    duck = _duck_with(
        {
            "orders": str(tmp_path / "orders.parquet"),
            "lineitem": str(tmp_path / "lineitem.parquet"),
        }
    ).execute(ORACLES["q12_shipmode_priority"]).df()
    problems = _compare("q12_shipmode_priority", got, duck)
    assert not problems, problems


def test_udtf_null_text_yields_no_rows(spark, tmp_path):
    """NULL text must tokenize to zero rows on both engines, not crash
    the Python UDTF with None.split."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["one two", None]})
    pdf.to_parquet(str(tmp_path / "documents.parquet"))

    got = QUERIES["udtf_tokenize"](spark, str(tmp_path)).toPandas()
    assert sorted(got.token) == ["one", "two"]

    duck = _duck_with(
        {"documents": str(tmp_path / "documents.parquet")}
    ).execute(ORACLES["udtf_tokenize"]).df()
    problems = _compare("udtf_tokenize", got, duck)
    assert not problems, problems


def test_cache_dataframe_skips_schema_changed_inputs(spark, clean_cache, monkeypatch):
    """cache_dataframe must skip (like its listing-failure guard and the
    tiering twin) when the input listing reports a schema change: the sentinel
    key embeds now(), so a write would orphan a full materialization on
    EVERY call."""
    from dbfs_spark_cache_spark import cache_dataframe, get_cached_tables
    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.plans import fingerprint

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet").select("r_name")

    def boom(frame):
        raise Exception("SCHEMA_CHANGE detected on source")

    monkeypatch.setattr(fingerprint, "input_files", boom)
    out = cache_dataframe(df, override_prefer_spark_cache=True)
    assert out is df, "schema-changed frame must pass through uncached"
    assert get_cached_tables(spark).empty
    assert os.listdir(config.SPARK_CACHE_DIR) == []


def test_output_mode_inference_honors_declared_state_mode(spark, tmp_path):
    """run_to_memory_sink with NO explicit mode must infer the mode the
    stateful operator itself declares: stateful_session_flush is an
    append-mode applyInPandasWithState, and the old blanket 'update'
    inference crashed it with AnalysisException."""
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        stateful_session_flush,
    )

    stream = stateful_session_flush(read_events_stream(spark, SF_SMOKE))
    got = run_to_memory_sink(stream, "r8_mode_infer")  # no output_mode
    assert got.count() >= 0  # reaching here means the query started


def test_max_mtime_is_timezone_independent(tmp_path):
    """Cache keys render mtimes with no zone marker; the rendering must
    not depend on the driver host's timezone (a local-time rendering
    invalidated every cache entry across DST or between differently-zoned
    drivers sharing a cache dir)."""
    import subprocess

    f = tmp_path / "data.txt"
    f.write_text("x")
    os.utime(f, (1700000000, 1700000000))

    prog = (
        "import sys, time; sys.path.insert(0, '/root/repo')\n"
        "time.tzset()\n"
        "from dbfs_spark_cache_spark import fs\n"
        f"print(fs.max_mtime({str(tmp_path)!r}))\n"
    )
    outs = set()
    for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
        r = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True, text=True,
            env={**os.environ, "TZ": tz},
        )
        assert r.returncode == 0, r.stderr[-300:]
        outs.add(r.stdout.strip())
    assert len(outs) == 1, f"mtime rendering varies with host TZ: {outs}"
    from datetime import datetime, timezone

    expected = datetime.fromtimestamp(1700000000, tz=timezone.utc).replace(
        tzinfo=None
    )
    assert outs == {str(expected)}
