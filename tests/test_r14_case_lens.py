"""r14 'colcase' lens — column-name case drift (uppercased parquet
footers, the shape a Hive export or legacy ETL ships).

Probe result: the two engines resolve case-insensitively but emit
OPPOSITE output names for a pass-through column — Spark prints the name
AS REFERENCED in the query (``select("r_name")`` -> ``r_name``), DuckDB
prints the SOURCE footer case (``SELECT r_name`` -> ``R_NAME``). Values
are identical; only the output schema's NAME case diverges, on every
query that passes a source column through verbatim.

That is an inherent engine-behavior asymmetry, not fixable in query
code short of aliasing every pass-through column in all 150 oracles —
so the contract is pinned at the DATA level instead: sources ship
lower-case column names (every fixture table does — asserted below),
and a case-drifted deployment normalizes at ingest or pins explicit
aliases (which both engines honor verbatim — also pinned below).
"""
from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_ORACLE, SF_SMOKE  # noqa: E402


def _upper_region(tmp_path) -> str:
    pdf = pd.read_parquet(f"{SF_SMOKE}/region.parquet")
    path = str(tmp_path / "region_upper.parquet")
    pdf.rename(columns=str.upper).to_parquet(path)
    return path


def test_output_name_case_asymmetry_is_real(spark, tmp_path):
    """The divergence this lens characterizes: over an uppercased
    footer, Spark emits the as-referenced (lower) name while DuckDB
    emits the source (upper) name for the same pass-through column."""
    path = _upper_region(tmp_path)
    s_cols = spark.read.parquet(path).select("r_name").columns
    con = duckdb.connect()
    con.execute(f"CREATE VIEW region AS SELECT * FROM '{path}'")
    d_cols = list(con.execute("SELECT r_name FROM region").fetchdf().columns)
    assert s_cols == ["r_name"]
    assert d_cols == ["R_NAME"]  # the asymmetry — if an engine upgrade
    # changes either side, re-evaluate whether the data contract can drop


def test_explicit_alias_restores_agreement(spark, tmp_path):
    """The remediation a case-drifted deployment uses: an explicit alias
    pins the output name verbatim on BOTH engines, so aliased queries
    (every aggregate/computed column in this repo already aliases) are
    immune to footer case."""
    path = _upper_region(tmp_path)
    s_cols = (
        spark.read.parquet(path)
        .selectExpr("r_name AS region_name")
        .columns
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW region AS SELECT * FROM '{path}'")
    d_cols = list(
        con.execute("SELECT r_name AS region_name FROM region")
        .fetchdf()
        .columns
    )
    assert s_cols == d_cols == ["region_name"]


def test_fixture_tables_honor_the_lowercase_contract():
    """The data contract that makes the asymmetry unreachable: every
    fixture table at both oracle SFs ships lower-case column names."""
    import glob

    import pyarrow.parquet as pq

    offenders = []
    for sf in (SF_SMOKE, SF_ORACLE):
        for f in sorted(glob.glob(f"{sf}/*.parquet")):
            for name in pq.read_schema(f).names:
                if name != name.lower():
                    offenders.append((f, name))
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# catalog-case drift (the second half of the case lens: DATABASE identifiers)


def test_mixed_case_cache_database_is_normalized():
    """Spark stores unquoted catalog identifiers lowercased (the
    warehouse dir is literally <lower(db)>.db) while CACHE_DATABASE is
    also interpolated into filesystem paths and plan regexes — a
    mixed-case setting split those views (probe: catalog worked, but
    _table_location pointed at a MixedCase_DB.db dir that doesn't
    exist, so the path fallback missed and size-budget eviction
    undercounted to zero). The config now normalizes to the catalog's
    canonical form at both entry points."""
    from dbfs_spark_cache_spark.config import config, reconfigure

    old_db = config.CACHE_DATABASE
    try:
        got = reconfigure(CACHE_DATABASE="MixedCase_DB")
        assert got.CACHE_DATABASE == "mixedcase_db"
        got = reconfigure(CACHE_DATABASE="Another_DB")
        assert got.CACHE_DATABASE == "another_db"
    finally:
        reconfigure(CACHE_DATABASE=old_db)


def test_mixed_case_database_survives_catalog_death(spark):
    """End-to-end under the normalized name: a cache written under a
    mixed-case configured database lands where ``layout.table_location``
    expects it, so the next probe (every probe scans that location, in
    every session) serves the hit instead of silently recomputing — the
    exact drift the probe demonstrated."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark import core, layout, fs, read_cache_if_exist, write_cache
    from dbfs_spark_cache_spark.config import config, reconfigure

    old_db = config.CACHE_DATABASE
    try:
        reconfigure(CACHE_DATABASE="CaseDrift_DB")
        df = (
            spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        write_cache(df)
        h = core.resolve_table_hash(df)
        loc = layout.table_location(spark, h)
        assert "/casedrift_db.db/" in loc
        assert fs.exists(layout.commit_marker_path(loc))
        hit = read_cache_if_exist(df)
        assert hit is not None
        assert sorted(map(tuple, hit.collect())) == sorted(
            map(tuple, df.collect())
        )
    finally:
        spark.sql("DROP DATABASE IF EXISTS casedrift_db CASCADE")
        reconfigure(CACHE_DATABASE=old_db)
