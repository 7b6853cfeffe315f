#!/usr/bin/env python
"""Self-check harness: run every queries() entry on Spark and compare against
its DuckDB oracle the way the driver does (row count + column names/types +
order-insensitive value comparison). Stricter than the driver where cheap:
values are compared exactly after canonical string formatting.

Usage: python scripts/selfcheck.py [--sf DIR] [--only name1,name2] [-v]
"""
from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers unpickle UDFs by module name, so they need the package on
# their path too, whatever directory this script runs from.
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [ROOT, os.environ.get("PYTHONPATH")])
)

import duckdb
import pandas as pd


def canonical_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        if math.isinf(v):  # int(inf) raises OverflowError and would kill
            return repr(v)  # the whole harness instead of failing one row
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.1f}"
        return repr(v)
    if isinstance(v, (pd.Timestamp,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(canonical_cell(x) for x in seq) + "]"
    return str(v)


def canonical_dtype(dt) -> str:
    s = str(dt)
    if s.startswith("datetime64"):
        return "timestamp"
    return s


def frame_signature(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    dtypes = [f"{c}:{canonical_dtype(pdf[c].dtype)}" for c in cols]
    rows = [
        tuple(canonical_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return cols, dtypes, rows


def compare(name, spark_pdf, duck_pdf, verbose=False):
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, s_dtypes, s_rows = frame_signature(spark_pdf)
    d_cols, d_dtypes, d_rows = frame_signature(duck_pdf)
    if s_cols != d_cols:
        problems.append(f"columns: spark={s_cols} duck={d_cols}")
    elif s_dtypes != d_dtypes:
        diff = [f"{a} vs {b}" for a, b in zip(s_dtypes, d_dtypes) if a != b]
        problems.append(f"dtypes: {diff}")
    elif s_rows != d_rows:
        n_bad = sum(1 for a, b in zip(s_rows, d_rows) if a != b) + abs(
            len(s_rows) - len(d_rows)
        )
        problems.append(f"values: {n_bad} differing rows")
        if verbose:
            for a, b in zip(s_rows, d_rows):
                if a != b:
                    print(f"    spark: {a}\n    duck : {b}")
                    break
    return problems


def codegen_summary(spark) -> str:
    """Janino compilations so far in this JVM and the entries of Spark's
    generated-class cache. Compilations far above the distinct classes the
    run needed mean the cache is too small for its working set and evicts
    in a cycle (see ``session.CODEGEN_CACHE_ENTRIES``)."""
    from py4j.protocol import Py4JError

    jvm = spark._jvm
    compilations = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )
    try:  # the cache is a private field of Spark's CodeGenerator object
        gen = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
        )
        field = gen.getDeclaredField("cache")
        field.setAccessible(True)
        entries = field.get(gen.getField("MODULE$").get(None)).size()
    except Py4JError:
        entries = "?"
    limit = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    return f"codegen: {compilations} compilations, {entries}/{limit} cache entries"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--window",
        action="store_true",
        help="check exactly the current driver verification window "
        "(the first _WINDOW_SLOTS queries() entries)",
    )
    ap.add_argument(
        "--codegen-off",
        action="store_true",
        help="run with whole-stage codegen DISABLED (factoryMode="
        "NO_CODEGEN): an execution-mode invariance sweep — results must "
        "be identical through Spark's interpreted expression path "
        "(r18: full 150/150 exact at sf0.01)",
    )
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf for execution-mode invariance sweeps "
        "(repeatable). r18 clean sweeps, each 150/150 exact at sf0.01: "
        "spark.sql.adaptive.enabled=false, spark.sql.shuffle."
        "partitions=7, spark.sql.shuffle.partitions=1, and "
        "--codegen-off — results are invariant under plan strategy, "
        "partition layout, and expression-evaluation mode",
    )
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from dbfs_spark_cache_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    extra = {}
    if args.codegen_off:
        extra.update(
            {
                "spark.sql.codegen.wholeStage": "false",
                "spark.sql.codegen.factoryMode": "NO_CODEGEN",
            }
        )
    for kv in args.conf:
        key, sep, val = kv.partition("=")
        if not sep or not key:
            print(f"--conf expects K=V, got {kv!r}")
            sys.exit(2)
        extra[key] = val
    spark = get_spark(app_name="selfcheck", extra_conf=extra or None)

    con = duckdb.connect()
    for table in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{args.sf}/{table}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    selected = [s for s in args.only.split(",") if s]
    unknown = [s for s in selected if s not in queries]
    if unknown:
        # a typo'd --only would otherwise run ZERO comparisons and exit 0
        # — a false green from the correctness harness
        print(f"unknown query names in --only: {unknown}")
        sys.exit(2)
    if args.window:
        if selected:
            # silently replacing an explicit --only selection made the
            # harness print green for queries it never ran
            print("--only and --window are mutually exclusive")
            sys.exit(2)
        selected = list(queries)[: entry_mod._WINDOW_SLOTS]

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in queries.items():
        if selected and name not in selected:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            spark_pdf = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc(limit=4)
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spark_pdf)} rows  [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            n_fail += 1
            failures.append(name)
            continue
        problems = compare(name, spark_pdf, duck_pdf, args.verbose)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}  [{time.time()-t0:.1f}s]")
            n_fail += 1
            failures.append(name)
        else:
            print(f"ok   {name}: {len(spark_pdf)} rows  [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(
        f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAILED"
        + (f": {failures}" if failures else "")
    )
    print(codegen_summary(spark))
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
