"""Round-19 optimization pins.

r19 is revert-heavy (the driver's cold-JVM ground truth refuted five r18
spread sites), so most of the round needs no new pins — the reverted
sites are plain projected scans again and the DuckDB oracle re-proves
them. What DOES get pinned here is the round's three restructures:

- fn_edit_distance's fold-only join carriage (names recovered post-join
  from the Latin-1 fold bijection) — value pin vs a brute-force
  within-block self-join, including multibyte/astral names where
  fold != name;
- distributed_global_percentiles' one-pass offsets/totals (sorted
  (bucket, cnt) array + in-row prefix sums) — the r18 plan-quality pin
  class: exactly ONE broadcast attach join survives; semantics are
  already value-pinned against Spark's own window in
  tests/test_scale_patterns.py and re-checked on the grouped shape here;
- dedup_simhash's strict doc_a < doc_b guard (ADVICE r18): duplicated
  doc_ids must not surface hamming-0 self-pairs;
- the spread gate's file-stat size probe (replacing the per-call
  optimizedPlan().stats() analyze pass) — byte-sum correctness.

All pins run at SF_SMOKE unless the contract needs sf0.01 scale; the
suite's wall time is itself a deliverable this round (VERDICT r18 #3).
"""
from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _rows(df):
    # key=repr: NULL group keys (None) are not orderable against strings
    return sorted((tuple(r) for r in df.collect()), key=repr)


# --- fn_edit_distance: fold-only join carriage -----------------------------


def test_edit_pairs_match_brute_force(spark):
    from dbfs_spark_cache_spark.operators import QUERIES
    from dbfs_spark_cache_spark.operators.extras import _bytes_as_latin1
    from dbfs_spark_cache_spark.sources import load_table

    part = load_table(spark, SF_SMOKE, "part")
    ref = (
        part.alias("a")
        .join(
            part.alias("b"),
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(
                _bytes_as_latin1(F.col("a.p_name")),
                _bytes_as_latin1(F.col("b.p_name")),
            )
            .cast("long")
            .alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= 3)
    )
    assert _rows(QUERIES["fn_edit_distance"](spark, SF_SMOKE)) == _rows(ref)


def test_edit_pairs_unfold_recovers_multibyte_names(spark):
    # The join carries ONLY the Latin-1 fold; the output names come from
    # the inverse fold. On multibyte/astral names fold != name, so this
    # breaks loudly if the bijection is ever damaged.
    from dbfs_spark_cache_spark.operators.extras import banded_edit_pairs

    src = {
        1: "café",          # 2-byte char: byte dist to 'cafe' is 2
        2: "cafe",
        3: "caféx",
        4: "\U0001F600abcdefgh",  # astral: 4 UTF-8 bytes
        5: "\U0001F601abcdefgh",  # differs in ONE byte of the astral char
    }
    df = spark.createDataFrame(
        [(k, "BB", v) for k, v in src.items()], "k long, b string, n string"
    )
    out = banded_edit_pairs(df, key_col="k", block_col="b", name_col="n")
    got = {(r["part_a"], r["part_b"]): (r["name_a"], r["name_b"], r["edit_dist"])
           for r in out.collect()}
    assert (4, 5) in got and got[(4, 5)][2] == 1  # byte distance, not cp
    for (ka, kb), (na, nb, _) in got.items():
        assert na == src[ka] and nb == src[kb]


def test_edit_pairs_join_carries_no_name_columns(spark):
    # The r19 point: the name column must not ride the join sides. The
    # fold + int length are the only string/guard payload until the
    # final projection.
    from dbfs_spark_cache_spark.operators import QUERIES

    plan = plan_text(QUERIES["fn_edit_distance"](spark, SF_SMOKE))
    joins = [l for l in plan.splitlines() if "BroadcastHashJoin" in l or "SortMergeJoin" in l]
    assert joins, "expected a join in the plan"
    # name_a/name_b may appear only in the final Project (the unfold);
    # the join condition must reference fold/len columns instead.
    join_conds = [l for l in plan.splitlines() if "Join condition" in l or "Arguments" in l]
    assert not any("name_a" in l or "name_b" in l for l in joins + join_conds)


# --- distributed_global_percentiles: one-pass offsets/totals ---------------


def test_window_percentiles_single_attach_join(spark):
    # Before r19 the helper attached offsets and totals through TWO
    # broadcast joins (plus a broadcast self-join building the offsets);
    # the one-pass form leaves exactly ONE BroadcastHashJoin in the
    # global variant's plan.
    from dbfs_spark_cache_spark.operators import QUERIES

    plan = plan_text(QUERIES["window_percentiles"](spark, SF_SMOKE))
    # formatted explain prints every operator twice (tree + details);
    # count the numbered details headers instead.
    bhj = re.findall(r"\(\d+\) BroadcastHashJoin", plan)
    assert len(bhj) == 1, plan


def test_grouped_percentiles_match_plain_window(spark):
    # Grouped variant (the window_ntile_cume shape) against Spark's own
    # window on the same frame — ties, duplicate values and a NULL
    # partition key included.
    from pyspark.sql import Window as W

    from dbfs_spark_cache_spark.operators.scale import (
        distributed_global_percentiles,
    )

    rows = [
        ("a", 1.0, 1), ("a", 1.0, 2), ("a", 2.0, 3), ("a", 5.0, 4),
        ("b", 3.0, 5), ("b", 3.0, 6), ("b", 3.0, 7),
        (None, 9.0, 8), (None, 1.0, 9), ("c", 4.0, 10),
    ]
    df = spark.createDataFrame(rows, "g string, v double, k long")
    got = distributed_global_percentiles(
        df, value_col="v", tiebreak_col="k", n_tiles=4,
        pct_col="p", cume_col="c", tile_col="t", partition_cols=["g"],
    )
    wv = W.partitionBy("g").orderBy("v")
    wt = W.partitionBy("g").orderBy("v", "k")
    ref = df.select(
        "g", "v", "k",
        F.percent_rank().over(wv).alias("p"),
        F.cume_dist().over(wv).alias("c"),
        F.ntile(4).over(wt).cast("long").alias("t"),
    )
    assert _rows(got.select("g", "v", "k", "p", "c", "t")) == _rows(ref)


# --- dedup_simhash: strict-inequality guard (ADVICE r18) -------------------


def test_simhash_guard_blocks_self_pairs(spark, monkeypatch):
    # Position-based pair expansion relies on doc_id uniqueness; the r19
    # guard must keep a duplicated doc_id from emitting hamming-0
    # self-pairs. Two doc_id=1 rows with identical text collide in every
    # bucket — without the guard the pair (1, 1) would surface.
    from dbfs_spark_cache_spark.operators import QUERIES
    import dbfs_spark_cache_spark.sources as sources

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "alpha beta gamma delta x")],
        "doc_id long, text string",
    )
    real_load = sources.load_table

    def fake_load(spark_, sf, name):
        if name == "documents":
            return docs
        return real_load(spark_, sf, name)

    # The operator module binds load_table at import time.
    import dbfs_spark_cache_spark.operators.dedup as dedup_mod

    monkeypatch.setattr(dedup_mod, "load_table", fake_load)
    out = QUERIES["dedup_simhash"](spark, SF_SMOKE).collect()
    assert all(r["doc_a"] < r["doc_b"] for r in out)
    assert not any(r["doc_a"] == 1 and r["doc_b"] == 1 for r in out)


# --- spread gate: file-stat size probe -------------------------------------


def test_input_files_bytes_matches_os_stat(spark):
    from urllib.parse import unquote, urlparse

    from dbfs_spark_cache_spark import fs
    from dbfs_spark_cache_spark.plans.fingerprint import input_files

    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    expect = sum(
        os.path.getsize(unquote(urlparse(u).path)) for u in df.inputFiles()
    )
    assert sum(fs.file_sizes(input_files(df))) == expect > 0


def test_minhash_spread_false_skips_gate_and_exchange(spark):
    from dbfs_spark_cache_spark.operators.dedup import minhash_signatures
    from dbfs_spark_cache_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    plain = minhash_signatures(docs, spread=False)
    assert "REPARTITION_BY_NUM" not in plan_text(plain)
    # and the signatures are bit-identical to the spread form
    assert _rows(plain) == _rows(minhash_signatures(docs, spread=True))
