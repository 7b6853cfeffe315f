"""ADVICE r12 closures (engine-surface fixes, all slot-free):

1. functions.content_addressed_udf: the globals-chasing cycle guard
   keyed visited functions by (module, qualname) — all module-level
   lambdas share qualname '<lambda>', so when a UDF referenced TWO
   global lambdas the second was treated as a cycle and its body never
   entered the digest: editing it kept the old tag and served a stale
   cached result (the exact staleness class the r12 fix claimed to
   close). Fixed: visited is keyed by id(val), held alive by the
   globals dict for the duration of the (synchronous) computation; the
   id never enters the digest, so tags stay machine-stable.
2. operators/scale.distributed_global_percentiles: the reserved-name
   guard omitted the CALLER-SUPPLIED output names, so an input frame
   already carrying e.g. '__pct' (the name grouped_exact_median passes
   for pct_col) was still silently clobbered by the final select's
   alias. Fixed: pct_col/cume_col/tile_col/count_col join the guard.
"""
from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _tag_of(source: str) -> str:
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark.functions import content_addressed_udf

    ns: dict = {}
    exec(source, ns)
    u = content_addressed_udf(ns["fn"], DoubleType())
    return u.func.__name__.rsplit("__", 1)[1]


def test_udf_tag_tracks_second_global_lambda():
    """A UDF referencing TWO module-level lambdas must retag when the
    SECOND one's body changes — before the fix both lambdas shared the
    (module, '<lambda>') visited key, so B's body never entered the
    digest and editing it kept the stale tag."""
    a = (
        "A = lambda x: x + 1.0\n"
        "B = lambda x: x * 2.0\n"
        "def fn(s):\n    return A(s) + B(s)\n"
    )
    b = a.replace("x * 2.0", "x * 999.0")
    assert _tag_of(a) == _tag_of(a)  # stable across rebuilds
    assert _tag_of(a) != _tag_of(b), (
        "second global lambda's body did not reach the tag — "
        "stale-cache hazard is back"
    )
    # editing the FIRST lambda retags too (never regressed, pin anyway)
    c = a.replace("x + 1.0", "x + 5.0")
    assert _tag_of(a) != _tag_of(c)


def test_udf_tag_same_function_two_names_still_guarded():
    """One function object reachable under two global names digests once
    and terminates (the id-keyed guard must not loop or crash)."""
    a = (
        "def _h(x):\n    return x + 1.0\n"
        "alias_h = _h\n"
        "def fn(s):\n    return _h(s) + alias_h(s)\n"
    )
    b = a.replace("x + 1.0", "x + 2.0")
    assert _tag_of(a) == _tag_of(a)
    assert _tag_of(a) != _tag_of(b)


def test_percentiles_reject_output_name_collisions(spark):
    """An input frame already carrying a caller-supplied output name
    (default or explicit) must be refused loudly — the final select's
    alias silently clobbered it before."""
    from dbfs_spark_cache_spark.operators.scale import (
        distributed_global_percentiles,
        grouped_exact_median,
    )

    base = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    # the grouped_exact_median bookkeeping names
    for bad in ("__pct", "__cume", "__tile"):
        with pytest.raises(ValueError, match=bad):
            grouped_exact_median(
                base.withColumn(bad, F.lit(1.0)),
                "k",
                "g",
                "med",
                tiebreak_col="k",
            )
    # default output names on the direct call
    with pytest.raises(ValueError, match="pct_rank"):
        distributed_global_percentiles(
            base.withColumn("pct_rank", F.lit(0.0)), "k", tiebreak_col="k"
        )
    # explicit caller-supplied name
    with pytest.raises(ValueError, match="my_out"):
        distributed_global_percentiles(
            base.withColumn("my_out", F.lit(0.0)),
            "k",
            tiebreak_col="k",
            pct_col="my_out",
        )
    # clean frames still work end to end
    out = distributed_global_percentiles(base, "k", tiebreak_col="k")
    assert out.count() == 8


# ---------------------------------------------------------------------------
# r13 fresh-eyes review of streaming/__init__.py (VERDICT r12 #6: the
# module's exactly-once ledger and gate paths, last deep-reviewed r7).
# Two real defects found and fixed:
#   4. the quality-gated sink silently CLOBBERED a source batch's
#      own __valid column (withColumn overwrites) — the gate flag
#      replaced the data and was then dropped from BOTH outputs.
#   5. the committed/quarantine views inferred their schema from ONE
#      parquet footer, so a redeployed pipeline that evolved the sink
#      schema served a footer-lottery shape: an added column appeared
#      or vanished depending on which dir won, and a dropped column
#      silently truncated historic batches. All four reader paths now
#      mergeSchema (the r12 evolve-lens recipe): deterministic union,
#      NULL backfill, loud failure on genuine type conflicts.
# ---------------------------------------------------------------------------


def test_validated_sink_refuses_valid_column_collision(spark, tmp_path):
    from dbfs_spark_cache_spark.streaming import exactly_once_append_sink

    base = str(tmp_path / "eo")
    batch = spark.range(4).withColumn("__valid", F.lit(True))
    sink = exactly_once_append_sink(base, valid=F.col("id") > 1)
    with pytest.raises(ValueError, match="__valid"):
        sink(batch, 0)
    # and nothing was committed
    assert not os.path.exists(f"{base}/_committed/0.txt")


def test_exactly_once_reader_serves_evolved_schema(spark, tmp_path):
    """Batch 0 writes (id, a); a redeploy adds column b for batch 1. The
    committed view must surface BOTH columns deterministically, with
    NULL backfill on the old batch — not whichever footer wins."""
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
    )

    base = str(tmp_path / "eo_evolve")
    sink = exactly_once_append_sink(base)
    b0 = spark.range(3).withColumn("a", F.col("id") * 2)
    b1 = (
        spark.range(3, 6)
        .withColumn("a", F.col("id") * 2)
        .withColumn("b", F.lit("new"))
    )
    sink(b0, 0)
    sink(b1, 1)
    got = read_exactly_once_output(spark, base)
    assert set(got.columns) == {"id", "a", "b"}
    rows = {r.id: r for r in got.collect()}
    assert len(rows) == 6
    assert rows[0].b is None and rows[4].b == "new"
    # provenance view carries the same union
    with_id = read_exactly_once_output(spark, base, include_batch_id=True)
    assert set(with_id.columns) == {"id", "a", "b", "batch_id"}
    assert with_id.where(F.col("b").isNull()).count() == 3


def test_quarantine_reader_serves_evolved_schema(spark, tmp_path):
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_quarantine,
    )

    base = str(tmp_path / "eo_q_evolve")
    gate = F.col("id") % 2 == 0
    sink = exactly_once_append_sink(base, valid=gate)
    sink(spark.range(4).withColumn("a", F.col("id") * 2), 0)
    sink(
        spark.range(4, 8)
        .withColumn("a", F.col("id") * 2)
        .withColumn("b", F.lit("new")),
        1,
    )
    q = read_quarantine(spark, base)
    assert set(q.columns) == {"id", "a", "b"}
    assert q.count() == 4  # odd ids from both batches
    assert q.where(F.col("b").isNull()).count() == 2


def test_vec_usable_contract_matches_duckdb_on_all_shapes(spark, tmp_path):
    """Cross-engine pin for the full usable-embedding contract: Spark's
    _vec_usable and similarity.DUCK_VEC_USABLE agree row-by-row on every
    hostile vector shape (NULL vector, empty, short, long, exact-dim
    with NULL / NaN / +-Inf / -0.0 components, all-zeros), and the
    F.get-hardened sign_bits_str neither raises nor disagrees with the
    documented Python definition on any of them."""
    import duckdb
    import math

    import pandas as pd

    from dbfs_spark_cache_spark.functions import sign_bits_str
    from dbfs_spark_cache_spark.operators.similarity import (
        DUCK_VEC_USABLE,
        EXPECTED_DIM,
        _vec_usable,
    )

    base = [0.5 * ((i % 7) - 3) for i in range(EXPECTED_DIM)]
    shapes = {
        1: None,
        2: [],
        3: base[:6],
        4: base + [0.1, 0.2],
        5: base,
        6: [float("nan")] + base[1:],
        7: [float("inf")] + base[1:],
        8: [-float("inf")] + base[1:],
        9: [None] + base[1:],
        10: [-0.0] * EXPECTED_DIM,
        11: [0.0] * EXPECTED_DIM,
        12: base[:-1] + [None],
    }
    pdf = pd.DataFrame(
        {"vec_id": list(shapes), "embedding": list(shapes.values())}
    )
    pdf.to_parquet(f"{tmp_path}/embeddings.parquet")

    df = spark.read.parquet(f"{tmp_path}/embeddings.parquet")
    got = {
        r.vec_id: bool(r.u)
        for r in df.select(
            "vec_id", F.coalesce(_vec_usable(), F.lit(False)).alias("u")
        ).collect()
    }
    con = duckdb.connect()
    want = {
        int(vid): bool(u)
        for vid, u in con.execute(
            f"SELECT vec_id, COALESCE({DUCK_VEC_USABLE}, FALSE) "
            f"FROM '{tmp_path}/embeddings.parquet'"
        ).fetchall()
    }
    assert got == want, f"contract drift: {got} vs {want}"
    assert [v for k, v in sorted(got.items())] == [
        False, False, False, False, True,
        False, False, False, False, True, True, False,
    ]

    # sign_bits_str is TOTAL: 8-bit signatures for every shape, no ANSI
    # crash, and '0' for NULL/missing/negative dims per the docstring
    sigs = {
        r.vec_id: r.sig
        for r in df.select(
            "vec_id", sign_bits_str("embedding", 8).alias("sig")
        ).collect()
    }

    def ref(vec):
        if vec is None:
            return None  # concat over all-NULL whens is still a string...
        bits = []
        for i in range(8):
            x = vec[i] if i < len(vec) else None
            ok = (
                x is not None
                and not (isinstance(x, float) and math.isnan(x))
                and x >= 0
            )
            bits.append("1" if ok else "0")
        return "".join(bits)

    for vid, vec in shapes.items():
        if vec is None:
            continue  # a NULL array has no signature to check
        assert sigs[vid] == ref(vec), (vid, sigs[vid], ref(vec))
