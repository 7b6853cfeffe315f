"""Regression pins for the r9 verdict/advice findings: the hardened
PythonUDF plan-JSON counter (suffix-anchored class regex + version-rename
canary), and this round's other engine-review fixes."""
from __future__ import annotations

import logging
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE


def test_udf_counter_sees_plain_and_pandas_udfs(spark):
    """VERDICT r8 #6: the counter must read >=1 on BOTH a plain and a
    pandas UDF frame — on Spark 4.1 both render a
    catalyst.expressions.PythonUDF expression, and the suffix-anchored
    regex must keep matching it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from dbfs_spark_cache_spark.complexity import count_python_udfs

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")

    plain = F.udf(lambda x: float(x), DoubleType())
    assert count_python_udfs(df.select(plain("r_regionkey").alias("s"))) >= 1

    @F.pandas_udf(DoubleType())
    def vec(x: pd.Series) -> pd.Series:
        return x.astype(float) + 1.0

    assert count_python_udfs(df.select(vec("r_regionkey").alias("s"))) >= 1

    # grouped-map (FlatMapGroupsInPandas) carries a PythonUDF too
    gm = df.groupBy("r_regionkey").applyInPandas(
        lambda p: p, "r_regionkey long, r_name string, r_comment string"
    )
    assert count_python_udfs(gm) >= 1


def test_udf_counter_regex_survives_package_move():
    """ADVICE r8 #3: the match anchors on the .PythonUDF class-name
    suffix, not the full Catalyst package path, so a package move or
    JSON spacing change keeps counting."""
    from dbfs_spark_cache_spark.complexity import _PYTHON_UDF_CLASS_RE

    for js in (
        '"class":"org.apache.spark.sql.catalyst.expressions.PythonUDF"',
        '"class":"org.apache.spark.sql.internal.expressions.PythonUDF"',
        '"class" : "whatever.moved.PythonUDF"',
        '"class":"x.PythonUDAF"',
        '"class":"x.PythonUDTF"',
    ):
        assert _PYTHON_UDF_CLASS_RE.search(js), js
    # and never a false positive on non-UDF classes or prose
    for js in (
        '"class":"org.apache.spark.sql.catalyst.expressions.Add"',
        '"name":"my_python_udf_helper"',
        '"class":"x.PythonUDFRunner"',  # runner infra, not an expression
    ):
        assert not _PYTHON_UDF_CLASS_RE.search(js), js


def test_checkpoint_rdd_id_reads_the_persisted_id(spark):
    """ADVICE r8 #1 fix: the cluster-keepers reclaim attributes its own
    checkpoint by reading the id off the checkpointed DataFrame's
    LogicalRDD plan node — the id must be exactly the one the
    persistent-RDD registry carries, available before materialization."""
    from dbfs_spark_cache_spark.operators.dedup import (
        _checkpoint_rdd_id,
        _persistent_rdd_entries,
    )

    ck = spark.range(50).selectExpr("id", "id % 5 as g").localCheckpoint(
        eager=False
    )
    rid = _checkpoint_rdd_id(ck)
    assert rid is not None
    assert rid in _persistent_rdd_entries(spark.sparkContext), (
        "checkpoint RDD must be registered at creation time under the id "
        "read from the LogicalRDD node"
    )
    # non-checkpointed plans are not LogicalRDD -> None, never a bogus id
    assert _checkpoint_rdd_id(spark.range(3)) is None
    ck.unpersist()


def test_cluster_keepers_spares_concurrent_checkpoints(spark):
    """ADVICE r8 #1: the old reclaim diffed the session-global
    persistent-RDD registry around each round, so ANY RDD persisted
    concurrently by another thread was swept into the diff and
    unpersisted a round later — for a lineage-truncated localCheckpoint
    that makes its blocks unrecoverable and later actions FAIL (not
    recompute). Run the query while a bystander thread checkpoints small
    frames; every bystander must remain fully usable afterwards."""
    import threading

    from dbfs_spark_cache_spark.operators import QUERIES

    bystanders: list = []
    stop = threading.Event()
    errors: list = []

    def persist_bystanders():
        i = 0
        while not stop.is_set() and i < 40:
            try:
                ck = (
                    spark.range(100 + i)
                    .selectExpr("id", f"id * {i + 1} as v")
                    .localCheckpoint(eager=True)
                )
                bystanders.append((i, ck))
            except Exception as exc:  # pragma: no cover - diagnostic only
                errors.append(exc)
            i += 1

    t = threading.Thread(target=persist_bystanders, daemon=True)
    t.start()
    try:
        QUERIES["dedup_cluster_keepers"](spark, SF_SMOKE).count()
    finally:
        stop.set()
        t.join(timeout=60)
    assert not errors, f"bystander checkpointing itself failed: {errors[:1]}"
    assert bystanders, "bystander thread produced nothing — test is vacuous"
    # every bystander's truncated-lineage blocks must still be readable
    for i, ck in bystanders:
        assert ck.count() == 100 + i
        ck.unpersist()


def test_exactly_once_readers_opt_in_batch_id(spark, tmp_path):
    """ADVICE r8 #4: the committed/quarantine views are schema-pure by
    default (the batch id is ledger metadata), but consumers that audit
    per-batch provenance opt back in with include_batch_id=True — a
    ``batch_id: long`` column derived from the partition dirs, identical
    shape on the data, quarantine, and recorded-schema-empty paths."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
        read_quarantine,
    )

    base = str(tmp_path / "eo_bid")
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    sink = exactly_once_append_sink(base)
    sink(batch.limit(3), 0)
    sink(batch.limit(5), 1)

    plain = read_exactly_once_output(spark, base)
    assert "batch_id" not in plain.columns, "default view must stay pure"

    with_id = read_exactly_once_output(spark, base, include_batch_id=True)
    assert dict(with_id.dtypes)["batch_id"] == "bigint"
    per_batch = {
        r.batch_id: r.n
        for r in with_id.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_batch == {0: 3, 1: 5}
    # the batch_id filter must partition-prune, not scan every batch
    # (inputFiles() is relation-level, so read the scan's partition
    # filters and counts off the executed plan instead)
    pruned = with_id.where(F.col("batch_id") == 1)
    assert pruned.count() == 5
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "batch_id" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0], f"batch_id filter not pushed to partition scan:\n{plan}"

    # recorded-schema-empty path carries the same appended column
    empty_base = str(tmp_path / "eo_bid_empty")
    sink2 = exactly_once_append_sink(empty_base)
    sink2(batch.limit(0), 0)
    for name in os.listdir(f"{empty_base}/batch_id=0"):
        if "part-" in name:
            os.remove(f"{empty_base}/batch_id=0/{name}")
    empty = read_exactly_once_output(spark, empty_base, include_batch_id=True)
    assert empty.count() == 0
    assert empty.schema.fieldNames() == [*batch.schema.fieldNames(), "batch_id"]
    assert dict(empty.dtypes)["batch_id"] == "bigint"

    # quarantine view: trace WHICH batch produced the bad rows
    gated = str(tmp_path / "eo_bid_gated")
    gate = exactly_once_append_sink(gated, valid=F.lit(False))
    gate(batch.limit(2), 0)
    gate(batch.limit(4), 1)
    q = read_quarantine(spark, gated, include_batch_id=True)
    got = {
        r.batch_id: r.n
        for r in q.groupBy("batch_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == {0: 2, 1: 4}
    assert "batch_id" not in read_quarantine(spark, gated).columns


def test_include_batch_id_refuses_to_shadow_a_data_column(spark, tmp_path):
    """Partition discovery silently REPLACES a same-named data column
    with the dir number (verified on Spark 4.1) — so a sink whose data
    already carries batch_id must get a loud refusal under
    include_batch_id=True, never silently corrupted provenance."""
    import pytest

    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_exactly_once_output,
    )

    base = str(tmp_path / "eo_shadow")
    batch = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_id", "value")
        .withColumn("batch_id", F.lit(777).cast("long"))
        .limit(3)
    )
    sink = exactly_once_append_sink(base)
    sink(batch, 0)

    # default view: the user's own column comes back untouched
    plain = read_exactly_once_output(spark, base)
    assert [r.batch_id for r in plain.collect()] == [777, 777, 777]

    with pytest.raises(ValueError, match="batch_id"):
        read_exactly_once_output(spark, base, include_batch_id=True)


def test_slim_band_rows_parity_at_production_width(spark):
    """The slim-band-rows candidate plan (measured faster at 128 hashes /
    32 bands — BENCH_NOTES round 3) is now an automatic branch: banded
    rows carry only (doc_id, band, bucket) and candidate pairs re-join
    the signature table for the agreement count. Same pairs and same
    est_jaccard as the fat shape by construction — verified here at the
    production width, where the auto-switch engages."""
    from dbfs_spark_cache_spark.operators.dedup import (
        _use_slim_band_rows,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    assert not _use_slim_band_rows(32), "fixture width must keep the fat shape"
    assert not _use_slim_band_rows(64)
    assert _use_slim_band_rows(128)

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sigs = minhash_signatures(docs, n_hashes=128)

    def pairset(df):
        return {
            (r.doc_a, r.doc_b, round(r.est_jaccard, 9)) for r in df.collect()
        }

    fat = pairset(
        lsh_candidate_pairs(
            sigs, threshold=0.25, n_hashes=128, n_bands=32, slim_rows=False
        )
    )
    slim = pairset(
        lsh_candidate_pairs(
            sigs, threshold=0.25, n_hashes=128, n_bands=32, slim_rows=True
        )
    )
    assert fat, "empty candidate set would make this test vacuous"
    assert slim == fat
    # the slim plan's band explode must NOT carry the 128-long signature
    slim_df = lsh_candidate_pairs(sigs, 0.25, n_hashes=128, n_bands=32)
    plan = slim_df._jdf.queryExecution().analyzed().toString()
    assert plan.count("Join") >= 3, "slim shape re-joins the signature table"


def test_perm_constant_extension_is_frozen_and_disjoint():
    """Widening the permutation family must never disturb the original
    64 sequential draws (they are baked into every generated oracle and
    signature); indexes beyond 63 derive per-index, deterministically,
    in the right domains."""
    from dbfs_spark_cache_spark.operators.dedup import (
        _P31,
        _PERM_MULTIPLIERS,
        _PERM_OFFSETS,
        _perm_constant,
        _perm_constants,
    )

    # the frozen table is exactly the original sequential draw
    ms, os_ = _perm_constants(64)
    assert ms == _PERM_MULTIPLIERS and os_ == _PERM_OFFSETS
    for i in (0, 31, 63):
        assert _perm_constant(i) == (_PERM_MULTIPLIERS[i], _PERM_OFFSETS[i])
    # extended indexes: deterministic, in-domain, distinct per index
    seen = set()
    for i in range(64, 128):
        a, b = _perm_constant(i)
        assert _perm_constant(i) == (a, b)  # stable across calls
        assert 1 <= a < _P31 and 0 <= b < _P31
        seen.add((a, b))
    assert len(seen) == 64


def test_minhash_oracle_parity_at_extended_width(spark, monkeypatch):
    """The DuckDB candidate-CTE generator consumes the same
    _perm_constant accessor, so the 128-hash extension must replay
    bit-for-bit across engines (the property every registered geometry
    relies on, now pinned beyond the frozen 64)."""
    import duckdb

    from dbfs_spark_cache_spark.operators.dedup import (
        _SHINGLE_HS_CTES,
        HASH_FAMILY_ENV,
        _duck_minhash_cands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # DuckDB has no xxhash64: parity runs the md5-portable family, which
    # the shingle hashing resolves at plan-BUILD time from the env.
    monkeypatch.setenv(HASH_FAMILY_ENV, "portable")

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in lsh_candidate_pairs(
            minhash_signatures(docs, n_hashes=128),
            threshold=0.25,
            n_hashes=128,
            n_bands=32,
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_SMOKE}/documents.parquet'"
    )
    sql = (
        _duck_minhash_cands(_SHINGLE_HS_CTES, 128, 32)
        + " SELECT doc_a, doc_b, est_jaccard FROM cand"
        + " WHERE est_jaccard >= 0.25"
    )
    want = {
        (a, b, round(e, 9)) for a, b, e in con.execute(sql).fetchall()
    }
    assert got == want and got, "cross-engine 128-hash candidate parity"


def test_multimodal_passes_survive_null_text(spark, tmp_path):
    """r9 adversarial review: a NULL text payload crashed both
    mapInPandas passes in Python (`t.encode` / `len(t)` on None) — one
    unreadable asset killed the whole corpus decode, the r8 ANSI-crash
    class. NULL rows now drop identically on both engines (for the
    decode pass the oracle gained the same filter; the frame sampler's
    oracle already excluded NULL via three-valued len(text) > 0)."""
    import duckdb

    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.operators import ORACLES
    from dbfs_spark_cache_spark.operators.multimodal import (
        multimodal_decode_features,
        multimodal_frame_sample,
    )

    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(6)
    hostile = base.unionByName(
        base.limit(1).withColumn(
            "doc_id", F.lit(999_999).cast(base.schema["doc_id"].dataType)
        ).withColumn("text", F.lit(None).cast("string"))
    )
    hostile_dir = str(tmp_path / "docs_nulltext")
    hostile.coalesce(1).write.mode("overwrite").parquet(
        f"{hostile_dir}/documents.parquet"
    )

    decoded = multimodal_decode_features(spark, hostile_dir)
    frames = multimodal_frame_sample(spark, hostile_dir)
    # no crash, and the NULL-text doc is absent from both outputs
    assert decoded.where(F.col("doc_id") == 999_999).count() == 0
    assert frames.where(F.col("doc_id") == 999_999).count() == 0
    assert decoded.count() == 6

    # two-engine parity on the hostile fixture
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{hostile_dir}/documents.parquet/*.parquet'"
    )
    want = con.execute(ORACLES["multimodal_decode_features"]).df()
    got = decoded.toPandas()
    key = ["doc_id"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    for col in ("doc_id", "n_bytes", "width", "height", "channels",
                "byte_min", "byte_max", "window_checksum"):
        assert list(got_s[col].astype("int64")) == list(
            want_s[col].astype("int64")
        ), col


def test_spread_line_worst_case_fits_the_tail_budget():
    """VERDICT r8 #2 done-criterion, pinned as arithmetic: the driver
    tail budget is exactly 2000 bytes and the headline + profile-legs
    lines consume ~1650, so the spread line must stay under ~350 bytes
    in the WORST case — every query noisy, longest real query names."""
    import json

    from bench import HEADLINE, spread_diagnostics_line

    # worst case: every headline query maximally noisy
    timings = {name: 0.101 for name in HEADLINE}
    spread = {name: 123.456 for name in HEADLINE}
    line = spread_diagnostics_line(spread, timings)
    assert len(line.encode()) <= 380, f"{len(line)} bytes: {line}"
    parsed = json.loads(line)
    d = parsed["diagnostics"]
    assert len(d["run_spread"]) == 8
    assert d["suppressed"] == len(HEADLINE) - 8

    # quiet case: nothing exceeds 10% — empty map, full suppressed count
    quiet = spread_diagnostics_line(
        {n: 0.001 for n in HEADLINE}, {n: 1.0 for n in HEADLINE}
    )
    qd = json.loads(quiet)["diagnostics"]
    assert qd["run_spread"] == {} and qd["suppressed"] == len(HEADLINE)

    # the kept 8 are the worst by RELATIVE spread, not absolute
    spread2 = {n: 0.05 for n in HEADLINE}
    timings2 = {n: 1.0 for n in HEADLINE}
    spread2[HEADLINE[0]] = 0.2   # 20% of 1.0
    timings2[HEADLINE[1]] = 0.1  # 0.05 is 50% of 0.1
    kept = json.loads(spread_diagnostics_line(spread2, timings2))
    names = list(kept["diagnostics"]["run_spread"])
    assert names[0] == HEADLINE[1] and HEADLINE[0] in names


def test_udf_counter_warns_on_rename_not_silence(spark, caplog, monkeypatch):
    """VERDICT r8 #5: a Spark rename of the expression class must produce
    a WARNING (plan still mentions a Python-execution marker while the
    count reads 0), not a silent revival of the dead-factor bug."""
    import re

    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    import dbfs_spark_cache_spark.complexity as cx

    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")

    @F.pandas_udf(DoubleType())
    def vec(x: pd.Series) -> pd.Series:
        return x.astype(float)

    frame = df.select(vec("r_regionkey").alias("s"))
    # simulate the rename: the class regex no longer matches anything,
    # but the plan JSON still carries the PythonUDF marker text
    monkeypatch.setattr(
        cx, "_PYTHON_UDF_CLASS_RE", re.compile(r"(?!x)x")
    )
    with caplog.at_level(logging.WARNING, logger="dbfs_spark_cache_spark.complexity"):
        n = cx.count_python_udfs(frame)
    assert n == 0
    assert any(
        "renamed" in rec.message or "marker" in rec.message
        for rec in caplog.records
    ), "zero-count-with-marker plan must fire the rename canary warning"
