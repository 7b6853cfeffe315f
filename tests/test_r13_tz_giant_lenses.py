"""Builder-honesty and session-state pins for the two r13 lenses.

tz lens (scripts/hostile_probe.py build_tz): the fixture half plants
DST-transition wall-clock instants in the FILES; this file covers the
half a lens build cannot express — a SESSION timezone change between
write and read. The engine's discipline: fixture timestamps are naive
(NTZ after normalize), every mtime in a cache key renders through
fs._utc_naive, and normalize_event_ts pins the session UTC before any
tz-sensitive cast — so neither query results nor cache keys may move
when the driver's session or host zone changes.

giant lens (build_giant): builder honesty — the real fixtures carry
none of the giant/corrupt-dimension shapes, so current attestations
are honest and a lens finding is real new information.
"""
from __future__ import annotations

import os
import sys
import tempfile

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
    ),
)

from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_SMOKE  # noqa: E402

_TZ = "spark.sql.session.timeZone"


def test_query_results_invariant_under_foreign_session_tz(spark):
    """A user session running America/New_York must get byte-identical
    window buckets and date parts to a UTC session: the events loader
    re-pins UTC before its tz-sensitive cast, and every other fixture
    timestamp is already naive."""
    from dbfs_spark_cache_spark.operators import QUERIES

    utc = {
        name: QUERIES[name](spark, SF_SMOKE).toPandas()
        for name in ("window_tumbling", "fn_datetime_parts", "fn_date")
    }
    try:
        for name, want in utc.items():
            spark.conf.set(_TZ, "America/New_York")
            got = QUERIES[name](spark, SF_SMOKE).toPandas()
            assert got.equals(want) or (
                got.sort_values(list(got.columns))
                .reset_index(drop=True)
                .equals(
                    want.sort_values(list(want.columns)).reset_index(drop=True)
                )
            ), f"{name} moved under a foreign session timezone"
    finally:
        spark.conf.set(_TZ, "UTC")


def test_cache_key_and_hit_survive_session_tz_change(spark, clean_cache):
    """An entry cached under UTC must HIT (same fingerprint) after the
    session timezone changes — plan text is NTZ-naive and mtimes render
    via fs._utc_naive, so no component of the key may depend on the
    session zone."""
    from dbfs_spark_cache_spark import cache_dataframe, read_cache_if_exist
    from dbfs_spark_cache_spark.plans.fingerprint import (
        canonical_plan,
        input_dir_mod_datetime,
        table_cache_info,
    )

    def cache_key(frame):
        plan = canonical_plan(frame)
        return table_cache_info(input_dir_mod_datetime(frame), plan)[0]

    df = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .where(F.col("ts").isNotNull())
        .groupBy("event_type")
        .count()
    )
    key_utc = cache_key(df)
    cache_dataframe(df, override_prefer_spark_cache=True)
    try:
        spark.conf.set(_TZ, "America/New_York")
        assert cache_key(df) == key_utc, "cache key moved with session tz"
        hit = read_cache_if_exist(df)
        assert hit is not None, "tz change caused a silent cache miss"
        assert {r.event_type: r["count"] for r in hit.collect()} == {
            r.event_type: r["count"] for r in df.collect()
        }
    finally:
        spark.conf.set(_TZ, "UTC")


def test_dst_instants_roundtrip_exactly(spark, tmp_path):
    """The four DST-hostile wall-clock instants (nonexistent and
    ambiguous local times in US/EU zones) survive the loader bit-exactly
    even when the session starts in a zone where they are hostile —
    naive storage has no zone to be wrong in."""
    from hostile_probe import build_tz

    from dbfs_spark_cache_spark.sources import load_table

    dst = str(tmp_path / "tz")
    os.makedirs(dst, exist_ok=True)
    build_tz(SF_SMOKE, dst)
    try:
        spark.conf.set(_TZ, "America/New_York")
        got = (
            load_table(spark, dst, "events")
            .orderBy("event_id")
            .limit(4)
            .select("ts")
            .toPandas()["ts"]
            .tolist()
        )
    finally:
        spark.conf.set(_TZ, "UTC")
    assert got == [
        pd.Timestamp("2026-03-08 02:30:00"),
        pd.Timestamp("2026-11-01 01:30:00"),
        pd.Timestamp("2026-03-29 02:30:00.500000"),
        pd.Timestamp("2026-10-25 02:59:59.999999"),
    ]


def test_lenses_are_fixture_invisible(spark):
    """Builder honesty: no real fixture carries a DST-window instant (the
    fixtures predate 2026-03-08), a multi-MB document, or a
    wrong-dimension embedding — so green attestations on the real data
    say nothing about these shapes and the lenses add real coverage."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert docs.where(F.length("text") > 100_000).count() == 0
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r.d for r in dims] == [64]
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert (
        ev.where(F.col("ts") >= F.lit("2026-03-08").cast("timestamp")).count()
        == 0
    )


def test_spark_side_multi_megabyte_document(spark, tmp_path):
    """The true giant-row memory probe, Spark-side only (the two-engine
    lens carries a 90 kB doc — the oracle replay grinds ~13M md5 calls
    per shingle query on anything bigger): a 2.7 MB document flows
    through the chunker, the shingler and the tokenizer with the exact
    expected cardinalities — linear shapes, no per-token quadratic, no
    2 GB-limit or collect blowup on a single hot row."""
    import pandas as pd

    from dbfs_spark_cache_spark.operators import QUERIES

    src = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    sentence = "the quick brown fox jumps over the lazy dog "
    giant = sentence * 60_000 + "UNIQUE_TAIL"  # ~2.7 MB, 540_001 tokens
    n_tokens = 9 * 60_000 + 1
    # REPLACE doc 49 (udtf_tokenize's deterministic subset is doc_id < 50)
    src.loc[src["doc_id"] == 49, "text"] = giant
    src.loc[src["doc_id"] == 49, "n_chars"] = len(giant)
    src.to_parquet(f"{tmp_path}/documents.parquet")

    chunks = QUERIES["text_chunk_sliding"](spark, str(tmp_path))
    giant_chunks = chunks.where(F.col("doc_id") == 49)
    # ceil((540001 - 64) / 48) + 1 sliding chunks, each <= 64 tokens
    expected_chunks = -(-(n_tokens - 64) // 48) + 1
    assert giant_chunks.count() == expected_chunks
    assert giant_chunks.where(F.col("chunk_tokens") > 64).count() == 0

    shingles = QUERIES["text_rolling_hash_shingles"](spark, str(tmp_path))
    row = shingles.where(F.col("doc_id") == 49).collect()[0]
    assert row.n_shingles == n_tokens - 4  # every 5-token shingle hashed

    toks = QUERIES["udtf_tokenize"](spark, str(tmp_path))
    assert toks.where(F.col("doc_id") == 49).count() == n_tokens
