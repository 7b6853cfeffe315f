"""Structured Streaming smoke + batch-parity: the streaming window queries
must produce the same aggregates as their batch twins once the stream is
fully processed."""
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, TESTDATA


def _batch_events(spark):
    from dbfs_spark_cache_spark.sources import load_table

    return load_table(spark, SF_SMOKE, "events")


def test_streaming_tumbling_matches_batch(spark):
    from dbfs_spark_cache_spark.operators.timeseries import window_tumbling
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        tumbling_counts,
    )

    stream = read_events_stream(spark, SF_SMOKE)
    assert stream.isStreaming
    result = run_to_memory_sink(tumbling_counts(stream), "t_tumbling")
    got = {
        (r.bucket_start, r.event_type): (r.n_events, r.total_value)
        for r in result.collect()
    }
    expected = {
        (r.bucket_start, r.event_type): (r.n_events, r.total_value)
        for r in window_tumbling(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_streaming_sliding_matches_batch(spark):
    from dbfs_spark_cache_spark.operators.timeseries import window_sliding
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        sliding_counts,
    )

    result = run_to_memory_sink(
        sliding_counts(read_events_stream(spark, SF_SMOKE)), "t_sliding"
    )
    got = {r.bucket_start: (r.n_events, r.total_value) for r in result.collect()}
    expected = {
        r.bucket_start: (r.n_events, r.total_value)
        for r in window_sliding(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_stateful_running_totals(spark):
    """applyInPandasWithState: per-user accumulators survive across
    micro-batches and end equal to the batch ground truth."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        running_user_totals,
    )

    stream = running_user_totals(read_events_stream(spark, SF_SMOKE))
    query = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_stateful")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    # "update" mode appends one row per user per batch; the last row per
    # user carries the final state.
    result = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY n_events DESC) AS rn
            FROM t_stateful) WHERE rn = 1
        """
    ).collect()
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in result}
    expected = {
        r.user_id: (r.n, round(r.t, 6))
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert got == expected


def test_streaming_session_windows(spark):
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        session_windows,
    )

    result = run_to_memory_sink(
        session_windows(read_events_stream(spark, SF_SMOKE)), "t_sessions"
    )
    rows = result.collect()
    assert rows
    # session invariants: end >= start, positive event counts, per-user
    # event totals match the raw table
    assert all(r.session_end > r.session_start for r in rows)
    assert all(r.n_events > 0 for r in rows)
    per_user_stream = {}
    for r in rows:
        per_user_stream[r.user_id] = per_user_stream.get(r.user_id, 0) + r.n_events
    per_user_batch = {
        r.user_id: r.cnt
        for r in _batch_events(spark).groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_user_stream == per_user_batch


def test_run_to_memory_sink_infers_update_for_stateful(spark):
    """ADVICE r1 (low): applyInPandasWithState plans print as
    FlatMapGroupsInPandasWithState (not Aggregate) — the sink helper must
    pick update mode, not append, without the caller spelling it out."""
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        running_user_totals,
    )

    result = run_to_memory_sink(
        running_user_totals(read_events_stream(spark, SF_SMOKE)), "t_stateful_infer"
    )
    rows = result.collect()
    assert rows  # append mode would have failed or yielded nothing useful
    user_ids = {r.user_id for r in rows}
    expected_ids = {r.user_id for r in _batch_events(spark).select("user_id").distinct().collect()}
    assert user_ids == expected_ids


def test_rate_source_stream_smoke(spark):
    """Unbounded (rate) source wearing the events schema: the tumbling
    aggregation consumes it unchanged, and derived columns are deterministic
    functions of the tick."""
    import time

    from dbfs_spark_cache_spark.streaming import (
        read_rate_events_stream,
        tumbling_counts,
    )

    stream = read_rate_events_stream(spark, rows_per_second=500)
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
    agg = tumbling_counts(stream, window="10 seconds", watermark="20 seconds")
    query = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_rate")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline and not rows:
            time.sleep(2)
            rows = spark.sql("SELECT * FROM t_rate").collect()
    finally:
        query.stop()
    assert rows, "rate-source stream produced no aggregated rows in 30s"
    assert all(r.n_events > 0 for r in rows)


def test_kafka_parse_stage_without_broker(spark):
    """The Kafka value-decode stage is jar-independent: a batch frame with
    the Kafka record shape (binary value, broker timestamp) exercises the
    identical expressions. Payload ts wins; broker time fills gaps;
    malformed JSON yields NULL fields (PERMISSIVE) instead of failing."""
    import datetime as dt
    import json

    from dbfs_spark_cache_spark.streaming import parse_kafka_events

    broker_ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    payload = json.dumps(
        {"event_id": 7, "ts": "2024-01-01T00:00:00", "user_id": 3,
         "event_type": "click", "value": 1.5, "props": "{}"}
    ).encode()
    no_ts = json.dumps(
        {"event_id": 8, "user_id": 4, "event_type": "view", "value": 2.0,
         "props": "{}"}
    ).encode()
    raw = spark.createDataFrame(
        [
            (b"k1", payload, "events", 0, 0, broker_ts),
            (b"k2", no_ts, "events", 0, 1, broker_ts),
            (b"k3", b"not json", "events", 0, 2, broker_ts),
        ],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    out = parse_kafka_events(raw)
    assert out.schema.simpleString() == (
        "struct<event_id:bigint,ts:timestamp,user_id:bigint,"
        "event_type:string,value:double,props:string>"
    )
    rows = {r.event_id: r for r in out.collect()}
    assert rows[7].ts == dt.datetime(2024, 1, 1)          # payload ts wins
    assert rows[8].ts == broker_ts                        # broker time fills
    assert None in rows and rows[None].event_type is None  # dead-letter row


def test_kafka_reader_requires_connector(spark):
    """The real reader targets format('kafka'); without the connector jar it
    must surface Spark's missing-data-source error (and with the jar on a
    real cluster the same builder runs unchanged)."""
    import pytest

    from dbfs_spark_cache_spark.streaming import read_kafka_events_stream

    try:
        stream = read_kafka_events_stream(spark, "localhost:9092", "events")
    except Exception as exc:
        assert "DATA_SOURCE_NOT_FOUND" in str(exc) or "Failed to find" in str(exc)
    else:  # pragma: no cover - connector present (real cluster)
        assert stream.isStreaming


def test_fixture_ts_unit(spark):
    """Fixture contract guard (VERDICT r4 #2): the deployed events fixtures'
    physical ts type must be one the loaders handle, and the normalized
    values must land in a sane epoch. When the driver ships a new vintage
    (the round-4 breakage was a silent nanos->us flip), this fails loudly
    with the file and type instead of surfacing as 1970-bucketed windows
    deep inside the streaming parity tests."""
    import datetime as dt

    import pyarrow.parquet as pq

    from dbfs_spark_cache_spark.sources import load_table, normalize_event_ts

    handled = {"timestamp[us]", "timestamp[ns]", "timestamp[us, tz=UTC]"}
    for sf in ("sf0.001", "sf0.01"):
        path = f"{TESTDATA}/{sf}/events.parquet"
        physical = str(pq.read_schema(path).field("ts").type)
        assert physical in handled, (
            f"{path} ships ts as {physical!r}, which no loader branch handles. "
            "Teach sources.normalize_event_ts (and its raw-schema detection) "
            "the new vintage, then extend this allowlist."
        )

    # Batch and streaming normalization must agree and be epoch-sane.
    batch = load_table(spark, SF_SMOKE, "events")
    assert dict(batch.dtypes)["ts"] == "timestamp_ntz"
    lo, hi = batch.agg(F.min("ts"), F.max("ts")).first()
    assert lo.year >= 2000, f"batch ts normalized into {lo} — unit conversion bug"
    assert hi - lo < dt.timedelta(days=10 * 365)

    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    stream_flavor = normalize_event_ts(raw, ntz=False)
    assert dict(stream_flavor.dtypes)["ts"] == "timestamp"
    s_lo = stream_flavor.agg(F.min("ts")).first()[0]
    # Session is pinned UTC, so LTZ and NTZ carry identical wall-clock values.
    assert s_lo == lo, f"stream flavor {s_lo} != batch flavor {lo}"


def test_streaming_gapfill_matches_batch(spark):
    """Windowed-stream hourly counts + batch densify == the batch gap-fill
    operator. The stream owns the stateful aggregation only; densification
    runs over the materialized sink (a gap row has no event to emit it)."""
    from dbfs_spark_cache_spark.operators.timeseries import (
        densify_hourly,
        events_resample_gapfill,
    )
    from dbfs_spark_cache_spark.streaming import (
        hourly_user_counts,
        read_events_stream,
        run_to_memory_sink,
    )

    stream = read_events_stream(spark, SF_SMOKE)
    hourly = run_to_memory_sink(hourly_user_counts(stream), "t_hourly")
    got = {
        (r.user_id, r.bucket): (r.n_events, r.total_value, r.gap_filled)
        for r in densify_hourly(hourly).collect()
    }
    expected = {
        (r.user_id, r.bucket): (r.n_events, r.total_value, r.gap_filled)
        for r in events_resample_gapfill(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert any(g for (_, _, g) in got.values()), "fixture should contain gaps"


def test_streaming_session_windows_match_batch(spark):
    """Native session_window sessions, rolled up per user, must agree with
    the batch lag/cumsum sessionization (same 12 h gap rule)."""
    from dbfs_spark_cache_spark.operators.timeseries import sessionization
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        session_windows,
    )

    stream = read_events_stream(spark, SF_SMOKE)
    sessions = run_to_memory_sink(session_windows(stream), "t_sessions")
    got = {
        (r.user_id): (r.n_sessions, r.n_events)
        for r in sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }
    expected = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in sessionization(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """Duplicate event files delivered as separate micro-batches must
    collapse to the batch-distinct row set: dropDuplicatesWithinWatermark
    suppresses redeliveries while keeping bounded state."""
    import shutil

    from dbfs_spark_cache_spark.sources import normalize_event_ts
    from dbfs_spark_cache_spark.streaming import (
        dedup_events_stream,
        run_to_memory_sink,
    )

    # two identical files => every event delivered twice across batches
    src = f"{SF_SMOKE}/events.parquet"
    stream_dir = tmp_path / "dup_events"
    stream_dir.mkdir()
    shutil.copy(src, stream_dir / "a.parquet")
    shutil.copy(src, stream_dir / "b.parquet")

    raw_schema = spark.read.parquet(str(stream_dir)).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(stream_dir))
    )
    deduped = dedup_events_stream(normalize_event_ts(stream, ntz=False))
    result = run_to_memory_sink(deduped, "t_dedup", output_mode="append")

    n_distinct = spark.read.parquet(src).select("event_id").distinct().count()
    got = result.select("event_id").collect()
    assert len(got) == n_distinct, "duplicates across micro-batches survived"
    assert len({r.event_id for r in got}) == n_distinct


def test_stream_to_catalog_table_sink(spark, tmp_path):
    """foreachBatch catalog sink: the full stream backlog materializes into
    a queryable table with per-batch provenance, and a resumed query (same
    checkpoint) does not re-deliver already-committed batches."""
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        write_stream_to_table,
    )

    table = "stream_sink_events"
    ckpt = str(tmp_path / "ckpt")
    spark.sql(f"DROP TABLE IF EXISTS {table}")

    stream = read_events_stream(spark, SF_SMOKE)
    write_stream_to_table(stream, table, ckpt, await_availability=True)

    n_src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    sunk = spark.table(table)
    assert sunk.count() == n_src
    assert "_batch_id" in sunk.columns

    # resume against the same checkpoint: no new batches, no duplicates
    stream2 = read_events_stream(spark, SF_SMOKE)
    write_stream_to_table(stream2, table, ckpt, await_availability=True)
    assert spark.table(table).count() == n_src
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_near_dup_detection_against_corpus(spark, tmp_path):
    """Incoming documents that near-duplicate the historical corpus must be
    flagged by the stream-static LSH join; genuinely novel documents must
    not. Mirrors the batch planted-dup recall test, but with the dups
    arriving as a stream against the staged corpus index."""
    from dbfs_spark_cache_spark.streaming import (
        corpus_band_index,
        run_to_memory_sink,
        stream_corpus_near_dup_matches,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    # incoming batch: 20 near-copies of corpus docs (~5% token mutation,
    # same recipe as the batch planted-dup tests) + 5 novel docs
    mutated = docs.limit(20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.expr("transform(split(text, ' '), (t, i) -> IF(i % 20 = 0, 'zzzz', t))"),
        ).alias("text"),
    )
    novel = spark.range(5).select(
        (F.col("id") + 2_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.array(*[F.concat(F.lit("novel"), (F.col("id") * 31 + i) % 977) for i in range(40)]),
        ).alias("text"),
    )
    incoming_dir = tmp_path / "incoming"
    mutated.unionByName(novel).write.mode("overwrite").parquet(str(incoming_dir))

    index = corpus_band_index(spark, SF_SMOKE)
    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string")
        .load(str(incoming_dir))
    )
    matches = run_to_memory_sink(
        stream_corpus_near_dup_matches(stream, index), "t_corpus_dedup",
        output_mode="append",
    )
    rows = matches.collect()
    flagged = {r.doc_id for r in rows}
    planted = {i + 1_000_000 for i in range(20)}
    recall = len(flagged & planted) / len(planted)
    assert recall >= 0.8, f"stream near-dup recall {recall}"
    assert not any(d >= 2_000_000 for d in flagged), "novel docs falsely flagged"
    # each planted doc's true source is among its matches (other corpus
    # docs may legitimately collide too — the fixture corpus has high
    # baseline token overlap)
    matched_sources = {}
    for r in rows:
        assert r.est_jaccard >= 0.5
        matched_sources.setdefault(r.doc_id, set()).add(r.corpus_doc_id)
    for d in flagged & planted:
        assert (d - 1_000_000) in matched_sources[d]


def test_normalize_event_ts_vintage_equivalence(spark):
    """The two fixture vintages — LONG nanos (legacy TIMESTAMP(NANOS) under
    nanosAsLong) and native microsecond timestamps — must normalize to the
    SAME instants in both flavors (batch NTZ, streaming LTZ). This is the
    exact divergence that produced the r4 January-1970 streaming bug."""
    import datetime as dt

    from dbfs_spark_cache_spark.sources import normalize_event_ts

    instants = [
        dt.datetime(2024, 3, 1, 12, 30, 45, 123456),
        dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
        dt.datetime(2031, 1, 1, 0, 0, 0, 1),
    ]
    nanos_df = spark.createDataFrame(
        [(i, int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) * 1000)
         for i, t in enumerate(instants)],
        "event_id long, ts long",
    )
    us_df = spark.createDataFrame(
        list(enumerate(instants)), "event_id long, ts timestamp"
    )
    for ntz, want_type in ((True, "timestamp_ntz"), (False, "timestamp")):
        a = normalize_event_ts(nanos_df, ntz=ntz)
        b = normalize_event_ts(us_df, ntz=ntz)
        assert dict(a.dtypes)["ts"] == want_type
        assert dict(b.dtypes)["ts"] == want_type
        va = {r.event_id: r.ts for r in a.collect()}
        vb = {r.event_id: r.ts for r in b.collect()}
        assert va == vb, f"vintages diverge under ntz={ntz}: {va} vs {vb}"
        assert va[0] == instants[0]


def test_stream_stream_interval_join_matches_batch(spark):
    """Two live streams (purchases, views) joined on user + time range must
    produce exactly the batch pair set — the stream-stream interval join
    with watermark-bounded state."""
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        stream_purchase_view_pairs,
    )

    purchases = read_events_stream(spark, SF_SMOKE).where(
        F.col("event_type") == "purchase"
    )
    views = read_events_stream(spark, SF_SMOKE).where(
        F.col("event_type") == "view"
    )
    result = run_to_memory_sink(
        stream_purchase_view_pairs(purchases, views), "t_ss_join",
        output_mode="append",
    )
    got = {(r.purchase_id, r.view_id) for r in result.collect()}

    ev = _batch_events(spark)
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    expected = {
        (r.purchase_id, r.view_id)
        for r in p.join(
            v,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("v_ts") < F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == expected
    assert expected, "fixture should contain purchase/view pairs in horizon"


def test_available_now_incremental_batch(spark, tmp_path):
    """Trigger.AvailableNow: first run drains the current backlog and
    stops; a later run (same checkpoint) picks up ONLY files that arrived
    in between — the scheduled-incremental-batch contract."""
    import shutil
    import time

    from dbfs_spark_cache_spark.streaming import write_stream_to_table

    table = "incr_events"
    ckpt = str(tmp_path / "ckpt")
    src_dir = tmp_path / "arrivals"
    src_dir.mkdir()
    spark.sql(f"DROP TABLE IF EXISTS {table}")

    src = f"{SF_SMOKE}/events.parquet"
    shutil.copy(src, src_dir / "day1.parquet")
    schema = spark.read.parquet(str(src_dir)).schema

    def run_once():
        stream = spark.readStream.format("parquet").schema(schema).load(str(src_dir))
        write_stream_to_table(stream, table, ckpt, available_now=True)

    n_file = spark.read.parquet(src).count()
    run_once()
    assert spark.table(table).count() == n_file

    time.sleep(1.2)  # mtime resolution: day2 must sort after run 1's scan
    shutil.copy(src, src_dir / "day2.parquet")
    run_once()
    sunk = spark.table(table)
    assert sunk.count() == 2 * n_file
    # the second run contributed new batch ids, not re-deliveries
    assert sunk.select("_batch_id").distinct().count() >= 2
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stream_stream_left_outer_join_emits_after_watermark(spark):
    """Left-outer stream-stream join: matched pairs equal the batch inner
    join exactly; never-matched purchases emit null-padded — but ONLY
    those whose event time the final global watermark has passed (a newer
    purchase could still meet a matching view, so it stays in state).
    Pins the eviction boundary, the subtlest outer-join semantic."""
    import datetime

    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        stream_purchase_view_pairs,
    )

    purchases = read_events_stream(spark, SF_SMOKE).where(
        F.col("event_type") == "purchase"
    )
    views = read_events_stream(spark, SF_SMOKE).where(
        F.col("event_type") == "view"
    )
    result = run_to_memory_sink(
        stream_purchase_view_pairs(purchases, views, how="left_outer"),
        "t_ss_left_join",
        output_mode="append",
    )
    rows = result.collect()
    got_pairs = {(r.purchase_id, r.view_id) for r in rows if r.view_id is not None}
    got_unmatched = {r.purchase_id for r in rows if r.view_id is None}

    ev = _batch_events(spark)
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    joined = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") < F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    expected_pairs = {
        (r.purchase_id, r.view_id)
        for r in joined.where(F.col("view_id").isNotNull()).collect()
    }
    unmatched_ts = {
        r.purchase_id: r.p_ts
        for r in joined.where(F.col("view_id").isNull()).collect()
    }

    # Global watermark after draining both (equal-delay) inputs.
    max_p = p.agg(F.max("p_ts")).first()[0]
    max_v = v.agg(F.max("v_ts")).first()[0]
    final_wm = min(max_p, max_v) - datetime.timedelta(hours=2)

    assert got_pairs == expected_pairs
    # Emitted unmatched rows are genuine batch-unmatched purchases, none
    # newer than the final watermark (state still open for those).
    assert got_unmatched <= set(unmatched_ts)
    margin = datetime.timedelta(seconds=1)
    assert all(unmatched_ts[pid] <= final_wm + margin for pid in got_unmatched)
    # Everything safely below the final watermark HAS been flushed.
    must_emit = {pid for pid, ts in unmatched_ts.items() if ts < final_wm - margin}
    assert must_emit, "fixture should contain unmatched purchases below the watermark"
    assert must_emit <= got_unmatched


def test_exactly_once_sink_end_to_end_and_redelivery(spark, tmp_path):
    """The commit-ledger foreachBatch sink: (1) a drained stream's
    committed output equals the batch row set; (2) a redelivered batch id
    short-circuits on its marker — even with different data, output is
    unchanged; (3) a crash between data and marker (partial dir, no
    marker) is invisible to readers and healed by redelivery overwrite."""
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_events_stream,
        read_exactly_once_output,
        write_stream_exactly_once,
    )

    base = str(tmp_path / "eo_out")
    ckpt = str(tmp_path / "eo_ckpt")

    stream = read_events_stream(spark, SF_SMOKE).select(
        "event_id", "user_id", "event_type", "value"
    )
    write_stream_exactly_once(stream, base, ckpt)

    got = read_exactly_once_output(spark, base)
    assert got is not None
    batch = _batch_events(spark).select("event_id", "user_id", "event_type", "value")
    assert got.count() == batch.count()
    assert got.select("event_id").distinct().count() == batch.count()

    # (2) redelivery of a committed id is a no-op, even with other data.
    committed_rows = got.count()
    sink = exactly_once_append_sink(base)
    decoy = batch.limit(5)
    sink(decoy, 0)  # batch 0 already committed by the stream run
    refreshed = read_exactly_once_output(spark, base)
    assert refreshed.count() == committed_rows

    # (3) crash mid-batch: data dir written, marker never committed.
    partial_id = 9999
    decoy.write.mode("overwrite").parquet(f"{base}/batch_id={partial_id}")
    invisible = read_exactly_once_output(spark, base)
    assert invisible.count() == committed_rows  # reader can't see it
    sink(batch.limit(3), partial_id)  # redelivery overwrites + commits
    healed = read_exactly_once_output(spark, base)
    assert healed.count() == committed_rows + 3


def test_commit_ledger_compaction_preserves_exactly_once(spark, tmp_path):
    """Folding per-batch markers into the manifest must not change the
    committed view, must keep redelivery of a folded id a no-op, and must
    keep accepting (and later folding) new batches."""
    from dbfs_spark_cache_spark.streaming import (
        compact_commit_ledger,
        exactly_once_append_sink,
        read_events_stream,
        read_exactly_once_output,
        write_stream_exactly_once,
    )

    base = str(tmp_path / "eo_out")
    ckpt = str(tmp_path / "eo_ckpt")
    stream = read_events_stream(spark, SF_SMOKE).select(
        "event_id", "user_id", "event_type", "value"
    )
    write_stream_exactly_once(stream, base, ckpt)
    before = read_exactly_once_output(spark, base).count()
    assert before > 0

    folded = compact_commit_ledger(base)
    assert folded >= 1
    ledger_files = sorted(os.listdir(f"{base}/_committed"))
    # every marker folded; the schema record and the checkpoint-owner
    # stamp are ledger metadata, not markers
    assert ledger_files == ["_owner.txt", "_schema.json", "manifest.txt"]
    assert read_exactly_once_output(spark, base).count() == before

    # Redelivery of a folded id: still a no-op (manifest consulted).
    sink = exactly_once_append_sink(base)
    sink(_batch_events(spark).select("event_id", "user_id", "event_type", "value").limit(7), 0)
    assert read_exactly_once_output(spark, base).count() == before

    # A genuinely new batch still lands, and the next compaction folds it.
    sink(_batch_events(spark).select("event_id", "user_id", "event_type", "value").limit(4), 555)
    assert read_exactly_once_output(spark, base).count() == before + 4
    assert compact_commit_ledger(base) == 1
    assert sorted(os.listdir(f"{base}/_committed")) == ["_owner.txt", "_schema.json", "manifest.txt"]
    assert read_exactly_once_output(spark, base).count() == before + 4
    # Idempotent when nothing new to fold.
    assert compact_commit_ledger(base) == 0


def test_exactly_once_sink_incremental_second_drain(spark, tmp_path):
    """AvailableNow + the exactly-once sink across two scheduled runs: the
    second drain (same checkpoint) lands ONLY the files that arrived in
    between, in NEW batch directories — earlier committed batches are
    untouched (same ids, same content)."""
    import shutil
    import time

    from dbfs_spark_cache_spark.streaming import (
        read_exactly_once_output,
        write_stream_exactly_once,
    )

    base = str(tmp_path / "eo_incr")
    ckpt = str(tmp_path / "eo_incr_ckpt")
    src_dir = tmp_path / "arrivals"
    src_dir.mkdir()
    src = f"{SF_SMOKE}/events.parquet"
    shutil.copy(src, src_dir / "day1.parquet")
    schema = spark.read.parquet(str(src_dir)).schema

    def run_once():
        stream = (
            spark.readStream.format("parquet").schema(schema).load(str(src_dir))
        )
        write_stream_exactly_once(stream, base, ckpt)

    n_file = spark.read.parquet(src).count()
    run_once()
    first_ids = sorted(
        int(f[: -len(".txt")])
        for f in os.listdir(f"{base}/_committed")
        if f.endswith(".txt") and f[: -len(".txt")].isdigit()
    )
    assert read_exactly_once_output(spark, base).count() == n_file

    time.sleep(1.2)  # mtime resolution: day2 must sort after run 1's scan
    shutil.copy(src, src_dir / "day2.parquet")
    run_once()
    second_ids = sorted(
        int(f[: -len(".txt")])
        for f in os.listdir(f"{base}/_committed")
        if f.endswith(".txt") and f[: -len(".txt")].isdigit()
    )
    assert read_exactly_once_output(spark, base).count() == 2 * n_file
    assert set(first_ids) < set(second_ids)  # old ids intact, new ids added
    assert max(second_ids) > max(first_ids)


def test_exactly_once_sink_many_microbatches(spark, tmp_path):
    """Rate-limited trigger: N source files drain as N micro-batches, each
    landing in its own committed batch directory — row parity with batch,
    a marker per batch, and compaction folds the whole ledger at once."""
    import shutil

    from dbfs_spark_cache_spark.streaming import (
        compact_commit_ledger,
        read_exactly_once_output,
        write_stream_exactly_once,
    )

    src_dir = tmp_path / "multi"
    src_dir.mkdir()
    src = f"{SF_SMOKE}/events.parquet"
    for i in range(4):
        shutil.copy(src, src_dir / f"part{i}.parquet")
    schema = spark.read.parquet(str(src_dir)).schema

    base = str(tmp_path / "eo_multi")
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src_dir))
    )
    write_stream_exactly_once(stream, base, str(tmp_path / "eo_multi_ckpt"))

    markers = [
        f
        for f in os.listdir(f"{base}/_committed")
        if f.endswith(".txt") and f[: -len(".txt")].isdigit()
    ]
    assert len(markers) == 4  # one committed batch per file
    n_file = spark.read.parquet(src).count()
    assert read_exactly_once_output(spark, base).count() == 4 * n_file
    assert compact_commit_ledger(base) == 4
    assert read_exactly_once_output(spark, base).count() == 4 * n_file


def test_stateful_session_flush_matches_batch_sessions(spark):
    """Timeout-flushed sessions equal the batch gap-sessionization exactly
    for every session the final watermark could close; sessions whose
    timeout lies beyond it stay open (never emitted). Pins the event-time
    timeout semantics of applyInPandasWithState."""
    import datetime

    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        stateful_session_flush,
    )

    stream = read_events_stream(spark, SF_SMOKE)
    result = run_to_memory_sink(
        stateful_session_flush(stream), "t_session_flush", output_mode="append"
    )
    got = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in result.collect()
    }

    # Batch twin: same 12h-gap sessions via lag + cumulative flag.
    from pyspark.sql import Window as W

    ev = _batch_events(spark).select("user_id", "ts")
    w = W.partitionBy("user_id").orderBy("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 12 HOURS")),
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("new_session").over(w))
    sessions = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in flagged.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }

    max_ts = ev.agg(F.max("ts")).first()[0]
    final_wm = max_ts - datetime.timedelta(hours=2)
    gap = datetime.timedelta(hours=12)
    margin = datetime.timedelta(seconds=1)

    # Everything emitted is a genuine batch session, closeable by the wm.
    assert set(got) <= set(sessions)
    assert all(got[k] == sessions[k] for k in got)
    assert all(k[2] + gap <= final_wm + margin for k in got)
    # Every safely-closeable session HAS been flushed.
    must_flush = {
        k for k in sessions if k[2] + gap < final_wm - margin
    }
    assert must_flush, "fixture should contain closeable sessions"
    assert must_flush <= set(got)


def test_progress_collector_reports_rows_and_state(spark):
    """The listener sees every micro-batch: input-row totals equal the
    source row count, and a stateful query reports nonzero state rows —
    the state-growth signal a mis-set watermark shows up in."""
    import time

    from dbfs_spark_cache_spark.streaming import (
        attach_progress_collector,
        read_events_stream,
        run_to_memory_sink,
        running_user_totals,
    )

    records, listener = attach_progress_collector(spark)
    try:
        stream = read_events_stream(spark, SF_SMOKE)
        run_to_memory_sink(running_user_totals(stream), "t_progress")
        n_events = _batch_events(spark).count()
        n_users = _batch_events(spark).select("user_id").distinct().count()

        deadline = time.time() + 15
        while time.time() < deadline:
            data_batches = [r for r in records if r["num_input_rows"] > 0]
            if sum(r["num_input_rows"] for r in data_batches) >= n_events:
                break
            time.sleep(0.2)

        assert sum(r["num_input_rows"] for r in data_batches) == n_events
        assert max(r["state_rows"] for r in records) == n_users
        assert all(r["trigger_ms"] is not None for r in records)
    finally:
        spark.streams.removeListener(listener)


def test_stateful_session_flush_across_microbatches(spark, tmp_path):
    """Sessions that SPAN micro-batches: events split into two time-halves
    delivered as separate batches must produce the same flushed sessions
    as the single-batch delivery — state carries the open session across
    the batch boundary instead of closing it at the split."""
    from dbfs_spark_cache_spark.sources import normalize_event_ts
    from dbfs_spark_cache_spark.streaming import (
        run_to_memory_sink,
        stateful_session_flush,
    )

    ev = _batch_events(spark).select("user_id", "ts")
    mid = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    src = tmp_path / "halves"
    # Lexicographic file order must match time order: the file source lists
    # a directory's files by modification time per batch; write halves as
    # separate dirs and stream the parent so half_a lands first.
    ev.where(F.col("ts") <= mid).coalesce(1).write.parquet(f"{src}/h=a")
    ev.where(F.col("ts") > mid).coalesce(1).write.parquet(f"{src}/h=b")
    # Pin delivery order: the file source processes oldest-mtime first, and
    # back-to-back writes can land inside one mtime granule.
    import os as _os
    import time as _time

    now = _time.time()
    for half, age in (("h=a", 60), ("h=b", 0)):
        for root, _, files in _os.walk(f"{src}/{half}"):
            for f in files:
                _os.utime(_os.path.join(root, f), (now - age, now - age))

    schema = spark.read.parquet(f"{src}/h=a").schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .load(str(src))
    )
    stream = normalize_event_ts(stream, ntz=False)
    result = run_to_memory_sink(
        stateful_session_flush(stream), "t_session_split", output_mode="append"
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in result.collect()
    }

    whole = run_to_memory_sink(
        stateful_session_flush(
            normalize_event_ts(
                spark.readStream.format("parquet").schema(schema).load(str(src)),
                ntz=False,
            )
        ),
        "t_session_whole",
        output_mode="append",
    )
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in whole.collect()
    }
    assert got == expected
    assert expected, "fixture should flush at least one session"


def test_validated_sink_quarantines_invalid_rows(spark, tmp_path):
    """The quality-gated sink: clean rows commit, invalid rows (including
    NULL predicate results — not-TRUE semantics) land in quarantine, the
    marker records the audit count, and redelivery stays a no-op."""
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_events_stream,
        read_exactly_once_output,
    )

    base = str(tmp_path / "gated")
    stream = read_events_stream(spark, SF_SMOKE).select(
        "event_id", "user_id", "event_type", "value"
    )
    sink = exactly_once_append_sink(base, valid=F.col("value") >= 20)
    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "gated_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    ev = _batch_events(spark)
    n_clean = ev.where("value >= 20").count()
    n_bad = ev.where("value < 20 OR value IS NULL").count()
    assert n_clean and n_bad, "predicate must split the fixture both ways"
    assert read_exactly_once_output(spark, base).count() == n_clean
    q = spark.read.parquet(f"{base}/_quarantine/batch_id=0")
    assert q.count() == n_bad
    marker = open(f"{base}/_committed/0.txt").read()
    assert f"quarantined: {n_bad}" in marker

    # Redelivery of the committed id: untouched output, no double writes.
    sink(ev.limit(3).select("event_id", "user_id", "event_type", "value"), 0)
    assert read_exactly_once_output(spark, base).count() == n_clean


def test_read_quarantine_returns_committed_bad_rows(spark, tmp_path):
    """read_quarantine surfaces exactly the gated-out rows of committed
    batches, and returns None for a sink with no quarantined data."""
    from dbfs_spark_cache_spark.streaming import (
        exactly_once_append_sink,
        read_events_stream,
        read_quarantine,
    )

    base = str(tmp_path / "gated2")
    stream = read_events_stream(spark, SF_SMOKE).select("event_id", "value")
    sink = exactly_once_append_sink(base, valid=F.col("value") >= 20)
    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "gated2_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    q = read_quarantine(spark, base)
    assert q is not None
    assert q.count() == _batch_events(spark).where("value < 20").count()
    assert q.where("value >= 20").count() == 0

    clean_base = str(tmp_path / "gated3")
    sink_all = exactly_once_append_sink(clean_base, valid=F.lit(True))
    (
        read_events_stream(spark, SF_SMOKE).select("event_id", "value")
        .writeStream.foreachBatch(sink_all)
        .option("checkpointLocation", str(tmp_path / "gated3_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert read_quarantine(spark, clean_base) is None


def test_robust_outlier_stream_matches_batch(spark, clean_cache):
    """Stream-static MAD screen parity: streaming the events table against
    its own staged baseline must flag EXACTLY the rows a pure-batch
    computation of the same screen flags, with identical MAD-unit scores.
    Also pins the degenerate contract: a constant-history type (MAD 0)
    flags any deviation with a NULL score instead of Infinity."""
    from dbfs_spark_cache_spark.operators.scale import grouped_exact_median
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        robust_outlier_baseline,
        robust_outlier_stream,
        run_to_memory_sink,
    )

    baseline = robust_outlier_baseline(spark, SF_SMOKE)
    # batch twin of the screen, straight from the same baseline
    ev = _batch_events(spark).where(F.col("value").isNotNull())
    dev = F.abs(F.col("value") - F.col("median_value"))
    expected = {
        (r.event_id, r.score)
        for r in ev.join(baseline, "event_type")
        .where(dev > 3.0 * F.col("mad"))
        .select(
            "event_id",
            F.when(F.col("mad") > 0, F.round(dev / F.col("mad"), 4)).alias(
                "score"
            ),
        )
        .collect()
    }

    flagged = run_to_memory_sink(
        robust_outlier_stream(read_events_stream(spark, SF_SMOKE), baseline),
        "t_robust_outliers",
        output_mode="append",
    )
    got = {(r.event_id, r.score) for r in flagged.collect()}
    assert got == expected
    assert expected, "fixture produced no outliers — screen untested"

    # Degenerate contracts on a hand-built baseline: a constant-history
    # type (MAD 0) flags any deviation with a NULL score; a type the
    # baseline never saw flags by default (an unseen type IS the anomaly)
    # and drops only when explicitly asked to.
    const_baseline = spark.createDataFrame(
        [("steady", 5.0, 0.0)], "event_type string, median_value double, mad double"
    )
    probe = spark.createDataFrame(
        [
            (1, None, 1, "steady", 5.0),
            (2, None, 2, "steady", 5.1),
            (3, None, 3, "never_seen", 1e9),
            (4, None, 4, "never_seen", None),  # NULL value: never flags
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    rows = robust_outlier_stream(probe, const_baseline).collect()
    assert sorted((r.event_id, r.score) for r in rows) == [(2, None), (3, None)]
    dropped = robust_outlier_stream(
        probe, const_baseline, flag_unknown_types=False
    ).collect()
    assert [(r.event_id, r.score) for r in dropped] == [(2, None)]


def test_stateful_session_flush_late_event_never_regresses_span(spark, tmp_path):
    """A within-watermark LATE event arriving in a later micro-batch must
    not shrink the open session: the span clamps (start=min, end=max) and
    the timeout stays armed past the true last event. Before the clamp,
    plain assignment regressed session_end below an event the session
    already contained and flushed the session gap-early."""
    import datetime as dt
    import os as _os
    import time as _time

    from dbfs_spark_cache_spark.streaming import (
        run_to_memory_sink,
        stateful_session_flush,
    )

    base = dt.datetime(2026, 1, 1, 9, 0, 0)

    def frame(rows):
        return spark.createDataFrame(rows, "user_id long, ts timestamp")

    src = tmp_path / "late"
    # batch 1: 09:00 and 10:00; batch 2: a LATE 09:30 (within the 2h
    # watermark) plus a 23:30 event that closes the session by gap (12h
    # after 10:00) and a next-day probe to push the watermark past the
    # session timeout so it flushes.
    frame([(1, base), (1, base + dt.timedelta(hours=1))]).coalesce(1).write.parquet(f"{src}/b=1")
    frame(
        [
            (1, base + dt.timedelta(minutes=30)),
            (1, base + dt.timedelta(hours=14, minutes=30)),
            (1, base + dt.timedelta(hours=40)),
        ]
    ).coalesce(1).write.parquet(f"{src}/b=2")
    now = _time.time()
    for half, age in (("b=1", 60), ("b=2", 0)):
        for root, _, files in _os.walk(f"{src}/{half}"):
            for f in files:
                _os.utime(_os.path.join(root, f), (now - age, now - age))

    schema = spark.read.parquet(f"{src}/b=1").schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .load(str(src))
    )
    result = run_to_memory_sink(
        stateful_session_flush(stream), "t_session_late", output_mode="append"
    )
    flushed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in result.collect()
    }
    # The first session holds 09:00, 09:30 (late), 10:00 — end must be
    # 10:00, NOT the regressed 09:30 of the pre-clamp behavior.
    assert (1, base, base + dt.timedelta(hours=1), 3) in flushed, flushed


def test_growing_corpus_dedup_catches_cross_batch_dups(spark, tmp_path):
    """The growing-index ingest dedup: batch 1's near-dup of a CORPUS doc
    is caught; batch 2's near-dup of a doc that arrived IN BATCH 1 (never
    in the corpus) is caught ONLY because the index grew; novel docs are
    never flagged; redelivery of a committed batch id is a no-op on both
    sinks; and a crash-heal redelivery recomputes the identical match set
    (the index read excludes the batch's own rows)."""
    import glob
    import time

    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        growing_corpus_dedup_sink,
        read_exactly_once_output,
    )

    corpus = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(10)
    corpus_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    index = corpus_band_index_frame(corpus)

    def mutate(df, new_id_col, every=20):
        return df.select(
            new_id_col.alias("doc_id"),
            F.concat_ws(
                " ",
                F.expr(
                    f"transform(split(text, ' '), (t, i) -> "
                    f"IF(i % {every} = 0, 'zzzz', t))"
                ),
            ).alias("text"),
        )

    novel1 = spark.range(1).select(
        F.lit(1_000_002).alias("doc_id"),
        F.concat_ws(
            " ", F.array(*[F.lit(f"novelone{i * 7 % 977}") for i in range(60)])
        ).alias("text"),
    )
    novel2 = spark.range(1).select(
        F.lit(1_000_004).alias("doc_id"),
        F.concat_ws(
            " ", F.array(*[F.lit(f"noveltwo{i * 11 % 983}") for i in range(60)])
        ).alias("text"),
    )
    # near-exact copy (one token changed) so the single planted corpus
    # dup collides deterministically — the probabilistic-recall shape is
    # already covered by test_stream_near_dup_detection_against_corpus
    batch1 = mutate(
        corpus.orderBy("doc_id").limit(1), F.lit(1_000_001), every=997
    ).unionByName(novel1)
    # near-exact again (the every=10 variant sat near the 0.5 estimate
    # threshold, where the MinHash estimate — and hence the pass/fail —
    # flips with the resolved hash family; the full suite runs under
    # SPARK_GRAFT_HASH_FAMILY=portable via the hostile-probe imports,
    # standalone runs under the xxhash64 default)
    batch2 = mutate(novel1, F.lit(1_000_003), every=997).unionByName(novel2)

    # Two scheduled drains over the SAME checkpoint (the incremental
    # pattern test_exactly_once_sink_incremental_second_drain pins) — the
    # guaranteed batch separation the growing index needs; a single
    # availableNow run may legally coalesce files into one micro-batch.
    src = str(tmp_path / "ingest")
    base = str(tmp_path / "grow")
    ckpt = str(tmp_path / "grow_ckpt")
    sink = growing_corpus_dedup_sink(base, index, threshold=0.5)

    def drain():
        stream = (
            spark.readStream.format("parquet")
            .schema("doc_id long, text string")
            .load(src)
        )
        (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    batch1.coalesce(1).write.parquet(f"{src}/b=1")
    drain()
    time.sleep(1.1)  # file-source mtime granularity between drains
    batch2.coalesce(1).write.parquet(f"{src}/b=2")
    drain()

    matches = read_exactly_once_output(spark, f"{base}/matches")
    rows = matches.collect()
    by_doc = {}
    for r in rows:
        assert r.est_jaccard >= 0.5
        by_doc.setdefault(r.doc_id, set()).add(r.corpus_doc_id)
    # batch 1's planted dup matched its corpus source
    assert by_doc.get(1_000_001, set()) & corpus_ids
    # batch 2's dup-of-an-INGESTED-doc matched it — only the grown index
    # can produce this pair
    assert by_doc.get(1_000_003) == {1_000_002}
    # novel docs never flagged
    assert 1_000_002 not in by_doc and 1_000_004 not in by_doc

    # the index grew: both batches' band rows are committed
    ingested = read_exactly_once_output(
        spark, f"{base}/index", include_batch_id=True
    )
    assert {r.batch_id for r in ingested.select("batch_id").distinct().collect()} == {0, 1}

    # redelivery of a committed id (decoy data): both sinks no-op
    n_matches, n_index = matches.count(), ingested.count()
    sink(batch2.limit(1), 0)
    assert read_exactly_once_output(spark, f"{base}/matches").count() == n_matches
    assert read_exactly_once_output(
        spark, f"{base}/index", include_batch_id=True
    ).count() == n_index

    # crash-heal: drop batch 1's MATCH marker (index stays committed) and
    # redeliver the original batch — the identical match set recomputes
    # because the index read excludes the batch's own rows
    before = {
        (r.doc_id, r.corpus_doc_id, r.est_jaccard)
        for r in spark.read.parquet(
            glob.glob(f"{base}/matches/batch_id=1")[0]
        ).collect()
    }
    os.remove(f"{base}/matches/_committed/1.txt")
    # redeliver with the STREAM's schema (doc_id long — the raw file
    # carries int32; the committed readers rightly refuse a type drift)
    sink(
        spark.read.parquet(f"{src}/b=2").select(
            F.col("doc_id").cast("long"), "text"
        ),
        1,
    )
    after = {
        (r.doc_id, r.corpus_doc_id, r.est_jaccard)
        for r in spark.read.parquet(f"{base}/matches/batch_id=1").collect()
    }
    assert after == before
    assert read_exactly_once_output(spark, f"{base}/matches").count() == n_matches


def test_streaming_dedup_null_text_contract(spark, tmp_path):
    """The r10 'nulls' class in the streaming path (which the file-based
    lenses cannot reach): unfiltered NULL-text docs all sign the SAME
    empty-shingle signature, so every NULL pairs with every other NULL —
    quadratic false matches on a NULL-heavy ingest. Both streaming dedup
    paths now apply the batch heads' NULL-text contract: NULL docs
    neither match, nor enter the growing index, nor crash the pass."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        growing_corpus_dedup_sink,
        read_exactly_once_output,
        run_to_memory_sink,
        stream_corpus_near_dup_matches,
    )

    corpus = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(5)
    index = corpus_band_index_frame(corpus.where(F.col("text").isNotNull()))

    # two NULL-text arrivals + one real near-exact corpus copy
    dup = corpus.orderBy("doc_id").limit(1).select(
        F.lit(3_000_000).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzz")).alias("text"),
    )
    nulls = spark.createDataFrame(
        [(3_000_001, None), (3_000_002, None)], "doc_id long, text string"
    )
    src = str(tmp_path / "null_ingest")
    dup.unionByName(nulls).coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string")
        .load(src)
    )
    matches = run_to_memory_sink(
        stream_corpus_near_dup_matches(stream, index),
        "t_null_dedup",
        output_mode="append",
    )
    flagged = {r.doc_id for r in matches.collect()}
    assert 3_000_000 in flagged
    assert not flagged & {3_000_001, 3_000_002}

    # growing sink: NULL docs produce no matches and no index rows
    base = str(tmp_path / "null_grow")
    sink = growing_corpus_dedup_sink(base, index)
    sink(nulls, 0)
    sink(nulls, 1)  # a second NULL batch must not match the first
    m = read_exactly_once_output(spark, f"{base}/matches")
    assert m is not None and m.count() == 0
    idx = read_exactly_once_output(spark, f"{base}/index")
    assert idx is not None and idx.count() == 0


def test_outlier_baseline_survives_nonfinite_history(spark, tmp_path, clean_cache):
    """The r11 nonfinite class in the streaming baseline (r14 review —
    the batch twin events_anomaly_mad gates finite values, this twin had
    only the NULL half): an Inf reading in the history made the banded
    median's bucket step infinite. The baseline now excludes non-finite
    readings and still serves every event type."""
    import shutil

    import numpy as np
    import pandas as pd

    from dbfs_spark_cache_spark.streaming import robust_outlier_baseline

    sf = str(tmp_path / "nf_sf")
    os.makedirs(sf, exist_ok=True)
    for name in ("events",):
        pdf = pd.read_parquet(f"{SF_SMOKE}/{name}.parquet")
        poison = pdf.head(3).copy()
        poison["event_id"] = [9_000_001, 9_000_002, 9_000_003]
        poison["value"] = [np.inf, -np.inf, np.nan]
        pd.concat([pdf, poison], ignore_index=True).to_parquet(
            f"{sf}/{name}.parquet"
        )
    shutil.copy(f"{SF_SMOKE}/documents.parquet", f"{sf}/documents.parquet")

    baseline = robust_outlier_baseline(spark, sf)
    rows = baseline.collect()
    types = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type"
    ).distinct().count()
    assert len(rows) == types
    for r in rows:
        assert np.isfinite(r.median_value) and np.isfinite(r.mad), r


def test_streaming_aggs_survive_nonfinite_values(spark, tmp_path):
    """The r13 batch finite gates, applied to the streaming twins (r14
    review): a NaN/Inf reading crashed or poisoned the streaming decimal
    sums and made running_user_totals' state Inf for the rest of the
    stream. Poisoned rows are excluded; clean rows aggregate exactly."""
    import math

    from dbfs_spark_cache_spark.streaming import (
        run_to_memory_sink,
        running_user_totals,
        tumbling_counts,
    )

    # TRUE NaN/Inf via direct pyarrow arrays — a pandas round-trip would
    # store NULL instead (nan_as_null; the r11 nonfinite-lens lesson)
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "user_id": pa.array([1, 1, 1, 1], pa.int64()),
            "event_type": pa.array(["view"] * 4),
            "value": pa.array(
                [10.0, float("inf"), float("nan"), 5.0], pa.float64()
            ),
            "ts": pa.array(
                [1717236000000000 + i * 600_000_000 for i in range(4)],
                pa.timestamp("us"),
            ),
        }
    )
    src = str(tmp_path / "nf_stream")
    os.makedirs(src, exist_ok=True)
    pq.write_table(t, f"{src}/part-0.parquet")

    stream = (
        spark.readStream.format("parquet")
        .schema("event_id long, user_id long, event_type string, "
                "value double, ts timestamp")
        .load(src)
    )
    out = run_to_memory_sink(
        tumbling_counts(stream, window="1 hour", watermark="1 hour"),
        "t_nf_tumble",
        output_mode="complete",
    )
    r = out.collect()
    assert len(r) == 1
    assert r[0].n_events == 2 and r[0].total_value == 15.0

    stream2 = (
        spark.readStream.format("parquet")
        .schema("event_id long, user_id long, event_type string, "
                "value double, ts timestamp")
        .load(src)
    )
    totals = run_to_memory_sink(
        running_user_totals(stream2), "t_nf_running", output_mode="update"
    )
    t = totals.collect()
    assert len(t) == 1
    assert t[0].n_events == 2
    assert math.isfinite(t[0].total_value) and t[0].total_value == 15.0


# ---------------------------------------------------------------------------
# Fold coverage and path identity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_truncate_refuses_another_sinks_fold(spark, tmp_path):
    """The fold's own marker is its one coverage record: it names the
    sink it folded (``base=``) and the ledger ids it absorbed (``ids=``),
    and no stamp is left in the ledger. Another sink with the same batch
    ids is not covered by it."""
    from dbfs_spark_cache_spark.operators.dedup import corpus_band_index_frame
    from dbfs_spark_cache_spark.streaming import (
        fold_growing_index,
        growing_corpus_dedup_sink,
        truncate_growing_index,
    )

    corpus_index = corpus_band_index_frame(
        _docs(spark, [(1, "static corpus document text")])
    )
    base_a, base_b = str(tmp_path / "grow_a"), str(tmp_path / "grow_b")
    out = str(tmp_path / "folded")
    growing_corpus_dedup_sink(base_a, corpus_index)(
        _docs(spark, [(2, "first sink document body")]), 0
    )
    growing_corpus_dedup_sink(base_b, corpus_index)(
        _docs(spark, [(3, "second sink document body")]), 0
    )
    fold_growing_index(spark, base_b, out)

    with open(f"{out}/_FOLDED_OK") as fh:
        marker = fh.read().splitlines()
    assert f"base={base_b}" in marker and "ids=0" in marker
    ledger = sorted(os.listdir(f"{base_b}/index/_committed"))
    assert ledger == ["0.txt", "_schema.json"]  # no stamp beside the markers

    with pytest.raises(RuntimeError, match="not covered"):
        truncate_growing_index(base_a, out)
    assert truncate_growing_index(base_b, out) is True


def test_fold_containment_resolves_relative_paths(tmp_path, monkeypatch):
    """A relative path is resolved against the working directory before
    the containment check: ``a`` is an ancestor of ``<cwd>/a/sink``, so
    the fold swap's ``remove("a")`` would delete the sink tree."""
    from dbfs_spark_cache_spark.streaming import _check_fold_containment

    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="lives under fold out_path"):
        _check_fold_containment("a", f"{tmp_path}/a/sink")
    with pytest.raises(ValueError, match="under the sink base"):
        _check_fold_containment(f"{tmp_path}/a/sink/out", "a/sink")
    _check_fold_containment("folds/out", f"{tmp_path}/a/sink")


def test_claim_accepts_doubled_slash_and_dot_segment_spellings(tmp_path):
    from dbfs_spark_cache_spark.streaming import claim_sink_checkpoint

    base = str(tmp_path / "sink")
    claim_sink_checkpoint(base, f"{tmp_path}/x/ckpt")
    for same in ("x//ckpt", "x/./ckpt", "x/y/../ckpt"):
        claim_sink_checkpoint(base, f"{tmp_path}/{same}")
    with pytest.raises(ValueError, match="already belongs"):
        claim_sink_checkpoint(base, f"{tmp_path}/x/other")
