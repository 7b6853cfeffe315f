"""Structured Streaming surface.

The reference is batch-only (its persistent cache substitutes for
recomputation); this module is the [NS] streaming extension. Each builder
takes a *streaming* DataFrame (``spark.readStream``) and returns the
transformed streaming frame; sinks are the caller's choice. The batch
twins in ``operators.timeseries`` share the same expressions — one oracle
covers both.

Local testing drives these with the parquet file source + a ``memory``
sink and ``processAllAvailable()`` (see tests/test_streaming.py). On a
real cluster the same code runs against Kafka/object-store sources with
checkpointing; watermarks bound state so 100 TB/day streams hold steady.
"""
from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    """File-source stream over the events table (one parquet = one batch).

    The file source needs an explicit schema; rather than hard-code one
    fixture vintage's physical ts type (an unconditional nanos
    ``div 1000`` against ``timestamp[us]`` fixtures puts every event in
    January 1970), take the RAW schema a batch
    read surfaces for the same file — LONG under the nanosAsLong legacy
    conf for TIMESTAMP(NANOS) fixtures, a native timestamp column for
    ``timestamp[us]`` — and normalize through the same shared helper the
    batch loader uses (``sources.normalize_event_ts``), streaming flavor
    (TIMESTAMP_LTZ: watermarks reject NTZ event time; session pinned UTC
    so values align with the batch loader's NTZ output).
    """
    from ..sources import _load_raw, normalize_event_ts

    path = f"{sf_dir}/events.parquet"
    # The RAW schema, from the batch loader's schema memo (no inference
    # job on a hit), with its TIMESTAMP(NANOS) self-heal (sets
    # nanosAsLong on sessions built outside get_spark). Not load_table's
    # normalized schema: declaring ntz against a physical INT64-nanos
    # column fails the read, and would starve the normalize_event_ts call
    # below of the bigint it knows how to heal.
    raw_schema = _load_raw(spark, sf_dir, "events").schema
    reader = spark.readStream.format("parquet").schema(raw_schema)
    # Layout detection: ``events.parquet`` is a single FILE in the
    # driver fixtures but a DIRECTORY of part files in the standard Spark
    # writer layout. The file source wants a directory, so the single-file
    # layout streams the PARENT filtered down to the file — but applying
    # that same glob to the directory layout matches ZERO leaf files
    # (they are named part-*), yielding a silently EMPTY stream, the
    # worst possible failure mode. A directory streams directly instead.
    from .. import fs as _fs

    entries = _fs.list_dir(path)
    single_file = (
        len(entries) == 1
        and not entries[0].is_dir
        and entries[0].name == "events.parquet"
    )
    if single_file:
        reader = reader.option("pathGlobFilter", "events.parquet")
        load_target = sf_dir
    else:
        load_target = path
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.load(load_target), ntz=False)


def read_rate_events_stream(
    spark: SparkSession,
    rows_per_second: int = 1000,
    n_users: int = 100,
    n_event_types: int = 4,
) -> DataFrame:
    """Unbounded-source stream with the events schema, built on Spark's
    ``rate`` source — the in-box stand-in for a Kafka/Kinesis feed (swap
    ``format("rate")`` for ``format("kafka")`` + ``from_json(value)`` on a
    real cluster; every downstream builder in this module is source-agnostic).

    Columns are derived deterministically from the tick value, so the same
    micro-batch always carries the same rows — useful for replayable local
    tests of genuinely unbounded (not file-replay) execution.
    """
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()  # schema: timestamp timestamp, value long
    )
    # Named types for the common residues, generated names beyond them:
    # asking for n_event_types distinct values must yield exactly that
    # many (the former hard-coded 3-name list silently collapsed residues
    # 4+ onto "other", doubling its frequency in replayable test data).
    names = ["view", "click", "purchase", "scroll"]
    names += [f"type{i}" for i in range(len(names), n_event_types)]
    type_branches = F.when(F.col("value") % n_event_types == 0, F.lit(names[0]))
    for i, name in enumerate(names[1:n_event_types], 1):
        type_branches = type_branches.when(
            F.col("value") % n_event_types == i, F.lit(name)
        )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % n_users).alias("user_id"),
        type_branches.otherwise("other").alias("event_type"),
        (F.pmod(F.col("value") * 37, F.lit(1000)) / 10.0).alias("value"),
        F.to_json(F.struct(F.col("value").alias("tick"))).alias("props"),
    )


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka record frame -> typed events frame (EVENTS_SCHEMA).

    Takes the frame shape Kafka's source emits (``key``/``value`` binary,
    ``topic``, ``partition``, ``offset``, ``timestamp``) and JSON-decodes
    ``value`` into the events schema. Malformed records surface as NULL
    struct fields rather than killing the stream (from_json's PERMISSIVE
    default) — route ``event_id IS NULL`` rows to a dead-letter sink in
    production. Separated from the reader so the parse logic is unit-
    testable without a broker or the kafka connector jar: any batch frame
    with the same columns exercises the identical expressions.
    """
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), EVENTS_SCHEMA).alias("e"),
        F.col("timestamp").alias("kafka_ts"),
    )
    return parsed.select(
        F.col("e.event_id").alias("event_id"),
        # broker receive time stands in when the payload carries no ts
        F.coalesce(F.col("e.ts"), F.col("kafka_ts")).alias("ts"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
        F.col("e.props").alias("props"),
    )


def read_kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "events",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: Optional[int] = None,
) -> DataFrame:
    """The real unbounded source: ``format("kafka")`` -> JSON value decode
    into EVENTS_SCHEMA via :func:`parse_kafka_events`.

    Requires the spark-sql-kafka connector on the classpath (not present
    in this sandbox — the builder raises Spark's DATA_SOURCE_NOT_FOUND
    there; tests cover the parse stage with a batch frame instead).
    ``maxOffsetsPerTrigger`` is the 100 TB/day throttle: it bounds each
    micro-batch so state growth and shuffle sizing stay predictable, and
    with watermarked downstream aggregations (tumbling_counts etc.) the
    whole pipeline holds steady-state memory regardless of topic backlog.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return parse_kafka_events(reader.load())


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of
    operators.timeseries.window_tumbling, including its bad-telemetry
    gate: non-finite readings are excluded exactly like the batch twin —
    a NaN/Inf value would crash the ANSI decimal sum or poison it, per
    micro-batch. NULL-value rows stay (count counts
    them, sum skips them — three-valued semantics, same as batch)."""
    from ..operators.registry import finite_or_null

    return (
        events.where(finite_or_null("value"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    """Watermarked sliding-window aggregation (twin of window_sliding,
    including its finite gate — see tumbling_counts)."""
    from ..operators.registry import finite_or_null

    return (
        events.where(finite_or_null("value"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "n_events", "total_value")
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming exact deduplication on the event key — the stream twin of
    the batch dedup family: at-least-once sources (Kafka redeliveries,
    file-source replays, producer retries) become exactly-once rows.

    ``dropDuplicatesWithinWatermark`` keeps one row per event_id and, unlike
    plain ``dropDuplicates``, BOUNDS the dedup state: keys older than the
    watermark are evicted, so state holds ~(event rate x watermark) keys
    regardless of stream length — the property that keeps this viable on a
    100 TB/day feed. Duplicates arriving within the watermark of the
    original are dropped; later than that they are out of contract (size
    the watermark to the source's redelivery horizon).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def hourly_user_counts(
    events: DataFrame, watermark: str = "2 hours", max_user_id: int = 20
) -> DataFrame:
    """Per-user hourly aggregation — the streaming front half of the batch
    gap-fill operator (operators.timeseries.events_resample_gapfill). The
    stream owns only the stateful windowed aggregation; densification onto
    the full hour grid is a state-free batch pass over the materialized
    sink (``timeseries.densify_hourly``), because a gap row by definition
    has no event to trigger its emission in a stream. Carries the same
    finite gate as every value-summing twin."""
    from ..operators.registry import finite_or_null

    return (
        events.where(F.col("user_id") < max_user_id)
        .where(finite_or_null("value"))
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(22,6)")).cast("double").alias("total_value"),
        )
        .select("user_id", F.col("w.start").alias("bucket"), "n_events", "total_value")
    )


def session_windows(
    events: DataFrame, gap: str = "12 hours", watermark: str = "1 day"
) -> DataFrame:
    """Native session windows (gap-based), the streaming counterpart of the
    batch lag/cumsum sessionization. State per (user, open session) only."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count + value total, maintained across micro-batches.

    The pattern for stateful logic Spark's built-in aggregations can't
    express (per-key accumulators with arbitrary Python update rules).
    State is one small tuple per user — bounded by the key cardinality, not
    the stream length.

    Finite gate (the stickiest case of non-finite input): one Inf
    reading would make the user's running total Inf for the REST OF THE
    STREAM (state accumulates forever, unlike a per-window sum). Non-finite readings are excluded like every batch
    twin; NULL-value rows still count as events (pandas sum skips NaN).
    """
    from pyspark.sql.streaming.state import GroupState

    from ..operators.registry import finite_or_null

    events = events.where(finite_or_null("value"))

    def update(key, batches, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd  # local import: runs in the worker

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stream_purchase_view_pairs(
    purchases: DataFrame,
    views: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM interval join: each purchase matched to the same
    user's views from the preceding ``horizon`` — attribution joins where
    BOTH sides arrive continuously (the stream-static joins elsewhere in
    this module cover the static-dimension case; this covers two live
    feeds).

    The time-range predicate plus both watermarks is what makes unbounded
    state safe: Spark derives from ``v_ts >= p_ts - horizon`` how long a
    buffered view can still find a future purchase partner, and evicts
    state older than watermark + horizon. Without the range condition the
    state would grow with the stream; with it, steady-state memory is
    (event rate x (watermark + horizon)) per side regardless of stream
    length. Emits matched pairs in append mode.

    ``how="left_outer"`` additionally emits never-matched purchases with
    null view columns — but only once the global watermark passes the
    purchase's event time, because until then a matching view could still
    arrive. Purchases newer than the final watermark therefore stay
    buffered in state and are NOT emitted in a finite run; the
    batch-parity test pins exactly that boundary.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", watermark)
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") < F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}")),
        how,
    ).select(
        "purchase_id",
        "view_id",
        F.col("p_user").alias("user_id"),
        "p_ts",
        "v_ts",
    )


def corpus_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged LSH band index of the historical documents corpus: MinHash
    signatures exploded into band buckets, materialized through the cache
    engine (corpus-keyed — a changed corpus rebuilds the index, an
    unchanged one is a table scan). The static side of the stream-static
    dedup join below."""
    from ..operators.dedup import corpus_band_index_frame
    from ..operators.staging import stage_cache
    from ..sources import load_table

    # NULL-text contract: the registered batch dedup queries all filter
    # NULL text at their heads, and so do their streaming twins —
    # split(NULL) folds to the EMPTY-shingle signature, so every NULL-text
    # doc would pair with every other one (quadratic false matches on a
    # NULL-heavy ingest).
    # A NULL document is a fetch failure, not content to match.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    return stage_cache(corpus_band_index_frame(docs), "corpus_band_index")


def stream_corpus_near_dup_matches(
    docs_stream: DataFrame, corpus_index: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Streaming near-duplicate detection against a historical corpus:
    each incoming document's MinHash signature (map-only, same expressions
    as batch) is banded and stream-static joined to the staged corpus
    index on (band, bucket); colliding pairs verify by estimated Jaccard.
    Emits (doc_id, corpus_doc_id, est_jaccard) match records — route them
    to a quarantine sink, or anti-filter the batch inside a foreachBatch
    sink for the clean stream.

    Scale shape: signatures are per-row compute on the stream; the static
    index is corpus-sized but the join is bucket-equi-keyed, so each
    micro-batch touches only its colliding buckets. No streaming state at
    all — the corpus side is static, so no watermark is needed. A pair
    colliding in multiple bands emits once per band (dedup downstream if
    exact-once matters; distinct on a stream would need a watermark).

    NULL-text contract: the incoming stream is filtered like every batch dedup head — a
    NULL-text doc would sign the empty-shingle signature and pair with
    every other NULL doc.
    """
    from ..operators.dedup import est_jaccard_matches

    return est_jaccard_matches(
        docs_stream.where(F.col("text").isNotNull()), corpus_index, threshold
    )


def growing_corpus_dedup_sink(
    base_path: str, corpus_index: DataFrame, threshold: float = 0.5
):
    """Streaming ingest dedup with a GROWING index: each micro-batch is
    matched against the historical corpus index PLUS every previously
    ingested batch, then its own band rows are appended to the index —
    so a document that duplicates something ingested an hour ago is
    caught, not just duplicates of the static corpus
    (``stream_corpus_near_dup_matches`` covers only the latter; this is
    the streaming twin of the batch ``dedup_incremental_vs_corpus``
    extended with upkeep).

    Layout under ``base_path``: two exactly-once commit-ledger sinks —
    ``matches/`` (``doc_id, corpus_doc_id, est_jaccard`` records, one
    row per colliding band) and ``index/`` (the ingested batches' band
    rows, same schema as :func:`corpus_band_index`). Both are keyed by
    the SAME micro-batch id, and each is independently idempotent, so a
    crash between the two writes heals on redelivery.

    Redelivery determinism: the index read EXCLUDES the current batch
    id's own rows (via the committed view's ``batch_id`` column), so a
    redelivered batch whose index write committed before the crash
    recomputes exactly the original match set instead of matching
    against itself. Intra-batch pairs are out of scope by the same
    contract as the batch twin (two novel near-dups arriving in ONE
    batch match from the NEXT batch on; run the batch LSH pass for
    within-batch pairs).

    Scale shape: signatures are map-only per batch; the match join is
    band-bucket equi-keyed so each batch touches only its colliding
    buckets; the per-batch index read is a committed-dirs parquet scan —
    at 100 TB, periodically fold the ingested index into the staged
    corpus index (rebuild ``corpus_band_index`` over corpus + ingested
    and truncate this sink) the same way ``compact_commit_ledger`` folds
    markers; the growing sink bounds what accumulates BETWEEN folds, not
    forever."""
    from ..operators.dedup import corpus_band_index_frame, est_jaccard_matches

    match_path = f"{base_path}/matches"
    index_path = f"{base_path}/index"
    match_sink = exactly_once_append_sink(match_path)
    index_sink = exactly_once_append_sink(index_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # NULL-text contract: a NULL document is a
        # fetch failure — it must neither match nor ENTER the index
        # (an unfiltered NULL would sign the empty-shingle signature
        # and pair with every later NULL arrival).
        batch_docs = batch_df.where(F.col("text").isNotNull())
        ingested = read_exactly_once_output(
            spark, index_path, include_batch_id=True
        )
        index = corpus_index
        if ingested is not None:
            index = index.unionByName(
                ingested.where(F.col("batch_id") != batch_id).drop("batch_id")
            )
        match_sink(est_jaccard_matches(batch_docs, index, threshold), batch_id)
        index_sink(corpus_band_index_frame(batch_docs), batch_id)

    return write_batch


# The fold's commit record, written by the fold itself (not the Spark job
# committer, whose _SUCCESS is absent under marksuccessfuljobs=false) into
# the dataset after the parquet write, and carried into out_path by the
# rename. It holds the dataset's data-file inventory, ``base=`` (the sink
# it folded, canonical) and ``ids=`` (the ledger batch ids it absorbed):
# the one record of what a fold covers. Underscore prefix: parquet
# readers skip it as a hidden file.
_FOLD_OK = "_FOLDED_OK"


def _is_under(child: str, parent: str) -> bool:
    """True when canonical ``child`` lives strictly under canonical
    ``parent`` (root-safe: a root parent already ends with ``/``)."""
    return child.startswith(parent if parent.endswith("/") else parent + "/")


def _check_fold_containment(out_path: str, base_path: str) -> None:
    """Raise unless the fold output and the sink tree are disjoint.

    ``out_path`` under ``base_path``: the truncate would delete the fold
    output. ``base_path`` under ``out_path``: the fold swap's
    ``remove(out_path)`` would recursively delete the whole sink tree,
    including the matches ledger whose exactly-once results this flow
    leaves untouched. Both are compared in ``fs.canonical_path`` form, so
    a relative, dot-segment or doubled-slash spelling cannot slip past a
    raw-string prefix test. (The stream's checkpoint dir is not known
    here; keep it outside ``out_path`` for the same reason.)"""
    from .. import fs

    out_norm = fs.canonical_path(out_path)
    base_norm = fs.canonical_path(base_path)
    if out_norm == base_norm or _is_under(out_norm, base_norm):
        raise ValueError(
            f"fold out_path {out_path!r} lives under the sink base "
            f"{base_path!r}; truncate_growing_index would delete the "
            "fold output. Use a path outside the sink tree."
        )
    if _is_under(base_norm, out_norm):
        raise ValueError(
            f"sink base {base_path!r} lives under fold out_path "
            f"{out_path!r}; the fold's swap would delete the sink tree "
            "(matches ledger included). Use a fold path that is not an "
            "ancestor of the sink."
        )


def _read_fold_marker(fs, path: str) -> Optional[str]:
    """The ``_FOLDED_OK`` text of the fold dataset at ``path``; None when
    there is none (no dataset, or a write that never committed). Raises
    when the live data listing disagrees with the marker's inventory:
    folding from such a dataset, publishing it, or truncating on its word
    would bake the lost band rows into every later cycle as silent dedup
    misses."""
    marker = fs.read_text(f"{path.rstrip('/')}/{_FOLD_OK}")
    if marker is not None and fs.inventory_matches(path, marker) is False:
        raise RuntimeError(
            f"fold dataset at {path!r} fails its recorded data-file "
            "inventory — part files lost or altered after the fold "
            "committed (partial restore? copy truncation?). Restore the "
            "dataset from backup, or remove it to explicitly accept "
            "losing the band rows it held."
        )
    return marker


def _marker_field(marker: Optional[str], key: str) -> Optional[str]:
    """The value of the first ``key=`` line of a marker, or None."""
    for line in (marker or "").splitlines():
        k, sep, value = line.strip().partition("=")
        if sep and k == key:
            return value.strip()
    return None


def fold_growing_index(spark: SparkSession, base_path: str, out_path: str):
    """Fold a :func:`growing_corpus_dedup_sink`'s ingested index into one
    static parquet dataset at ``out_path`` — step 1 of the periodic
    maintenance the sink's scale note prescribes (the growing sink bounds
    what accumulates BETWEEN folds, not forever).

    ``out_path`` is CUMULATIVE across maintenance cycles: a fold unions
    any previous fold's committed content at ``out_path`` with the sink's
    committed batches, distinct-collapses the copies, writes the union to
    a temp sibling, and SWAPS it into place — so reusing one ``out_path``
    every cycle is the intended call pattern and never destroys band rows
    folded earlier (an overwrite-only fold would drop every document
    ingested before the previous truncate: silent dedup misses). Returns
    the re-read frame (the committed view is LAZY — unioning it directly
    into the next sink's corpus index would leave that index reading
    directories :func:`truncate_growing_index` is about to delete);
    returns the previous fold (or None) when the sink has no committed
    index batches. ``out_path`` must not live under ``base_path`` (the
    truncate would delete the fold output) and must not be an ancestor of
    it (the fold's swap would delete the sink tree); both directions
    raise. Keep the stream's checkpoint dir outside ``out_path`` too —
    the swap removes ``out_path`` recursively.

    The fold commits its dataset with its own ``_FOLDED_OK`` marker: the
    inventory, the sink it folded (``base=``) and the ledger batch ids it
    absorbed (``ids=``). The marker is written in the temp sibling and
    rides the rename, so the dataset at ``out_path`` and its coverage
    record can never disagree. :func:`truncate_growing_index` reads it
    and REFUSES to drop a ledger carrying ids it does not cover, which
    enforces the flow's "stream stopped, fold completed" contract (a
    batch committed mid-fold, or a truncate called without any fold,
    raises instead of silently forgetting documents). An ``out_path``
    holding data files but no marker (a fold published before the marker
    existed) raises rather than being overwritten; the message says how
    to adopt it.

    Maintenance flow (single owner, stream STOPPED — the same contract
    as :func:`compact_commit_ledger`):
      1. ``folded = fold_growing_index(spark, base, out)``  (idempotent:
         re-running unions + distincts to the same set);
      2. ``truncate_growing_index(base, out)``  (idempotent delete,
         guarded by the marker at ``out``);
      3. restart the stream, SAME checkpoint, with
         ``corpus_index.unionByName(folded)`` — committed batches never
         redeliver (Spark's commit log marks them done), so the truncated
         ledger is never consulted for them.
    Crash safety: mid-write leaves a partial temp dir (no ``_FOLDED_OK``)
    that the next run removes; between remove-old and swap the complete
    union survives in the temp dir (marker inside) and the next run
    finishes the swap before folding. In both windows ``out_path`` holds
    no marker, so the truncate guard refuses and no committed document
    can be forgotten.
    """
    import uuid

    from .. import fs

    index_path = f"{base_path}/index"

    _check_fold_containment(out_path, base_path)

    # Writer-unique temp name (same rationale as fs._temp_sibling): the
    # contract is single-owner, but with a FIXED temp name an accidental
    # second owner could have its half-written temp renamed into place by
    # the first (torn data published); unique names mean any publish is a
    # COMPLETE union — the accident degrades to last-writer-wins.
    out_stripped = out_path.rstrip("/")
    tmp = f"{out_stripped}.__folding__.{uuid.uuid4().hex[:8]}"
    # Recovery from a crash in a previous fold's swap window: any
    # completed temp sibling is a full union — finish its swap if
    # out_path is missing; discard every other leftover temp.
    parent, base = out_stripped.rsplit("/", 1) if "/" in out_stripped else (".", out_stripped)
    for left in fs.list_dir(parent or "/"):
        if not (left.is_dir and left.name.startswith(f"{base}.__folding__")):
            continue
        if not fs.exists(out_path) and _read_fold_marker(fs, left.path) is not None:
            fs.rename(left.path, out_path)  # died between remove-old and rename
        else:
            fs.remove(left.path)  # partial write (no marker) or stale twin

    # Ledger snapshot BEFORE reading data: a batch committing mid-fold
    # lands in neither the marker's ids nor (necessarily) the union — the
    # truncate guard then refuses until the next fold absorbs it.
    manifest_ids, marker_ids = _ledger_state(fs, index_path)
    folded_ids = sorted(manifest_ids | marker_ids)

    prior = None
    if _read_fold_marker(fs, out_path) is not None:
        prior = spark.read.parquet(out_path)
    elif fs.data_file_inventory(out_path)[0]:
        # Data without the marker: a fold published before the marker
        # existed, or a foreign dataset. The swap would replace it with
        # only the current ledger's rows, and a fold is not recomputable
        # once its ledger batches are truncated.
        raise RuntimeError(
            f"fold out_path {out_path!r} holds data files but no {_FOLD_OK} "
            "marker; folding would overwrite it. Adopt it as the previous "
            f"fold with fs.write_commit_marker({out_path!r}, {_FOLD_OK!r}), "
            "or remove it to accept losing its rows.")
    ingested = read_exactly_once_output(spark, index_path)
    if ingested is None:
        return prior
    folded = ingested if prior is None else (
        prior.unionByName(ingested).distinct()
    )
    folded.write.mode("overwrite").parquet(tmp)
    # Written only after the full union landed; a crash before it leaves
    # a markerless temp that the next run discards.
    coverage = (f"\nbase={fs.canonical_path(base_path)}"
                f"\nids={','.join(str(i) for i in folded_ids)}")
    if not fs.write_commit_marker(tmp, _FOLD_OK, coverage):
        raise RuntimeError(f"fold temp {tmp!r} lost its output before commit")
    if fs.exists(out_path):
        fs.remove(out_path)
    fs.rename(tmp, out_path)
    return spark.read.parquet(out_path)


def truncate_growing_index(base_path: str, out_path: str) -> bool:
    """Step 2 of the fold: drop the sink's ingested-index data AND its
    commit ledger (the matches sink is untouched — historical match
    results stay exactly-once). ``out_path`` is the fold output that
    :func:`fold_growing_index` published. Idempotent; True when something
    was removed, False when there was nothing to remove. Raises instead
    of proceeding in the two dangerous states:

    * the ledger carries committed batch ids that the ``_FOLDED_OK``
      marker at ``out_path`` does not cover — no fold ran, the stream
      wrote a batch after the fold, the marker names another sink, or a
      crash left ``out_path`` without a published fold. Truncating would
      FORGET those documents; one re-fold heals every case. The refusal
      is advisory against operator mistakes, not atomic against a sink
      racing the removal itself;
    * the removal FAILED while the path exists (permission denied,
      partially-completed rmtree) — returning False there would be
      indistinguishable from "nothing to remove", and an operator
      restarting on that belief leaves a ledger referencing half-deleted
      batch dirs.
    """
    from .. import fs

    index_path = f"{base_path}/index"
    if not fs.exists(index_path):
        return False
    manifest_ids, marker_ids = _ledger_state(fs, index_path)
    committed = manifest_ids | marker_ids
    if committed:
        marker = _read_fold_marker(fs, out_path)
        folded = set()
        if _marker_field(marker, "base") == fs.canonical_path(base_path):
            ids = _marker_field(marker, "ids") or ""
            folded = {int(t) for t in ids.split(",") if t.strip().isdigit()}
        uncovered = sorted(committed - folded)
        if uncovered:
            raise RuntimeError(
                f"refusing to truncate {index_path!r}: committed batch "
                f"ids {uncovered} are not covered by a completed fold of "
                f"this sink at {out_path!r} — truncating would forget "
                "their documents. Run fold_growing_index (stream stopped) "
                "first."
            )
    if not fs.remove(index_path) and fs.exists(index_path):
        raise OSError(
            f"failed to remove {index_path!r} (permissions? partial "
            "delete?); the ledger may now reference half-deleted batch "
            "dirs — resolve before restarting the sink"
        )
    return True


def robust_outlier_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust baseline (exact median + median absolute deviation)
    of the historical events table, materialized through the cache engine:
    a changed history recomputes it, an unchanged one is a table scan. The
    static side of the stream-static outlier screen below — the batch twin
    of the screen is the ``events_anomaly_mad`` query, built
    on the same banded-median helper.
    """
    from ..operators.registry import finite_or_null
    from ..operators.scale import grouped_median_mad
    from ..operators.staging import stage_cache
    from ..sources import load_table

    # Finite-only, exactly like the batch twin events_anomaly_mad: an Inf
    # reading makes the banded median's bucket math degenerate (step =
    # inf) and a NaN deviation poisons the MAD — bad telemetry must not
    # corrupt the baseline the whole stream screens against.
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & finite_or_null("value")
    )
    baseline = grouped_median_mad(
        ev, "value", "event_type", tiebreak_col="event_id"
    )
    return stage_cache(baseline, "robust_outlier_baseline")


def robust_outlier_stream(
    events: DataFrame,
    baseline: DataFrame,
    k: float = 3.0,
    flag_unknown_types: bool = True,
) -> DataFrame:
    """Streaming robust-outlier screen: flag incoming events whose value
    deviates from their type's historical median by more than ``k`` x the
    historical MAD — the robust alternative to z-scoring a stream (a
    mean/stddev baseline moves with the very outliers it should catch; a
    median/MAD baseline holds still).

    Scale shape: stateless stream-static LEFT broadcast join — the
    baseline is |event types| rows, each micro-batch is one map-side
    pass, no watermark and no streaming state at all. Refresh cadence is
    the baseline's: restart the query after re-staging (foreachBatch
    callers can re-read it per batch instead).

    Flag contract: emits the flagged events with their deviation in MAD
    units (``score``). An event whose TYPE the baseline has never seen is
    itself anomalous — by default it flags with a NULL score (set
    ``flag_unknown_types=False`` to drop such events instead; an inner
    join would do that silently, which is exactly the surprise this
    parameter makes explicit). A type with constant history (MAD 0) flags
    any deviation, also with a NULL score rather than Infinity. NULL
    values never flag (the comparison is not-TRUE for them, same
    tri-state discipline as the quality gate).
    """
    dev = F.abs(F.col("value") - F.col("median_value"))
    unknown = F.col("median_value").isNull()
    flagged = dev > k * F.col("mad")
    if flag_unknown_types:
        flagged = flagged | (unknown & F.col("value").isNotNull())
    return (
        events.join(F.broadcast(baseline), "event_type", "left")
        .where(flagged)
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            F.when(
                F.col("mad") > 0, F.round(dev / F.col("mad"), 4)
            ).alias("score"),
        )
    )


def write_stream_to_table(
    stream_df: DataFrame,
    table_name: str,
    checkpoint_dir: str,
    await_availability: bool = False,
    available_now: bool = False,
):
    """Checkpointed ``foreachBatch`` sink into a catalog table — the
    streaming twin of the engine's cache write path (same
    ``saveAsTable``-style materialization `core.write_cache` performs for
    batch frames, arriving micro-batch by micro-batch).

    Each batch lands with a ``_batch_id`` column, which makes replays
    idempotent-by-inspection: Spark's checkpoint guarantees each batch id
    is delivered at-least-once, so an exactly-once consumer filters
    duplicates on ``(_batch_id, key)`` — the standard foreachBatch
    contract (on Delta, an idempotent ``txnAppId``/``txnVersion`` write
    replaces the filter). Returns the StreamingQuery handle; with
    ``await_availability`` the call blocks until the current backlog is
    fully materialized (local testing; production leaves the query
    running).

    ``available_now=True`` runs with ``Trigger.AvailableNow``: process
    everything currently available in (possibly many rate-limited)
    micro-batches, then STOP — the scheduled-incremental-batch pattern
    (cron the job hourly; each run checkpoints forward from where the
    last one stopped). Blocks until termination, since stopping is the
    trigger's contract.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).saveAsTable(table_name)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    def refresh() -> None:
        # foreachBatch appends run in an isolated session clone; the
        # caller's session keeps its pre-append file listing for the table
        # and silently serves stale counts until refreshed (observed: a
        # second AvailableNow run's rows invisible to spark.table()).
        stream_df.sparkSession.catalog.refreshTable(table_name)

    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        refresh()
        return query
    query = writer.start()
    if await_availability:
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        refresh()
    return query


def run_to_memory_sink(
    stream_df: DataFrame, name: str, output_mode: Optional[str] = None
) -> DataFrame:
    """Drive a streaming frame to completion against a memory sink and
    return the materialized result (local smoke-testing helper).

    ``output_mode`` overrides the inferred mode. Inference: stateful
    map-groups plans (applyInPandasWithState prints as
    FlatMapGroupsInPandasWithState, not Aggregate) need ``update``; ANY
    aggregation infers ``complete`` (watermarked or not — in complete
    mode a watermark neither drops late rows nor finalizes windows, so a
    test exercising watermark-drop semantics MUST pass ``append``
    explicitly, as the sessionization and interval-join tests do); pure
    transformations ``append``.
    """
    query = (
        stream_df.writeStream.outputMode(output_mode or _infer_output_mode(stream_df))
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def _infer_output_mode(df: DataFrame) -> str:
    plan = df._jdf.queryExecution().analyzed().toString()  # type: ignore[attr-defined]
    if "FlatMapGroupsInPandasWithState" in plan or "FlatMapGroupsWithState" in plan:
        # The node prints ITS OWN declared mode ("..., Append,
        # EventTimeTimeout" / "..., Update, ..."): an append-mode
        # applyInPandasWithState (stateful_session_flush) under an
        # inferred "update" query crashed with AnalysisException, and
        # vice versa — honor whichever the operator declared.
        import re as _re

        for line in plan.splitlines():
            if "WithState" in line:
                m = _re.search(r",\s*(Append|Update)\s*,", line)
                if m:
                    return m.group(1).lower()
        return "update"
    if "Aggregate" in plan:
        return "complete"
    return "append"


def exactly_once_append_sink(base_path: str, valid: Optional[Column] = None):
    """foreachBatch function with a per-batch commit ledger: Spark's
    checkpoint redelivers a batch id at-least-once after a sink-side
    crash; this sink collapses redelivery to exactly-once file output
    for NON-transactional stores (on Delta, ``txnAppId``/``txnVersion``
    replaces all of this).

    Protocol, crash-safe at every step:
      1. a redelivered id whose ledger marker exists returns before
         touching data (the batch is fully committed);
      2. data lands in a per-batch directory with ``overwrite`` — a crash
         between data and marker leaves a partial dir that the redelivery
         simply overwrites (same id, same checkpointed content);
      3. the marker commits LAST, via the atomic rename in
         ``fs.write_text``, so a marker's existence always means complete
         data. It records the batch's data-file inventory, so a part file
         lost after commit (partial restore, copy truncation) is found by
         :func:`find_corrupt_batches` instead of scanning as fewer rows.
    One marker file per batch id — no read-modify-write on a shared
    ledger document, so concurrent sinks on disjoint ids never conflict.
    Readers that want the exactly-once view go through
    :func:`read_exactly_once_output`, which lists the ledger and reads
    only committed batch directories.

    ``valid`` adds a per-batch QUALITY GATE: rows where it is TRUE land
    in the batch directory; the rest are quarantined to
    ``_quarantine/batch_id=N`` (read back with :func:`read_quarantine`)
    instead of poisoning the corpus or failing the stream — the streaming
    twin of a batch ingest's expectations gate, with the same
    not-TRUE-is-invalid semantics as ``quality.expectations_report``. The
    flagged batch is persisted for the commit, so the source is computed
    ONCE across the clean write, the quarantine count and the quarantine
    write, and the marker also records ``quarantined: <n>`` as a
    per-batch quality audit trail.
    """
    from .. import fs

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _already_committed(fs, base_path, batch_id):
            return
        data_dir = f"{base_path}/batch_id={batch_id}"
        status = f"batch {batch_id} committed\n"
        if valid is None:
            batch_df.write.mode("overwrite").parquet(data_dir)
        else:
            # withColumn silently OVERWRITES an existing column: a source
            # batch already carrying __valid would have its data replaced
            # by the gate flag and then dropped from BOTH outputs. Refuse;
            # the caller renames first.
            if "__valid" in batch_df.columns:
                raise ValueError(
                    "exactly_once_append_sink(valid=...): the batch already "
                    "has a __valid column — it would be clobbered by the "
                    "gate flag; rename it before the sink"
                )
            quarantine_dir = f"{base_path}/_quarantine/batch_id={batch_id}"
            flagged = batch_df.withColumn(
                "__valid", F.coalesce(valid, F.lit(False))
            ).persist()
            try:
                flagged.where("__valid").drop("__valid").write.mode(
                    "overwrite"
                ).parquet(data_dir)
                bad = flagged.where("NOT __valid").drop("__valid")
                n_bad = bad.count()
                if n_bad:
                    bad.write.mode("overwrite").parquet(quarantine_dir)
                else:
                    # A crashed PRIOR attempt (e.g. under an older gate
                    # predicate, before a redeploy) may have left a partial
                    # quarantine dir for this id with no marker. Redelivery
                    # with zero bad rows writes nothing over it, so without
                    # this sweep its stale rows would surface in
                    # read_quarantine once the marker lands.
                    fs.remove(quarantine_dir)
            finally:
                flagged.unpersist()
            status += f"quarantined: {n_bad}\n"
        # a gated write drops only its own __valid column, so the
        # recorded schema is the source batch schema either way
        _record_sink_schema(fs, base_path, batch_df)
        fs.write_text(
            f"{base_path}/_committed/{batch_id}.txt",
            status + fs.render_inventory(*_batch_inventory(fs, base_path, batch_id)),
        )

    return write_batch


def _batch_inventory(fs_mod, base_path: str, batch_id: int) -> tuple:
    """One batch's combined data-file inventory: its committed data dir
    plus (for gated sinks) its quarantine dir — the same definition
    the commit markers record and :func:`find_corrupt_batches` checks."""
    clean = fs_mod.data_file_inventory(f"{base_path}/batch_id={batch_id}")
    quar = fs_mod.data_file_inventory(
        f"{base_path}/_quarantine/batch_id={batch_id}"
    )
    return clean[0] + quar[0], clean[1] + quar[1]


def find_corrupt_batches(base_path: str) -> list:
    """Committed batch ids whose live data listing no longer matches the
    inventory their commit marker recorded — data files lost, truncated,
    or altered AFTER commit (bit rot, partial restore, copy-tool
    truncation). Read-only, driver-side listings only; run it with the
    periodic maintenance (the fold/compact cadence). Batches committed
    before markers carried inventories have nothing to compare and are
    skipped; compacted batches ARE still audited — compaction preserves
    each marker's inventory in the manifest's v2 line shape. Footer
    corruption that preserves the byte count still fails the READ loudly
    (parquet magic check); this scan exists for the silent-loss shapes a
    read cannot see."""
    from .. import fs

    manifest = _manifest_state(fs, base_path)
    _, marker_ids = _ledger_state(fs, base_path)
    corrupt = []
    for i in sorted(set(manifest) | marker_ids):
        want = fs.parse_inventory(
            fs.read_text(f"{base_path}/_committed/{i}.txt")
        )
        if want is None:
            want = manifest.get(i)
        if want is not None and _batch_inventory(fs, base_path, i) != want:
            corrupt.append(i)
    return corrupt


def claim_sink_checkpoint(base_path: str, checkpoint_dir: str) -> None:
    """Bind an exactly-once sink base to ITS checkpoint, refusing any
    other. Micro-batch ids are unique only per checkpoint: a second
    pipeline (different checkpoint) pointed at the same base restarts
    ids at 0, short-circuits on the first pipeline's markers, and
    silently DROPS its own batches as "already committed" — the worst
    failure mode of an exactly-once ledger. First call stamps
    ``_committed/_owner.txt`` (a non-digit stem the ledger readers
    ignore by design); later calls with the same checkpoint are no-ops;
    a different checkpoint raises. Re-pointing a sink on purpose (the
    checkpoint dir genuinely moved) means deleting the stamp.

    ``write_stream_exactly_once`` calls this automatically. Pipelines
    driving :func:`exactly_once_append_sink` or
    :func:`growing_corpus_dedup_sink` through their OWN ``writeStream``
    should call it once before ``start()`` with the same base they hand
    the sink (for the growing sink: the parent base — its two
    sub-ledgers share the parent's batch ids by construction).

    Checkpoint paths are compared in ``fs.canonical_path`` form: the
    same physical checkpoint passed as ``ckpt``, ``ckpt/``,
    ``file:/.../ckpt`` or ``/x//ckpt`` is the same owner, not a foreign
    pipeline, and a scheme'd URI (``dbfs:/ckpt``) never picks up the
    driver's working directory.
    The claim is ADVISORY, against configuration mistakes: the
    read-then-write stamp is not atomic, so two pipelines racing the
    very FIRST claim can both pass — what it reliably catches is the
    durable misconfiguration (every later start of either pipeline hits
    the stamped value)."""
    from .. import fs

    owner_path = f"{base_path}/_committed/_owner.txt"
    recorded = fs.read_text(owner_path)
    checkpoint_norm = fs.canonical_path(checkpoint_dir)
    if recorded is None:
        fs.write_text(owner_path, checkpoint_norm)
    elif fs.canonical_path(recorded) != checkpoint_norm:
        raise ValueError(
            f"exactly-once sink {base_path!r} already belongs to "
            f"checkpoint {recorded!r}; writing it from checkpoint "
            f"{checkpoint_dir!r} would reuse batch ids and silently "
            "drop data. Use a fresh base path, or delete "
            f"{owner_path!r} if the checkpoint genuinely moved."
        )


def write_stream_exactly_once(
    stream_df: DataFrame,
    base_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Drive ``stream_df`` into :func:`exactly_once_append_sink` under a
    checkpoint. ``available_now`` (default) drains the current backlog and
    stops — the scheduled-incremental-batch pattern; pass False to leave
    the query running and manage its lifecycle yourself.

    One sink base belongs to ONE checkpoint —
    :func:`claim_sink_checkpoint` (called here automatically) stamps
    the base on first use and refuses a foreign checkpoint loudly; see
    its docstring for the silent-drop failure mode it closes and the
    self-driven-pipeline usage.
    """
    claim_sink_checkpoint(base_path, checkpoint_dir)
    writer = stream_df.writeStream.foreachBatch(
        exactly_once_append_sink(base_path)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.start()


def read_exactly_once_output(
    spark: SparkSession, base_path: str, include_batch_id: bool = False
) -> Optional[DataFrame]:
    """The exactly-once view of an :func:`exactly_once_append_sink`
    output: only batch directories whose ledger marker committed. Returns
    None when nothing has committed yet. A committed empty micro-batch
    holds one zero-row part file (Spark 4.1.2 writes one for an empty
    frame, with or without ``_SUCCESS``), so an all-empty sink reads as
    an EMPTY DataFrame of the written schema; committed batch dirs that
    hold no part file at all fall back to the sink's recorded schema —
    committed-but-empty is a different answer from "no sink exists".
    Partial directories from a crashed batch are invisible until their
    redelivery commits.

    ``include_batch_id=True`` appends a ``batch_id: long`` column: the
    default view is schema-pure — exactly what the sink wrote, the batch
    id being ledger metadata — but consumers that audit per-batch
    provenance opt back in explicitly (see :func:`_read_committed_dirs`)."""
    from .. import fs

    manifest_ids, marker_ids = _ledger_state(fs, base_path)
    committed = sorted(manifest_ids | marker_ids)
    if not committed:
        return None
    dirs = [f"{base_path}/batch_id={i}" for i in committed]
    # Empty-vs-data is decided by LISTING for part files, not by matching
    # Spark's "Unable to infer schema" exception text, which is
    # version-fragile. Readers are off the hot sink loop, so one listing
    # per committed dir is fine; genuine read errors propagate.
    listings = {d: fs.list_dir(d) for d in dirs}
    # A committed batch dir always holds at least its part file. One that
    # lists EMPTY means the data was deleted out from under the ledger —
    # surface the inconsistency instead of reporting a silently-empty sink.
    missing = [d for d, entries in listings.items() if not entries]
    if missing:
        raise FileNotFoundError(
            "commit ledger lists batches whose data directories are "
            f"missing: {missing}"
        )
    has_data = any(
        st.name.startswith("part-") and not st.is_dir
        for entries in listings.values()
        for st in entries
    )
    if has_data:
        return _read_committed_dirs(
            spark, fs, base_path, base_path, dirs, include_batch_id
        )
    schema_path = f"{base_path}/_committed/{_LEDGER_SCHEMA}"
    schema_txt = fs.read_text(schema_path)
    if schema_txt is None:
        # read_text's remote branch returns None on ANY exception, so
        # distinguish a genuinely absent record (legacy pre-schema
        # ledger) from a transient read failure — collapsing the latter
        # to None would recreate the committed-vs-no-sink ambiguity this
        # path exists to eliminate.
        if fs.exists(schema_path):
            raise IOError(
                f"could not read sink schema record {schema_path} "
                "(exists but unreadable — transient storage failure?)"
            )
        # Ledger written by a pre-schema-record sink: committed-but-empty
        # is then indistinguishable from no sink; keep the legacy None.
        return None
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType.fromJson(json.loads(schema_txt))
    if include_batch_id:
        if "batch_id" in schema.fieldNames():
            raise ValueError(
                "include_batch_id=True but the sink's recorded schema "
                "already has a batch_id column — the synthesized column "
                "would shadow it; read with include_batch_id=False"
            )
        schema = StructType(
            [*schema.fields, StructField("batch_id", LongType())]
        )
    return spark.createDataFrame([], schema)


_LEDGER_MANIFEST = "manifest.txt"
_LEDGER_SCHEMA = "_schema.json"


def _read_committed_dirs(spark, fs_mod, base_path: str, root: str,
                         dirs: list, include_batch_id: bool) -> DataFrame:
    """Read a sink's committed batch dirs (``<root>/batch_id=N``), the
    one read behind :func:`read_exactly_once_output` and
    :func:`read_quarantine`.

    mergeSchema, because a redeployed pipeline evolves the sink schema
    across committed dirs: a plain read infers from ONE footer, so
    whether an added column appeared — or a dropped one vanished,
    silently truncating historic batches — would be a footer lottery.
    The union is deterministic: evolved columns surface with NULL
    backfill, and a type conflict across batches fails loudly.

    Without ``include_batch_id`` the leaf dirs are read without
    ``basePath``, so partition discovery adds no column. With it, the
    ``basePath`` read synthesizes ``batch_id`` from the dir names (cast to
    long for a stable type) and a ``WHERE batch_id`` filter
    partition-prunes. That read is refused when the sink's rows already
    carry a ``batch_id`` column: partition discovery silently SHADOWS the
    data column (every row's value replaced by the dir number)."""
    if not include_batch_id:
        return spark.read.option("mergeSchema", True).parquet(*dirs)
    if "batch_id" in _sink_data_columns(spark, fs_mod, base_path, dirs):
        raise ValueError(
            "include_batch_id=True but the sink's data already has a "
            "batch_id column — the synthesized partition column would "
            "silently overwrite it; read with the default "
            "include_batch_id=False"
        )
    return (
        spark.read.option("basePath", root)
        .option("mergeSchema", True)
        .parquet(*dirs)
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    )


def _sink_data_columns(spark, fs_mod, base_path: str, dirs: list) -> list:
    """Column names of the rows a sink WROTE (no synthesized partition
    columns), for the include_batch_id shadow refusal. The recorded sink
    schema tracks the LATEST batch, so it suffices to refuse cheaply;
    allowing needs the mergeSchema union of every committed dir, since a
    redeploy that DROPPED a batch_id column leaves older dirs still
    carrying it (a plain read infers from one footer and has the same
    blind spot)."""
    recorded = fs_mod.read_text(f"{base_path}/_committed/{_LEDGER_SCHEMA}")
    try:
        cols = [f["name"] for f in json.loads(recorded)["fields"]]
    except (ValueError, KeyError, TypeError):
        cols = []  # no or corrupt record: the inference read decides
    if "batch_id" in cols:
        return cols
    return spark.read.option("mergeSchema", True).parquet(*dirs).columns


def _record_sink_schema(fs_mod, base_path: str, batch_df: DataFrame) -> None:
    """Persist the sink's row schema into the ledger: foreachBatch hands
    every batch a schema even when it carries zero rows, so an all-empty
    sink can still be read back as an empty DataFrame of the right shape
    instead of None. The record tracks the LATEST committed batch's
    schema (rewritten only when it differs — a redeployed pipeline that
    evolves the sink schema must not serve the original shape forever).
    One small read per batch on the hot path (same cost class as the
    manifest probe); the schema is written before the marker so a
    marker's existence implies the record exists too."""
    path = f"{base_path}/_committed/{_LEDGER_SCHEMA}"
    current = batch_df.schema.json()
    if fs_mod.read_text(path) != current:
        fs_mod.write_text(path, current)


def _manifest_state(fs_mod, base_path: str) -> dict:
    """``{batch_id: (files, bytes) | None}`` from the compacted manifest.

    Two line shapes coexist: bare digits (legacy — id only) and
    ``id=N files=F bytes=B`` (v2 — compaction preserves the per-batch
    data-file inventory the marker carried, so
    :func:`find_corrupt_batches` stays useful across compactions instead
    of going blind on every folded id). A v2 line without the inventory
    half (``id=N``) records an id whose marker never carried one.
    Unparseable lines are skipped, never a crash — the ledger view must
    degrade to fewer ids, not to an exception that blocks the sink."""
    manifest_txt = fs_mod.read_text(
        f"{base_path}/_committed/{_LEDGER_MANIFEST}"
    )
    state: dict = {}
    if not manifest_txt:
        return state
    for line in manifest_txt.splitlines():
        line = line.strip()
        if not line:
            continue
        if line.isdigit():
            state[int(line)] = None
            continue
        if line.startswith("id="):
            toks = dict(t.partition("=")[::2] for t in line.split())
            try:
                bid = int(toks["id"])
            except (KeyError, ValueError):
                continue
            inv = None
            if "files" in toks and "bytes" in toks:
                try:
                    inv = (int(toks["files"]), int(toks["bytes"]))
                except ValueError:
                    inv = None
            state[bid] = inv
    return state


def _manifest_ids(fs_mod, base_path: str) -> set:
    """Batch ids folded into the compacted manifest (one small read — the
    per-micro-batch fast path; the full marker listing is for readers and
    the compactor, not the hot sink loop)."""
    return set(_manifest_state(fs_mod, base_path))


def _ledger_state(fs_mod, base_path: str):
    """(manifest_ids, marker_ids) for an exactly-once sink ledger. Only
    digit-stem ``<id>.txt`` files count as markers: a stray operator file
    (notes.txt, a .bak rename) in _committed must not take down every
    sink and reader with a ValueError."""
    ledger = f"{base_path}/_committed"
    marker_ids = {
        int(s.name[: -len(".txt")])
        for s in fs_mod.list_dir(ledger)
        if s.name.endswith(".txt") and s.name[: -len(".txt")].isdigit()
    }
    return _manifest_ids(fs_mod, base_path), marker_ids


def _already_committed(fs_mod, base_path: str, batch_id: int) -> bool:
    """Redelivery short-circuit shared by both exactly-once sinks: the
    batch's own marker exists, or its id was folded into the manifest by
    compaction. One marker read + at most one manifest read per
    micro-batch — never a full ledger listing on the hot path."""
    marker = f"{base_path}/_committed/{batch_id}.txt"
    if fs_mod.read_text(marker) is not None:
        return True
    return batch_id in _manifest_ids(fs_mod, base_path)


def compact_commit_ledger(base_path: str) -> int:
    """Fold per-batch marker files into one manifest document.

    The ledger grows one marker per micro-batch; on an always-on stream
    that is ~10k files/week of listing overhead. Compaction rewrites the
    manifest to the union of (previous manifest + current markers) via
    the atomic ``fs.write_text`` rename, THEN deletes the folded markers
    — crash-safe in both directions: dying before the manifest rename
    leaves all markers in place (old state), dying mid-marker-delete
    leaves ids present in both (the reader unions, so duplicates in the
    ledger never mean duplicate data). A sink writer racing compaction is
    also safe: its marker lands either before the listing (folded now) or
    after (folded next time). Returns the number of markers folded.

    NOT safe: two compactors racing EACH OTHER. Manifest writes are
    last-writer-wins (a filesystem without compare-and-swap cannot do
    better), so compactor B folding a stale listing can overwrite the
    manifest ids compactor A just folded AFTER A deleted their markers.
    Run compaction from a single maintenance owner (cron job, CLI) —
    the same single-operator contract every registry maintenance op in
    ``management.py`` carries.

    Interplay notes: compaction touches ONLY digit-stem marker files, so
    the owner stamp survives it, and the truncate guard's
    committed-vs-folded comparison sees compacted ids through the
    manifest — a batch committed post-fold then compacted still
    refuses truncation. Each marker's data-file inventory is PRESERVED
    in the manifest (v2 ``id=N files=F bytes=B`` lines; bare-digit
    legacy lines keep parsing), so :func:`find_corrupt_batches` keeps
    auditing folded batches.
    """
    from .. import fs

    ledger = f"{base_path}/_committed"
    state = _manifest_state(fs, base_path)
    _, marker_ids = _ledger_state(fs, base_path)
    if not marker_ids:
        return 0
    for i in marker_ids:
        # Preserve the marker's data-file inventory in the manifest (v2
        # line shape) so find_corrupt_batches keeps auditing folded
        # batches; a marker without one keeps any inventory an earlier
        # compaction recorded.
        inv = fs.parse_inventory(fs.read_text(f"{ledger}/{i}.txt"))
        state[i] = inv if inv is not None else state.get(i)
    lines = [
        f"id={i} files={inv[0]} bytes={inv[1]}" if inv is not None else f"id={i}"
        for i, inv in sorted(state.items())
    ]
    fs.write_text(f"{ledger}/{_LEDGER_MANIFEST}", "\n".join(lines))
    for i in marker_ids:
        fs.remove(f"{ledger}/{i}.txt")
    return len(marker_ids)


def _session_update(gap_us: int):
    """The sessionizer's applyInPandasWithState update function, as a
    module-level factory so the state machine is unit- and property-
    testable without a SparkSession (tests drive it with a simulated
    GroupState; the property test checks arrival-order independence
    against a reference batch sessionizer over random batch splits;
    the streaming end-to-end pins live in the disorder lens)."""

    def update(key, batches, state):
        import pandas as pd  # worker-side import

        sessions = (
            sorted(zip(*state.get)) if state.exists else []
        )  # [(start_us, last_us, n)] sorted by start
        if not state.hasTimedOut:
            rows = pd.concat(list(batches), ignore_index=True)
            # A NULL event time is meaningless for sessionization and —
            # unlike windowed aggregation, which silently drops NULL-ts
            # rows — applyInPandasWithState delivers EVERY row (probed;
            # see the beyond-horizon note): an unguarded NaT became a
            # huge-negative epoch, i.e. a bogus pre-epoch session emitted
            # on the next flush. Drop them here, identically to what the
            # built-in watermark operators do.
            rows = rows.dropna(subset=["ts"])
            # Each event enters as a singleton interval; one sorted merge
            # pass re-unifies everything within gap-adjacency — late
            # events slot into (or bridge) the intervals they belong to,
            # identically for ANY arrival order of the same events.
            sessions.extend(
                (int(pd.Timestamp(ts).value // 1000),) * 2 + (1,)
                for ts in rows["ts"]
            )
            sessions.sort()
            merged = []
            for s in sessions:
                if merged and s[0] - merged[-1][1] <= gap_us:
                    prev = merged[-1]
                    merged[-1] = (
                        prev[0], max(prev[1], s[1]), prev[2] + s[2]
                    )
                else:
                    merged.append(s)
            sessions = merged
        # Both branches flush the same way: every session whose deadline
        # (last + gap) the watermark has passed is emitted exactly once
        # and leaves state. The timeout branch exists for SILENCE (no new
        # data for the key); the data branch also flushes so a deadline
        # passed while data kept arriving never waits for a quiet batch.
        wm_us = state.getCurrentWatermarkMs() * 1000
        due = [s for s in sessions if s[1] + gap_us <= wm_us]
        keep = [s for s in sessions if s[1] + gap_us > wm_us]
        if keep:
            state.update(tuple(list(col) for col in zip(*keep)))
            # Next flush when the watermark passes the EARLIEST remaining
            # deadline (timeout API takes epoch MILLIS; round up so it
            # never undershoots the gap; > current wm by construction).
            state.setTimeoutTimestamp(
                -(-(min(s[1] for s in keep) + gap_us) // 1000)
            )
        elif state.exists or state.hasTimedOut:
            state.remove()
        if due:
            yield pd.DataFrame(
                [(key[0], s[0], s[1], s[2]) for s in due],
                columns=["user_id", "start_us", "end_us", "n_events"],
            )

    return update


def stateful_session_flush(
    events: DataFrame, gap_hours: int = 12, watermark: str = "2 hours"
) -> DataFrame:
    """Custom sessionizer via ``applyInPandasWithState`` + EVENT-TIME
    TIMEOUT: per-user sessions close after ``gap_hours`` of inactivity and
    are emitted exactly once, when the watermark passes the session's
    timeout — the pattern for stateful logic that must FLUSH on silence,
    which no built-in aggregation expresses (``F.session_window`` emits
    aggregates; this emits whole session records with arbitrary Python
    state transitions).

    State is the user's session INTERVALS (start, last, n) still inside
    the watermark horizon — bounded: a session leaves state the moment
    the watermark passes its ``last + gap`` deadline, so at most
    ~(horizon / gap) + 1 intervals per key exist at once. In a finite
    run a session whose deadline the final watermark never passes stays
    open and is NOT emitted (same boundary as the left-outer join's
    unmatched rows); the parity test pins that boundary.

    Late-data contract: emitting a session the moment a later event
    splits it by gap would let an in-watermark straggler belonging to the
    ALREADY-EMITTED session merge into the wrong one, bloating its span
    backward across the silence, so arrival order would change the
    result. Sessions are therefore held until the WATERMARK closes them, and every event — however
    disordered within the watermark — merges by gap-adjacency into the
    interval set (bridging two intervals re-unifies them). Result:
    session output is ARRIVAL-ORDER-INDEPENDENT for in-watermark data,
    which is exactly the promise a watermark makes.

    Beyond-horizon boundary (probed, Spark 4.1): unlike windowed
    aggregation, Spark does NOT drop late input rows for
    applyInPandasWithState (numRowsDroppedByWatermark stays 0), so a
    straggler older than the watermark still reaches the function. It
    merges into its session when that session is still in state
    (flushable-but-unflushed), else it emits as its own immediate-flush
    fragment — never silently lost, but arrival-order-dependent BY
    DEFINITION out there (the emitted session cannot be retracted).
    Size the watermark to the source's disorder horizon; beyond it,
    batch re-sessionization is the exact answer. Emits (user_id,
    session_start, session_end, n_events) in append mode.
    """
    update = _session_update(gap_hours * 3600 * 1_000_000)

    flushed = (
        events.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, start_us long, end_us long, n_events long",
            stateStructType=(
                "starts array<long>, lasts array<long>, ns array<long>"
            ),
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
    return flushed.select(
        "user_id",
        F.timestamp_micros("start_us").alias("session_start"),
        F.timestamp_micros("end_us").alias("session_end"),
        "n_events",
    )


def attach_progress_collector(spark: SparkSession):
    """Per-micro-batch progress telemetry: returns ``(records, listener)``
    where ``records`` is a live list the listener appends one dict per
    completed batch to — input rows, trigger duration, total stateful rows.
    This is how a production job watches throughput and STATE GROWTH (the
    number that creeps when a watermark is mis-set and state never
    evicts); alert on `state_rows` trending up. Detach with
    ``spark.streams.removeListener(listener)``. Listener delivery is
    asynchronous — tests poll briefly after stopping the query.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    records: list = []

    class _Collector(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            records.append(
                {
                    "query_id": str(p.id),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "trigger_ms": (p.durationMs or {}).get("triggerExecution"),
                    "state_rows": sum(
                        s.numRowsTotal for s in (p.stateOperators or [])
                    ),
                }
            )

        def onQueryTerminated(self, event):
            pass

        def onQueryIdle(self, event):
            pass

    listener = _Collector()
    spark.streams.addListener(listener)
    return records, listener


def read_quarantine(
    spark: SparkSession, base_path: str, include_batch_id: bool = False
) -> Optional[DataFrame]:
    """Quarantined rows of a gated :func:`exactly_once_append_sink`
    output — only from COMMITTED batches (a crash mid-batch leaves no
    marker, and its partial quarantine dir is overwritten on redelivery
    just like the data dir). Returns None when nothing is quarantined.
    The re-ingest path: fix upstream, then feed these rows back through
    the gate. ``include_batch_id=True`` appends ``batch_id: long`` —
    useful here to trace WHICH batch produced the bad rows."""
    from .. import fs

    manifest_ids, marker_ids = _ledger_state(fs, base_path)
    root = f"{base_path}/_quarantine"
    dirs = [
        f"{root}/batch_id={i}"
        for i in sorted(manifest_ids | marker_ids)
        if fs.exists(f"{root}/batch_id={i}")
    ]
    if not dirs:
        return None
    return _read_committed_dirs(
        spark, fs, base_path, root, dirs, include_batch_id
    )
