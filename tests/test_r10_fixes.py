"""Regression pins for three ADVICE r9 items closed in round 10.

2 (low): the dedup_ngram_jaccard NULL-text oracle predicate injects
   inside _verify_oracle, word-boundary-anchored (no post-hoc string
   surgery that could corrupt a future documents_* relation).
3 (low): the include_batch_id shadow refusal consults the recorded sink
   schema instead of a second full schema-inference read
   (streaming._sink_data_columns).
4 (low): maintenance CLI --stats with --database exits 2 (requested
   scope not honored), matching the documented exit-code contract.
"""
from __future__ import annotations

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_verify_oracle_source_where_is_boundary_safe():
    """ADVICE r9 #2 as amended by ADVICE r11 #2: ``source_where`` now
    filters through a prepended ``documents_src`` CTE with every read
    redirected to it by a pure NAME swap — which commutes with any
    WHERE clause or alias a body CTE may later gain, where the previous
    append-WHERE form would have produced invalid double-WHERE SQL.
    The swap stays boundary-anchored: documents_* names pass through."""
    from dbfs_spark_cache_spark.operators import ORACLES
    from dbfs_spark_cache_spark.operators.dedup import (
        _NGRAM_SETS_CTE,
        _verify_oracle,
    )

    import re

    sql = ORACLES["dedup_ngram_jaccard"]
    # the filtered CTE leads, and every base-relation read goes through it
    assert sql.startswith(
        "WITH documents_src AS "
        "(SELECT * FROM documents WHERE text IS NOT NULL),"
    )
    body = sql.split("),", 1)[1]
    assert not re.search(r"\bFROM documents\b", body), (
        "a read bypassed the filtered CTE"
    )
    assert "FROM documents_src" in body
    # parity with the unfiltered build: same body modulo the redirect
    plain = _verify_oracle(_NGRAM_SETS_CTE, 0.25, n_bands=16, est_threshold=0.25)
    assert sql.replace("FROM documents_src", "FROM documents").endswith(
        plain[len("WITH "):]
    )

    # boundary safety: the anchored swap must not touch documents_* names
    probe = "SELECT * FROM documents_x WHERE EXISTS (SELECT 1 FROM documents)"
    rewritten = re.sub(r"\bFROM documents\b", "FROM documents_src", probe)
    assert rewritten.startswith("SELECT * FROM documents_x WHERE")
    assert rewritten.endswith("(SELECT 1 FROM documents_src)")

    # the structural hazard the CTE form closes: a body read that later
    # gains its own WHERE stays valid SQL under a name swap
    hazard = "SELECT 1 FROM documents WHERE doc_id > 5"
    swapped = re.sub(r"\bFROM documents\b", "FROM documents_src", hazard)
    assert swapped == "SELECT 1 FROM documents_src WHERE doc_id > 5"


def test_sink_data_columns_prefers_recorded_schema():
    """ADVICE r9 #3 as amended by ADVICE r10 #4: the recorded sink
    schema (LATEST batch) is sound only in the REFUSE direction — when
    it carries batch_id the check reads one tiny ledger file and never
    runs the schema-inference parquet pass (proven by spark=None /
    dirs=[], which would crash if the fallback fired). ALLOWING —
    recorded schema without batch_id, corrupt record, or legacy ledger
    — requires the mergeSchema footer union over every committed dir
    (a redeploy may have dropped a data batch_id older dirs carry; a
    single-footer read has the same blind spot)."""
    from dbfs_spark_cache_spark.streaming import _sink_data_columns

    with_batch_id = (
        '{"type":"struct","fields":['
        '{"name":"event_id","type":"long","nullable":true,"metadata":{}},'
        '{"name":"batch_id","type":"long","nullable":true,"metadata":{}}]}'
    )
    fs_stub = SimpleNamespace(read_text=lambda path: with_batch_id)
    cols = _sink_data_columns(None, fs_stub, "/base", [])
    assert cols == ["event_id", "batch_id"]

    # the inference fallback must be the schema-MERGED read
    class _Reader:
        def __init__(self):
            self.merge_schema = None

        def option(self, key, value):
            if key == "mergeSchema":
                self.merge_schema = value
            return self

        def parquet(self, *dirs):
            assert self.merge_schema is True, (
                "allow-path inference must union every dir's schema"
            )
            return SimpleNamespace(columns=["fallback_col"])

    def spark_stub():
        return SimpleNamespace(read=_Reader())

    # recorded schema WITHOUT batch_id: allowing needs the union read
    no_batch_id = (
        '{"type":"struct","fields":['
        '{"name":"event_id","type":"long","nullable":true,"metadata":{}}]}'
    )
    ok_fs = SimpleNamespace(read_text=lambda path: no_batch_id)
    assert _sink_data_columns(spark_stub(), ok_fs, "/base", ["d"]) == [
        "fallback_col"
    ]
    # corrupt record falls back to the union read
    bad_fs = SimpleNamespace(read_text=lambda path: "not json")
    assert _sink_data_columns(spark_stub(), bad_fs, "/base", ["d"]) == [
        "fallback_col"
    ]
    # legacy ledger (no record at all) also falls back
    none_fs = SimpleNamespace(read_text=lambda path: None)
    assert _sink_data_columns(spark_stub(), none_fs, "/base", ["d"]) == [
        "fallback_col"
    ]


def test_cli_stats_with_database_exits_2(spark, monkeypatch):
    """ADVICE r9 #4: --stats ignores --database (the sidecar registry has
    no per-database dimension) — an explicitly requested scope that is
    not honored must be detectable by automation, so the branch returns
    exit code 2 after still printing the configured namespace's summary;
    plain --stats stays 0."""
    import dbfs_spark_cache_spark.management as management
    import dbfs_spark_cache_spark.session as session
    from dbfs_spark_cache_spark import maintenance_cli

    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(
        management, "cache_stats", lambda s, num_threads=None: {"n": 0}
    )
    monkeypatch.setattr(
        sys, "argv", ["spark-cache-maintenance", "--stats", "--database", "other"]
    )
    assert maintenance_cli.main() == 2
    monkeypatch.setattr(sys, "argv", ["spark-cache-maintenance", "--stats"])
    assert maintenance_cli.main() == 0


def test_list_dir_survives_vanishing_entries(tmp_path):
    """r10 engine review: an entry that cannot be stat'ed (deleted
    between scandir and stat by a concurrent eviction, or a dangling
    symlink) must not kill the whole registry scan. A dangling symlink
    reproduces the raise deterministically."""
    from dbfs_spark_cache_spark import fs

    real = tmp_path / "real.txt"
    real.write_text("x")
    os.symlink(tmp_path / "never-existed", tmp_path / "dangling")
    names = {s.name for s in fs.list_dir(str(tmp_path))}
    assert names == {"real.txt"}


def test_temp_sibling_is_unique_per_call():
    """r10 engine review: pid+tid is not unique across hosts sharing one
    filesystem — the uuid component makes every temp name single-writer
    by construction (two calls from the SAME pid+tid already differ)."""
    from dbfs_spark_cache_spark.fs import _temp_sibling

    names = {_temp_sibling("/x/meta.txt") for _ in range(64)}
    assert len(names) == 64
    assert all(n.startswith("/x/meta.txt.tmp.") for n in names)


def test_events_stream_reads_directory_layout(spark, tmp_path):
    """r10 engine review: ``events.parquet`` as a DIRECTORY of part files
    (the standard Spark writer layout) used to match ZERO leaf files
    under the single-file glob — a silently EMPTY stream. The reader now
    detects the layout and streams the directory directly; the
    single-file fixture layout keeps its glob path (pinned by every
    existing streaming test)."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
    )

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet").where(
        F.col("user_id") < 5
    )
    n_src = src.count()
    src.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    stream = read_events_stream(spark, str(tmp_path))
    counts = run_to_memory_sink(
        stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")),
        "t_dir_layout_counts",
    )
    assert sum(r.n for r in counts.collect()) == n_src > 0


def test_null_ts_batch_stream_sessionization_contract(spark, tmp_path):
    """The documented NULL-ts contract between the twins (r10): the
    batch sessionization counts an un-timestamped straggler in the
    user's LAST session (the SQL oracle's NULLS-LAST lag semantics,
    landed r10), while the streaming session_window necessarily DROPS it
    (no event time -> no watermark assignment). Same session COUNTS on
    both; n_events differs by exactly the stragglers."""
    from pyspark.sql import functions as F

    from dbfs_spark_cache_spark.operators.timeseries import sessionization
    from dbfs_spark_cache_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
        session_windows,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet").where(
        F.col("user_id") < 5
    )
    nulls = (
        base.groupBy("user_id")
        .agg(F.max("event_id").alias("event_id"))
        .select(
            (F.col("event_id") + 1_000_000).alias("event_id"),
            "user_id",
            F.lit(None).cast("timestamp_ntz").alias("ts"),
            F.lit("view").alias("event_type"),
            F.lit(1.0).alias("value"),
        )
    )
    base.select("event_id", "user_id", "ts", "event_type", "value").unionByName(
        nulls
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    sessions = run_to_memory_sink(
        session_windows(read_events_stream(spark, str(tmp_path))),
        "t_nullts_contract",
    )
    stream = {
        r.user_id: (r.n, r.e)
        for r in sessions.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_events").alias("e"))
        .collect()
    }
    batch = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in sessionization(spark, str(tmp_path)).collect()
    }
    assert set(stream) == set(batch) and len(batch) == 5
    for u in batch:
        assert stream[u][0] == batch[u][0], "session counts must agree"
        assert stream[u][1] == batch[u][1] - 1, (
            "stream drops exactly the one un-timestamped straggler"
        )
