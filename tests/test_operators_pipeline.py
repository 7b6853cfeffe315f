"""Quality invariants for the [NS] pipeline operators that have no SQL
oracle: MinHash/SimHash recall on planted near-duplicates, IVF recall vs
brute force, multimodal plumbing determinism, HLL accuracy."""
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _reads_cache_entry(df) -> bool:
    """Whether one of ``df``'s input directories is a cache entry."""
    from dbfs_spark_cache_spark import fs, layout
    from dbfs_spark_cache_spark.plans.fingerprint import input_files

    pattern = layout.cached_input_pattern()
    return any(
        pattern.search(fs.strip_scheme(os.path.dirname(f)))
        for f in input_files(df)
    )


@pytest.fixture(scope="module")
def planted_docs(spark, tmp_path_factory):
    """Fixture documents + planted near-duplicates: for 20 source docs, a
    copy with ~5% of tokens replaced (3-shingle Jaccard ~0.74, comfortably
    above the LSH detection threshold of ~0.6 for 8 bands x 4 rows)."""
    out = str(tmp_path_factory.mktemp("planted") / "documents.parquet")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base = docs.limit(20)
    mutated = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        # replace every 20th token deterministically
        F.concat_ws(
            " ",
            F.expr(
                "transform(split(text, ' '), (t, i) -> IF(i % 20 = 0, 'zzzz', t))"
            ),
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    docs.unionByName(mutated.select(docs.columns)).write.mode("overwrite").parquet(out)
    return os.path.dirname(out) or out


@pytest.fixture(scope="module")
def planted_dir(planted_docs):
    return planted_docs


def _planted_pairs():
    return {(i, i + 1_000_000) for i in range(20)}


def test_minhash_lsh_recall_on_planted_dups(spark, planted_dir):
    from dbfs_spark_cache_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, planted_dir).collect()
    found = {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)) for r in pairs}
    planted = _planted_pairs()
    recall = len(found & planted) / len(planted)
    assert recall >= 0.8, f"MinHash-LSH recall {recall} on planted near-dups"
    # est_jaccard for planted pairs should be high
    for r in pairs:
        assert 0.0 <= r.est_jaccard <= 1.0


def test_minhash_lsh_no_pairs_on_distinct_corpus(spark):
    from dbfs_spark_cache_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, SF_SMOKE).collect()
    # the fixture corpus has no exact dups; random token-salad docs may
    # produce a few low-similarity collisions but never a flood
    assert len(pairs) < 100


def test_simhash_detects_planted_dups(spark, planted_dir):
    from dbfs_spark_cache_spark.operators.dedup import dedup_simhash

    pairs = dedup_simhash(spark, planted_dir).collect()
    found = {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.hamming for r in pairs}
    planted = _planted_pairs()
    hits = sum(1 for p in planted if p in found)
    assert hits / len(planted) >= 0.6, f"SimHash found {hits}/20 planted dups"
    for r in pairs:
        assert 0 <= r.hamming <= 8


def test_exact_dedup_finds_planted_identical_copies(spark, tmp_path, planted_dir):
    from dbfs_spark_cache_spark.operators.dedup import dedup_exact

    # plant byte-identical copies
    docs = spark.read.parquet(f"{planted_dir}/documents.parquet")
    copies = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 2_000_000)
    both_dir = str(tmp_path / "exact")
    os.makedirs(both_dir, exist_ok=True)
    docs.unionByName(copies).write.mode("overwrite").parquet(
        f"{both_dir}/documents.parquet"
    )
    groups = dedup_exact(spark, both_dir).collect()
    dup_groups = [g for g in groups if g.n_copies > 1]
    assert len(dup_groups) == 5
    assert all(g.keeper_doc_id < 2_000_000 for g in dup_groups)


def test_ivf_equals_bucket_restricted_brute_force(spark):
    """IVF's correctness property: its top-k must equal brute force
    restricted to the query's cell (the pruning is the approximation; the
    in-cell scoring must be exact)."""
    from dbfs_spark_cache_spark.functions import vec_cosine
    from dbfs_spark_cache_spark.operators.similarity import similarity_ivf_search

    ivf = similarity_ivf_search(spark, SF_SMOKE).collect()
    assert len(ivf) >= 1
    cosines = [r.cosine for r in ivf]
    assert cosines == sorted(cosines, reverse=True)

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    bits = [
        F.when(F.element_at("embedding", i + 1) >= 0, "1").otherwise("0")
        for i in range(4)
    ]
    bucketed = emb.select("vec_id", "embedding", F.concat(*bits).alias("bucket"))
    rows = bucketed.collect()
    min_id = min(r.vec_id for r in rows)
    query = next(r for r in rows if r.vec_id == min_id)
    in_cell = bucketed.where(
        (F.col("bucket") == query.bucket) & (F.col("vec_id") != min_id)
    )
    q_df = bucketed.where(F.col("vec_id") == min_id).select(
        F.col("embedding").alias("q_emb")
    )
    brute_in_cell = (
        in_cell.crossJoin(q_df)
        .select(
            "vec_id",
            F.round(vec_cosine(F.col("embedding"), F.col("q_emb")), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
        .collect()
    )
    assert [r.vec_id for r in ivf] == [r.vec_id for r in brute_in_cell]


def test_multimodal_decode_deterministic_and_typed(spark):
    from dbfs_spark_cache_spark.operators.multimodal import (
        build_asset,
        decode_asset,
        multimodal_decode_features,
    )

    out1 = multimodal_decode_features(spark, SF_SMOKE)
    assert out1.schema.simpleString() == (
        "struct<doc_id:bigint,asset_source:string,n_bytes:bigint,"
        "width:bigint,height:bigint,channels:bigint,byte_mean:double,"
        "byte_min:bigint,byte_max:bigint,window_checksum:bigint>"
    )
    rows1 = {r.doc_id: r for r in out1.collect()}
    rows2 = {r.doc_id: r for r in multimodal_decode_features(spark, SF_SMOKE).collect()}
    assert len(rows1) == 500
    assert all(rows1[k] == rows2[k] for k in rows1)

    # the decoder is a real codec for the SGB1 container, not a hash:
    # roundtrip recovers the header fields and actual byte statistics
    decoded = decode_asset(build_asset(7, b"abcd"))
    assert decoded == {
        "n_bytes": 4,
        "width": 7 % 64 + 1,
        "height": 4 % 64 + 1,
        "channels": 7 % 3 + 1,
        "byte_mean": (97 + 98 + 99 + 100) / 4,
        "byte_min": 97,
        "byte_max": 100,
        "window_checksum": 97 + 98 + 99 + 100,
    }
    with pytest.raises(ValueError):
        decode_asset(b"JUNKxxxxxxxxx")
    # empty body: header-only asset decodes without dividing by zero
    assert decode_asset(build_asset(1, b""))["byte_mean"] == 0.0


def test_frame_sample_covers_all_docs(spark):
    from dbfs_spark_cache_spark.operators.multimodal import multimodal_frame_sample

    frames = multimodal_frame_sample(spark, SF_SMOKE)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert len(per_doc) == 500
    assert all(r["count"] >= 1 for r in per_doc)


def test_approx_distinct_accuracy(spark):
    """The in-plan HLL tolerance flag must hold, and the emitted exact
    counts must match an independent exact aggregation."""
    from dbfs_spark_cache_spark.operators.relational import agg_approx_distinct

    rows = agg_approx_distinct(spark, SF_SMOKE).collect()
    exact = {
        r.o_orderpriority: r.distinct_customers
        for r in spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("distinct_customers"))
        .collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        assert r.exact_customers == exact[r.o_orderpriority]
        assert r.hll_within_2pct is True


def test_udtf_tokenize_matches_explode(spark):
    from dbfs_spark_cache_spark.operators.extras import udtf_tokenize

    got = {
        (r.doc_id, r.pos): r.token for r in udtf_tokenize(spark, SF_SMOKE).collect()
    }
    expected = {
        (r.doc_id, r.pos): r.token
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .where(F.col("doc_id") < 50)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
        .collect()
    }
    assert got == expected


def test_dedup_funnel_monotone(spark, planted_dir):
    """The composed funnel only ever removes documents, and it removes the
    planted near-duplicates (higher doc_id of each pair) while keeping
    their originals."""
    from dbfs_spark_cache_spark.operators.pipeline import pipeline_dedup_survivors

    total = spark.read.parquet(f"{planted_dir}/documents.parquet").count()
    survivors = pipeline_dedup_survivors(spark, planted_dir)
    ids = {r.doc_id for r in survivors.collect()}
    assert len(ids) < total
    planted_mutants = {i + 1_000_000 for i in range(20)}
    removed_mutants = planted_mutants - ids
    assert len(removed_mutants) >= 16  # LSH recall >= 0.8 flows through
    originals_kept = sum(1 for i in range(20) if i in ids)
    assert originals_kept >= 16  # keep-lower-id policy retains sources


def test_hyperplane_signature_buckets(spark):
    import random

    from dbfs_spark_cache_spark.functions import hyperplane_signature, vec_cosine

    rng = random.Random(7)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(6)]
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    bucketed = emb.select(
        "vec_id", hyperplane_signature(F.col("embedding"), planes).alias("sig")
    )
    counts = bucketed.groupBy("sig").count().collect()
    assert 2 <= len(counts) <= 64  # 6 bits -> at most 64 buckets
    assert sum(r["count"] for r in counts) == 500


def test_dedup_funnel_stages_through_cache(spark, clean_cache):
    """The funnel materializes its stages via the cache engine: after one
    run, the stage entries exist and the funnel reads them (a scan of the
    entries' files, not a recompute of the quality/exact-dedup plan);
    a second build creates no new entries (pure hit)."""
    import os

    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.operators.pipeline import pipeline_dedup_survivors

    n1 = pipeline_dedup_survivors(spark, SF_SMOKE).count()
    entries = set(os.listdir(config.SPARK_CACHE_DIR))
    assert len(entries) == 2, "expected survivor + signature stage caches"

    df2 = pipeline_dedup_survivors(spark, SF_SMOKE)
    assert _reads_cache_entry(df2), (
        "funnel plan does not read the stage cache tables"
    )
    assert set(os.listdir(config.SPARK_CACHE_DIR)) == entries  # no rewrites
    assert df2.count() == n1


def test_multiprobe_consumes_cached_ann_index(spark, clean_cache):
    """The sign-LSH bucket table is the ANN index: the first
    similarity_multiprobe build stages it through the cache engine, and a
    second build (any later query against the unchanged corpus) reads the
    cached index entry instead of recomputing buckets — same results."""
    import os

    from dbfs_spark_cache_spark.config import config
    from dbfs_spark_cache_spark.operators.similarity import similarity_multiprobe

    r1 = [tuple(r) for r in similarity_multiprobe(spark, SF_SMOKE).collect()]
    entries = set(os.listdir(config.SPARK_CACHE_DIR))
    assert len(entries) == 1, "expected exactly the staged ANN index"

    df2 = similarity_multiprobe(spark, SF_SMOKE)
    assert _reads_cache_entry(df2), (
        "second multiprobe build does not read the cached ANN index"
    )
    assert set(os.listdir(config.SPARK_CACHE_DIR)) == entries  # pure hit
    assert [tuple(r) for r in df2.collect()] == r1


def test_dedup_funnel_survives_cache_outage(spark, monkeypatch):
    """If cache storage is unavailable (read-only driver env), the funnel
    must degrade to the uncached plan and still produce identical results."""
    from dbfs_spark_cache_spark.operators import pipeline

    def broken_cache(df, **kwargs):
        raise RuntimeError("cache storage unavailable")

    import dbfs_spark_cache_spark.core as core

    monkeypatch.setattr(core, "cache_dataframe", broken_cache)
    survivors = pipeline.pipeline_dedup_survivors(spark, SF_SMOKE)
    ids = {r.doc_id for r in survivors.collect()}
    assert ids  # full funnel ran uncached
    total = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert len(ids) < total


def test_cluster_keepers_component_semantics(spark):
    """Connected-components invariants: cluster_id is the component minimum
    (never above the member's own id), keepers are exactly the docs equal to
    their cluster_id, every cluster_id refers to a keeper, and every LSH
    candidate pair lands in one cluster (including transitive chains, where
    pairwise keep-lower-id over-keeps)."""
    from dbfs_spark_cache_spark.operators.dedup import (
        dedup_cluster_keepers,
        dedup_minhash_lsh,
    )

    rows = {r.doc_id: r for r in dedup_cluster_keepers(spark, SF_SMOKE).collect()}
    assert len(rows) == 500
    assert all(r.cluster_id <= r.doc_id for r in rows.values())
    keepers = {d for d, r in rows.items() if r.is_keeper}
    assert keepers == {d for d, r in rows.items() if d == r.cluster_id}
    assert {r.cluster_id for r in rows.values()} <= keepers

    pairs = dedup_minhash_lsh(spark, SF_SMOKE).collect()
    for p in pairs:
        assert rows[p.doc_a].cluster_id == rows[p.doc_b].cluster_id, (
            f"pair ({p.doc_a},{p.doc_b}) split across clusters"
        )


def test_cluster_keepers_one_action_per_round(spark):
    """Each propagation round must be ONE Spark action: the convergence
    count rides the lazy localCheckpoint materialization (round-3 verdict
    flagged a separate isEmpty job per round). AQE splits one action into
    per-stage jobs, so the pin runs with AQE off, where 1 action == 1 job.
    Budget: 2 one-time checkpoints (edges, initial labels — each may run a
    couple of internal jobs) + exactly 1 job per propagation round."""
    from dbfs_spark_cache_spark.operators.dedup import dedup_cluster_keepers

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        tracker = spark.sparkContext.statusTracker()

        def high_water():
            ids = tracker.getJobIdsForGroup()
            return (max(ids) + 1) if ids else 0

        before = high_water()
        df = dedup_cluster_keepers(spark, SF_SMOKE)
        jobs = high_water() - before  # builder runs ckpts + all rounds
        assert df.count() == 500
        # edge ckpt + label init ckpt cost a handful of jobs; the fixture
        # converges in <= 4 rounds. Anything near 2x rounds means the
        # per-round isEmpty regression is back.
        assert jobs <= 8, f"{jobs} jobs during build: >1 action per round?"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_stratified_split_exact_proportions(spark):
    """Every language stratum holds out EXACTLY ceil(20%) of its docs, and
    the assignment is deterministic across runs (content-hash order)."""
    import math

    from dbfs_spark_cache_spark.operators.text import sample_stratified

    rows = sample_stratified(spark, SF_SMOKE).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.split)
    for lang, splits in by_lang.items():
        n = len(splits)
        heldout = sum(1 for s in splits if s == "heldout")
        assert heldout == math.ceil(n / 5), f"{lang}: {heldout}/{n}"
    again = {(r.doc_id, r.split) for r in sample_stratified(spark, SF_SMOKE).collect()}
    assert again == {(r.doc_id, r.split) for r in rows}


def test_pack_sequences_invariants(spark):
    """Packing must reproduce the global prefix sum (bucketed plan ==
    global semantics), respect the budget for offsets, and never use a
    corpus-sized single-partition window."""
    from dbfs_spark_cache_spark.operators.training import (
        SEQ_BUDGET,
        pack_sequences,
    )

    rows = sorted(
        pack_sequences(spark, SF_SMOKE).collect(), key=lambda r: r.doc_id
    )
    assert len(rows) == 500
    cum = 0
    for r in rows:
        assert r.seq_id == cum // SEQ_BUDGET
        assert r.seq_offset == cum % SEQ_BUDGET
        cum += r.n_tokens
    # the corpus spans multiple sequences at the smoke SF
    assert rows[-1].seq_id > 0

    plan = pack_sequences(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs
    # every corpus-sized window is bucket-partitioned; only the per-bucket
    # totals (one row per bucket) may ride an unpartitioned window
    unpartitioned = [s for s in specs if not s.lstrip().lstrip("_").startswith("bucket#")]
    assert len(unpartitioned) <= 1, f"global windows over the corpus: {unpartitioned}"


def test_shuffle_shard_assign_is_permutation(spark):
    """Sharding must be a deterministic permutation: every doc exactly
    once, shard positions dense 1..n per shard, stable across runs."""
    from dbfs_spark_cache_spark.operators.training import shuffle_shard_assign

    out1 = {r.doc_id: (r.shard, r.shard_pos) for r in shuffle_shard_assign(spark, SF_SMOKE).collect()}
    out2 = {r.doc_id: (r.shard, r.shard_pos) for r in shuffle_shard_assign(spark, SF_SMOKE).collect()}
    assert out1 == out2
    assert len(out1) == 500
    assert {s for s, _ in out1.values()} <= set(range(16))
    by_shard = {}
    for s, p in out1.values():
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), f"shard {s} positions not dense"


def test_staged_incremental_dedup_matches_one_shot(spark, clean_cache):
    """The staged incremental form (cache-staged corpus band index; only
    the incoming batch is signed and banded per run) must return exactly
    the matches of the one-shot oracle query `dedup_incremental_vs_corpus`
    — the staged shape is what a daily ingest job runs at 100 TB, so it
    needs its own correctness pin, not just the one-shot's driver row.
    The one-shot form keeps only pairs whose higher id is incoming, so
    the staged result is filtered the same way before comparing."""
    from dbfs_spark_cache_spark.operators.dedup import (
        dedup_incremental_vs_corpus,
        incremental_near_dup_matches,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    incoming = docs.where(F.col("doc_id") % 5 == 0)

    staged = incremental_near_dup_matches(corpus, incoming)
    got = {
        (r.corpus_doc_id, r.incoming_doc_id, round(r.est_jaccard, 9))
        for r in staged.where(
            F.col("incoming_doc_id") > F.col("corpus_doc_id")
        ).collect()
    }
    expected = {
        (r.corpus_doc_id, r.incoming_doc_id, round(r.est_jaccard, 9))
        for r in dedup_incremental_vs_corpus(spark, SF_SMOKE).collect()
    }
    assert got == expected and expected, "staged form diverged from one-shot"

    # and the corpus index really staged through the cache engine: a second
    # build reads a cache entry instead of recomputing signatures
    again = incremental_near_dup_matches(corpus, incoming)
    assert _reads_cache_entry(again), (
        "second build does not read the staged corpus index"
    )
