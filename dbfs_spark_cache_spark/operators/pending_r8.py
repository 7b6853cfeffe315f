"""The three round-8 queries, registered LAST.

``operators/__init__.py`` imports this module after every other operator
module: registration order is the rotation tie-break, and last keeps these
three behind all earlier queries in the stable sort. They are registered
queries under the frozen-at-150 capacity policy (``__spark_entry__.py``):
an implementation change here consumes a rotation slot like any other.

The three shapes (the r6 CHANGELOG ranking, endorsed by the r6 verdict):

* ``similarity_topk_batch`` — multi-query ANN: a BATCH of query vectors
  scored against the corpus in one broadcast pass (the registered
  ``similarity_topk_cosine`` is single-query; batch is the genuinely
  missing similarity shape — embedding-dedup and retrieval-eval both
  score thousands of queries at once).
* ``events_anomaly_mad`` — median-absolute-deviation outlier screen per
  event type, medians computed with the GROUPED distributed-rank helper
  (``scale.distributed_global_percentiles``) so no per-type population
  ever funnels through a single sort task.
* ``text_unigram_logprob`` — corpus-LM quality proxy: per-document mean
  unigram log-probability under the corpus unigram distribution (the
  classic cheap perplexity stand-in for filtering web-scale text).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vec_dot as _dot, vec_sq_norm as _sq_norm
from ..sources import load_table
from .registry import register
from .similarity import DUCK_VEC_USABLE, _vec_usable


@register(
    "similarity_topk_batch",
    oracle=f"""
    WITH emb AS (
        SELECT * FROM embeddings
        WHERE {DUCK_VEC_USABLE}
    ),
    qids AS (SELECT DISTINCT vec_id FROM emb ORDER BY vec_id LIMIT 5),
    q AS (
        SELECT e.vec_id AS q_id, e.embedding AS q_emb
        FROM emb e WHERE e.vec_id IN (SELECT vec_id FROM qids)
    ),
    corpus AS (
        SELECT * FROM emb WHERE vec_id NOT IN (SELECT vec_id FROM qids)
    ),
    scored AS (
        SELECT q.q_id, c.vec_id, c.label,
               ROUND(
                 list_sum(list_transform(list_zip(c.embedding, q.q_emb),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(c.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * SQRT(list_sum(list_transform(q.q_emb,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) AS cosine
        FROM corpus c CROSS JOIN q
    ),
    ranked AS (
        SELECT q_id, vec_id, label, cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        FROM scored
    )
    SELECT q_id, vec_id, label, cosine, rank FROM ranked WHERE rank <= 10
    """,
)
def similarity_topk_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-10 for a BATCH of query vectors in one pass.

    Scale shape: the query batch (here the 5 lowest vec_ids — in
    production the day's incoming queries) broadcasts with its norms
    precomputed; scoring is a single map-side pass over the corpus (one
    scan, no corpus shuffle). The top-k itself is TWO-STAGE: a first
    window partitioned by (q_id, vec_id mod 8) keeps 10 candidates per
    bucket, so the final per-q_id window ranks at most 8x10 rows per
    query instead of the whole corpus — a plain partitionBy(q_id) window
    would funnel every corpus row for a query through one sort task,
    which with a handful of queries is a single-task scan of 100 TB.
    Cosine rounds to 4 decimals before ranking; ties break on vec_id, so
    the ordering is engine-exact (same discipline as
    ``similarity_topk_cosine``, similarity.py).

    At-least-once contract (r11, this query's due slot; r10 duplication
    lens): the query batch derives from the 5 lowest ids — under
    duplicated input a raw ``LIMIT 5`` collapsed the batch to 3
    distinct queries, and this side's qids JOIN additionally MULTIPLIED
    each query's rows by its id's copy count (4 scored copies vs the
    oracle's IN-semantics 2), shifting every rank. ``DISTINCT vec_id``
    before ORDER BY/LIMIT now applies on BOTH engines — multiplicities
    agree everywhere downstream and the batch is 5 real queries again.
    Regression pin in ``tests/test_r11_window_fixes.py``; vec_id is
    unique at every SF (fixture-identical).

    Usable-vector contract (same r11 slot; nonfinite lens): a
    NaN-component corpus vector scores a NaN cosine — Spark ROUNDs it
    to NaN (sorted as greatest: it OUTRANKS every real neighbor) while
    the oracle's NaN handling shifted every rank below it. Unusable
    vectors (NULL/NaN/Inf components — ``functions.vec_finite``) are
    now excluded from BOTH the query batch and the corpus on both
    engines; pin in ``tests/test_r11_window_fixes.py``.

    Dimension gate (r14, this query's due slot; r13 'giant' lens): the
    finite-only gate's green was COINCIDENTAL — a wrong-dimension but
    finite vector scores NULL cosine on Spark (zip_with pads NULLs, the
    fold propagates) vs a FINITE cosine on DuckDB (list_sum skips the
    pads), and only random-vector luck kept such vectors out of the
    top-10: one near-duplicate-of-a-query vector with two extra
    trailing dims entered DuckDB's top-10 while Spark dropped it. Both
    engines now gate on the FULL usable-embedding contract (dimension +
    finite — ``similarity.DUCK_VEC_USABLE`` / ``_vec_usable``, the same
    r13 contract the other five similarity consumers landed in their
    own slots). Fixture-invisible (every fixture embedding is 64-dim);
    premeasured in the r14 premeasure suite, promoted to the regression
    pin in ``tests/test_r14_window_fixes.py``.
    """
    from pyspark.sql import Window as W

    emb = load_table(spark, sf, "embeddings").where(_vec_usable("embedding"))
    # Query selection stays IN-plan (no driver collect): lowest 5 ids.
    qids = emb.select("vec_id").distinct().orderBy("vec_id").limit(5)
    queries = emb.join(F.broadcast(qids), "vec_id").select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(_sq_norm("embedding")).alias("q_norm"),
    )
    corpus = emb.join(F.broadcast(qids), "vec_id", "left_anti")
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "q_id",
        "vec_id",
        "label",
        # NULLIF mirrors _cosine_vs_query: zero-norm vectors score NULL
        # instead of raising ANSI DIVIDE_BY_ZERO.
        F.round(
            _dot("embedding", "q_emb")
            / F.nullif(
                F.sqrt(_sq_norm("embedding")) * F.col("q_norm"), F.lit(0.0)
            ),
            4,
        ).alias("cosine"),
    )
    w_bucket = W.partitionBy("q_id", F.pmod(F.col("vec_id"), F.lit(8))).orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    candidates = (
        scored.withColumn("__rn", F.row_number().over(w_bucket))
        .where(F.col("__rn") <= 10)
        .drop("__rn")
    )
    w_final = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w_final).cast("long"))
        .where(F.col("rank") <= 10)
        .select("q_id", "vec_id", "label", "cosine", "rank")
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL AND isfinite(value)),
    med AS (
        SELECT event_type, median(value) AS median_value
        FROM ev GROUP BY event_type
    ),
    d AS (
        SELECT ev.event_type, ev.value, med.median_value,
               ABS(ev.value - med.median_value) AS dev
        FROM ev JOIN med USING (event_type)
    ),
    mad AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY event_type)
    SELECT d.event_type,
           ROUND(MIN(d.median_value), 6) AS median_value,
           ROUND(MIN(mad.mad), 6) AS mad,
           CAST(COUNT(CASE WHEN d.dev > 3 * mad.mad THEN 1 END) AS BIGINT)
               AS n_outliers,
           COUNT(*) AS n_events
    FROM d JOIN mad USING (event_type)
    GROUP BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-type outlier screen: flag events whose value deviates
    from the type median by more than 3x the median absolute deviation —
    the standard robust alternative to z-scores (mean/stddev move with
    the outliers they are supposed to catch; the median/MAD pair does
    not).

    Scale shape: two grouped exact medians (value, then |value - median|)
    through the banded distributed-rank helper — event_type is a
    low-cardinality key, exactly the population a naive
    ``Window.partitionBy(event_type)`` would funnel through one sort task
    per type. Both median frames are per-type tiny and broadcast back;
    the final screen is one map-side pass + one grouped aggregation.
    Outlier comparison uses the UNROUNDED median/MAD (bit-identical in
    both engines: the same two doubles averaged, the same subtraction);
    the reported median/mad round to 6 decimals for display only.

    Pass count (r11 staging fix, this query's due slot; r9 verdict
    finding #2): MAD is irreducibly sequential (median -> deviations ->
    median-of-deviations -> flag), and each banded median adds its
    bounds/counts aggregate scans. The un-staged form re-derived events
    PLUS the first median inside every banded pass of the second median
    AND the final screen — a multiplicative re-scan that made this the
    registry's one plan outlier (81 pushed scans / 101 exchanges; next
    largest 9). The deviation frame now stages through the cache engine
    (``staging.stage_cache``, as the pipeline_* queries do) so the
    second median and the final screen read the materialized
    (event_id, event_type, value, median_value, dev) columns instead:
    the plan collapses to 2 pushed scans / 18 exchanges, value-exact by
    construction (staging only changes where the second pass reads
    from). Regression + plan pin in ``tests/test_r11_window_fixes.py``.
    At 100 TB the staged table is the corpus projected to 5 columns —
    one write amortized against ~80 re-scans.
    """
    from .registry import finite_or_null
    from .scale import grouped_exact_median
    from .staging import stage_cache

    # A robust screen over bad telemetry drops unreadable values
    # identically on both engines: NULLs (no reading) and non-finite
    # values (r11 nonfinite lens — an Inf value makes the banded
    # median's bucket math degenerate (step = inf), and NaN deviations
    # rank differently per engine). finite_or_null + isNotNull = finite
    # only.
    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & finite_or_null("value"))
        .select("event_id", "event_type", "value")
    )
    med = grouped_exact_median(
        ev, "value", "event_type", "median_value", tiebreak_col="event_id"
    )
    staged_dev = stage_cache(
        ev.join(F.broadcast(med), "event_type").withColumn(
            "dev", F.abs(F.col("value") - F.col("median_value"))
        ),
        "anomaly_mad_dev",
    )
    mad = grouped_exact_median(
        staged_dev, "dev", "event_type", "mad", tiebreak_col="event_id"
    )
    return (
        staged_dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("median_value"), 6).alias("median_value"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count(F.when(F.col("dev") > 3 * F.col("mad"), 1)).alias(
                "n_outliers"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    total AS (SELECT SUM(cnt) AS total FROM vocab),
    logp AS (
        SELECT token,
               CAST(ROUND(LN(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS logp
        FROM vocab CROSS JOIN total
    ),
    agg AS (
        SELECT t.doc_id, COUNT(*) AS n_tokens, SUM(l.logp) AS s
        FROM toks t JOIN logp l ON t.token = l.token
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(CASE WHEN s < 0 THEN -1 ELSE 1 END
                * ((2 * CAST(abs(s) * 1000000 AS BIGINT) + n_tokens)
                   // (2 * n_tokens)) AS DOUBLE) / 1000000.0 AS mean_logprob
    FROM agg
    """,
)
def text_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-LM quality score: per-document mean unigram log-probability
    under the corpus's own unigram distribution — the cheap perplexity
    proxy used to rank web-scale text before an expensive model-based
    filter (gibberish and boilerplate score far below median prose).

    Scale shape: one explode + map-side token counts build the vocabulary;
    the corpus total rides a broadcast single-row cross join (in-plan, no
    driver collect); scoring joins the token stream against the vocab
    UNHINTED — the distinct-token vocabulary of 100 TB of web text is
    billions of entries (Heaps' law + URL/typo noise), so a forced
    broadcast is the r5 OOM class (r8 verdict finding #1); AQE broadcasts
    while small, else a shuffle hash join on `token` with both sides
    partial-aggregated — then aggregates by doc_id (partial map-side, one
    shuffle on doc_id). Float discipline:
    each token's ln(p) rounds to 6 decimals and SUMS AS DECIMAL(18,6)
    (association-independent, so the per-doc mean is identical under any
    partitioning and matches the oracle exactly).

    Integer-space tie rounding (r14, this query's due slot; r12
    'unicode' lens — mechanism is rounding, not Unicode): the old
    ``ROUND(SUM/n, 6)`` diverged whenever the mean landed on an EXACT
    RATIONAL HALF at the 6th decimal (sum_micro*2 % (2n) == n) — the
    IEEE double cannot represent the tie, so Spark's HALF_UP over the
    double's full decimal expansion and DuckDB's multiply-by-1e6-then-
    round disagreed. The real fixtures carry 5 (sf0.001) / 7 (sf0.01)
    such tie docs where the two float paths agreed only by coincidence.
    The mean now rounds in pure INTEGER space on both engines:
    sum_micro = CAST(s * 1e6 AS BIGINT) (exact — s has scale 6), then
    mean_micro = sign(s) * ((2*|sum_micro| + n) DIV (2n)) — half-away-
    from-zero by construction, bit-specified integer division on both
    engines, tie class ELIMINATED rather than dodged. Fixture-VISIBLE
    (the tie docs shifted 1e-6; impl and oracle landed together in the
    same slot). Premeasured in the r14 premeasure suite, promoted to
    the regression pin in ``tests/test_r14_window_fixes.py``.
    """
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("logp"),
    )
    agg = (
        toks.join(logp, "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("logp").alias("s"))
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        F.expr(
            "CAST(CASE WHEN s < 0 THEN -1 ELSE 1 END "
            "* ((2*CAST(abs(s)*1000000 AS BIGINT) + n_tokens) "
            "DIV (2*n_tokens)) AS DOUBLE) / 1000000.0"
        ).alias("mean_logprob"),
    )
