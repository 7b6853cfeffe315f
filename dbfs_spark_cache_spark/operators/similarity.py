"""Similarity search over the embeddings table ([NS] north-star).

Brute-force cosine top-k is the exactness baseline; the scale paths are
LSH-style bucketing (axis-sign signatures here; random hyperplanes in
tests) and IVF-style partition pruning. All vector math stays JVM-side via
higher-order functions (``aggregate``/``zip_with``) — no Python in the
per-row path.


r10 (the four consumers' shared due slot — pre-pinned at r9;
variant-parity pin now in tests/test_r10_window_fixes.py): the sign-bit LSH bucket
comprehension that was hand-kept in four places (similarity_lsh_buckets
8-bit, similarity_ivf_search 4-bit, similarity_multiprobe integer
variant, dedup.dedup_embedding_cosine 8-bit) is now the shared
``functions.sign_bits_str`` / ``sign_bits_int`` pair — the same
hand-kept-copy drift class the r8 text.py cleaning-chain extraction
fixed, landed slot-neutrally when all four came due together.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    sign_bits_int as _sign_bits_int,
    sign_bits_str as _sign_bits_str,
    vec_dot as _dot,
    vec_finite as _vec_finite,
    vec_sq_norm as _sq_norm,
)
from ..sources import load_table
from .registry import register
from .staging import stage_cache as _stage_cache

# SQL twin of functions.vec_finite — the usable-embedding contract the
# r11 nonfinite lens established (see vec_finite's docstring): a vector
# with NULL / NaN / ±Inf components is not an embedding to score.
DUCK_VEC_FINITE = (
    "(embedding IS NOT NULL AND len(list_filter(embedding, "
    "x -> x IS NULL OR NOT isfinite(x))) = 0)"
)

# The corpus embedding dimensionality (the fixture model's 64; a
# production pipeline sets its own model's dim). r13 giant lens extended
# the usable-embedding contract to DIMENSION: a perfectly-finite vector
# of the wrong length is not an embedding from this model — a truncated
# one crashed every sign-bit consumer outright (ANSI element_at OOB,
# since hardened to F.get in functions.sign_bits_*), a longer one made
# zip_with pad with NULLs that Spark's fold propagates and DuckDB's
# list_sum silently skips (pairs existing on exactly one engine), and an
# empty one scored a 0.0 Spark norm against DuckDB's NULL. Scoring and
# bucketing paths gate on the FULL contract below; diagnostics queries
# (embedding_norms reports dim per vector) keep wrong-dim rows visible.
EXPECTED_DIM = 64
DUCK_VEC_USABLE = f"(len(embedding) = {EXPECTED_DIM} AND {DUCK_VEC_FINITE})"


def _vec_usable(col: str = "embedding"):
    """Spark twin of :data:`DUCK_VEC_USABLE`."""
    return (F.size(col) == EXPECTED_DIM) & _vec_finite(col)


@register(
    "embedding_norms",
    oracle=f"""
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(SQRT(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings WHERE {DUCK_VEC_FINITE}
    """,
)
def embedding_norms(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector L2 norms via JVM-side fold — the building block every
    similarity query reuses. Per-row math only: no cross-row float
    accumulation, so the oracle matches.

    Usable-vector contract (r11, this query's due slot; nonfinite lens):
    vectors with NULL/NaN/±Inf components are excluded on BOTH engines —
    a NULL component NULL-propagates Spark's fold while DuckDB's
    list_sum skips it (silent norm drift); NaN/Inf poison the fold on
    both. Regression pin in tests/test_r11_window_fixes.py;
    fixture-identical (every fixture embedding is finite and dense).

    Empty-vector contract (r14, this query's due slot; r13 'giant'
    lens): the EMPTY vector [] passes vec_finite on both engines (no
    bad component to find), but Spark's fold-over-nothing yielded norm
    0.0 while DuckDB's list_sum([]) is NULL. This query is a DIAGNOSTIC
    (it reports dim per vector), so wrong-dim rows stay VISIBLE rather
    than being gated on DUCK_VEC_USABLE; the fix is the SQL
    aggregate-over-no-values convention on the Spark side — a vector
    with no components has no norm (NULL), matching the unchanged
    oracle. Fixture-invisible (no fixture vector is empty); premeasured
    in the r14 premeasure suite, promoted to the regression pin in
    ``tests/test_r14_window_fixes.py``."""
    emb = load_table(spark, sf, "embeddings").where(_vec_finite("embedding"))
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.when(
            F.size("embedding") > 0,
            F.round(F.sqrt(_sq_norm("embedding")), 6),
        ).alias("l2_norm"),
    )




def _min_id_query_row(frame: DataFrame, extra: dict | None = None) -> DataFrame:
    """Single-row broadcast query frame ``(q_id, q_emb, q_norm[, extras])``
    selected IN-plan from the minimum vec_id — no driver ``collect()``
    (one job instead of two, and the cache fingerprint tracks the query,
    not a data-dependent literal). The single source of the query-row
    extraction every single-query search here shares; ``extra`` maps
    source column -> alias for search-specific columns (e.g. the bucket).
    """
    q_id = frame.agg(F.min("vec_id").alias("q_id"))
    cols = [
        "q_id",
        F.col("embedding").alias("q_emb"),
        F.sqrt(_sq_norm("embedding")).alias("q_norm"),
    ]
    for src, alias in (extra or {}).items():
        cols.append(F.col(src).alias(alias))
    return frame.join(
        F.broadcast(q_id), F.col("vec_id") == F.col("q_id")
    ).select(*cols)


def _cosine_vs_query():
    """Rounded cosine of the corpus ``embedding`` against the broadcast
    query row's ``q_emb``/``q_norm`` — 4 decimals before any ranking so
    orderings are engine-exact; shared by every scorer in this module
    (and the pending batch variant)."""
    # NULLIF: a zero corpus or query vector is a NULL cosine (dropped or
    # sorted last on both engines), not an ANSI DIVIDE_BY_ZERO that kills
    # the whole search.
    return F.round(
        _dot("embedding", "q_emb")
        / F.nullif(
            F.sqrt(_sq_norm("embedding")) * F.col("q_norm"), F.lit(0.0)
        ),
        4,
    ).alias("cosine")


@register(
    "similarity_topk_cosine",
    oracle=f"""
    WITH u AS (
        SELECT * FROM embeddings
        WHERE {DUCK_VEC_USABLE}
    ),
    q AS (
        SELECT embedding AS q_emb
        FROM u
        WHERE vec_id = (SELECT MIN(vec_id) FROM u)
    ),
    scored AS (
        SELECT e.vec_id, e.label,
               ROUND(
                 list_sum(list_transform(list_zip(e.embedding, q.q_emb),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * SQRT(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
               4) AS cosine
        FROM u e CROSS JOIN q
        WHERE e.vec_id <> (SELECT MIN(vec_id) FROM u)
    )
    SELECT vec_id, label, cosine
    FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def similarity_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k against one query vector.

    The query side is a broadcast single row; scoring is a map-only pass over
    the corpus followed by TakeOrdered — exactly the plan you want at 100 TB
    (no shuffle before the top-k heap). Ties broken by vec_id; cosine rounded
    so ordering is reproducible across engines.

    The query-vector selection stays INSIDE the plan (broadcast join on the
    min-id aggregate) — no driver-side ``collect()``: one job instead of two,
    and the cache fingerprint tracks the query, not a data-dependent literal.

    r13 (landed in this query's due slot; giant lens): both the corpus
    AND the query-row selection now score only USABLE vectors
    (dimension + finite, DUCK_VEC_USABLE) — a longer-than-model vector
    zipped against the 64-dim query made Spark's fold NULL while
    DuckDB's list_sum skipped the padded NULLs, a coincidentally-green
    ranking one cosine away from divergence. Fixture-invisible.
    """
    emb = load_table(spark, sf, "embeddings").where(_vec_usable())
    # The query norm rides in the broadcast row — computed once, not
    # re-folded against every corpus row.
    query = _min_id_query_row(emb)
    scored = (
        emb.crossJoin(F.broadcast(query))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("vec_id", "label", _cosine_vs_query())
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10)


@register(
    "similarity_lsh_buckets",
    oracle=f"""
    SELECT CONCAT(
               CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END
           ) AS bucket,
           COUNT(*) AS n_vectors,
           COUNT(DISTINCT label) AS n_labels
    FROM embeddings
    WHERE {DUCK_VEC_USABLE}
    GROUP BY 1
    """,
)
def similarity_lsh_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Sign-bit LSH bucketing (axis-aligned hyperplanes on the first 8 dims).

    The scale pattern: assign every vector an 8-bit signature, search only
    within (or near) the query's bucket — turns 100 TB brute force into a
    256-way partition-pruned scan. Random-hyperplane variants are in
    functions.vectors + tests.

    r13 (landed in this query's due slot; giant lens): only USABLE
    vectors are bucketed — the full contract (dimension + finite, see
    DUCK_VEC_USABLE) on BOTH engines. A truncated vector used to crash
    the whole pass via ANSI element_at. Fixture-invisible (every
    fixture embedding is 64-dim, finite, dense)."""
    emb = load_table(spark, sf, "embeddings").where(_vec_usable())
    return emb.groupBy(
        _sign_bits_str("embedding", 8).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
    )


@register(
    "similarity_multiprobe",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, label, embedding,
               (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
                + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
        FROM embeddings
        WHERE {DUCK_VEC_USABLE}
    ),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
        FROM b WHERE vec_id = (SELECT MIN(vec_id) FROM b)
    ),
    probes AS (
        SELECT q_id, q_emb,
               UNNEST([q_bucket, xor(q_bucket, 1), xor(q_bucket, 2),
                       xor(q_bucket, 4), xor(q_bucket, 8)]) AS probe
        FROM q
    )
    SELECT b.vec_id, b.label, b.bucket,
           ROUND(
             list_sum(list_transform(list_zip(b.embedding, p.q_emb),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)))
             / (SQRT(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * SQRT(list_sum(list_transform(p.q_emb,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cosine
    FROM b JOIN probes p ON b.bucket = p.probe AND b.vec_id <> p.q_id
    ORDER BY cosine DESC, b.vec_id
    LIMIT 10
    """,
)
def similarity_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe LSH ANN: search the query's cell PLUS its four hamming-1
    neighbor cells (flip one signature bit per probe).

    The standard recall lever when a single-bucket probe misses boundary
    vectors: probing 5 of 16 cells scans ~31% of the corpus here, but at a
    realistic signature width (say 20 bits -> 1M cells) the same 1+k probes
    scan a vanishing fraction while recovering most boundary losses — more
    recall per byte than widening the index. Plan shape: the 5 probe rows
    broadcast, candidates arrive via hash join on the cell id, exact cosine
    + TakeOrdered on top. Deterministic, so fully oracle-checked.

    The bucket table IS the ANN index, and it is corpus-dependent but
    query-independent — so it stages through the cache engine
    (staging.stage_cache), keyed on the embedding table's plan fingerprint
    + file mtimes. The first search over a corpus builds and persists the
    index; every later search (any query vector) starts from a columnar
    table scan of the cached index, and a corpus change rebuilds it via
    the ordinary invalidation path. Falls back to the inline plan where
    cache storage is unavailable.

    r13 (landed in this query's due slot; giant lens): only USABLE
    vectors (dimension + finite, DUCK_VEC_USABLE) enter the staged
    index or the probes, on BOTH engines — see similarity_ivf_search.
    Fixture-invisible; the staged index rebuilds once (its input plan
    changed).
    """
    emb = load_table(spark, sf, "embeddings").where(_vec_usable())
    bucketed = _stage_cache(
        emb.select(
            "vec_id",
            "label",
            "embedding",
            _sign_bits_int("embedding", 4).alias("bucket"),
        ),
        "ann_sign_index",
    )
    q = _min_id_query_row(bucketed, extra={"bucket": "q_bucket"})
    probes = q.select(
        "q_id",
        "q_emb",
        "q_norm",
        F.explode(
            F.array(
                F.col("q_bucket"),
                *[F.col("q_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(4)],
            )
        ).alias("probe"),
    )
    return (
        bucketed.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("vec_id", "label", "bucket", _cosine_vs_query())
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "similarity_ivf_search",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, label, embedding,
               CONCAT(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
                      CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings
        WHERE {DUCK_VEC_USABLE}
    ),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
        FROM b WHERE vec_id = (SELECT MIN(vec_id) FROM b)
    )
    SELECT b.vec_id, b.label, b.bucket,
           ROUND(
             list_sum(list_transform(list_zip(b.embedding, q.q_emb),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (SQRT(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * SQRT(list_sum(list_transform(q.q_emb,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) AS cosine
    FROM b JOIN q ON b.bucket = q.q_bucket AND b.vec_id <> q.q_id
    ORDER BY cosine DESC, b.vec_id
    LIMIT 5
    """,
)
def similarity_ivf_search(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: cluster by coarse signature, search the query's cell
    plus neighbors (here: exact top-5 inside the query's sign-bucket).

    Demonstrates the prune-then-score pattern. "Approximate" refers to
    recall vs brute force (asserted in tests/test_operators_pipeline.py);
    the result itself is fully deterministic, so it carries an exact DuckDB
    oracle. Query selection is an in-plan broadcast join (no driver
    ``collect()``).

    r13 (landed in this query's due slot; giant lens): only USABLE
    vectors (dimension + finite, DUCK_VEC_USABLE) enter the index or
    the query selection, on BOTH engines — a truncated vector crashed
    the signature pass via ANSI element_at. Fixture-invisible.
    """
    emb = load_table(spark, sf, "embeddings").where(_vec_usable())
    # Coarser cells than the LSH query (4 bits -> 16 cells) so each inverted
    # list holds a meaningful candidate set at fixture scale.
    bucketed = emb.select(
        "vec_id",
        "label",
        "embedding",
        _sign_bits_str("embedding", 4).alias("bucket"),
    )
    query = _min_id_query_row(bucketed, extra={"bucket": "q_bucket"})
    return (
        bucketed.join(
            F.broadcast(query),
            (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("vec_id", "label", "bucket", _cosine_vs_query())
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


_KM_K = 4          # clusters
_KM_DIM = EXPECTED_DIM  # embedding dimensionality — tied to the usable gate:
                        # the r14 dim gate guarantees every vector reaching
                        # the element_at(q, 1.._KM_DIM) centroid sums has
                        # exactly this many components
_KM_Q = 1_000_000  # quantization scale: float32 -> integer micro-units
# Quantization domain: |x| * _KM_Q must fit a signed 64-bit integer.
# Vectors at or beyond this bound are excluded on BOTH engines (r11 fix,
# r9 third review batch) — one corrupt embedding must not crash the pass.
_KM_QUANT_BOUND = 9.2e18 / _KM_Q


def _kmeans_oracle() -> str:
    sum_cols = ",\n               ".join(
        f"SUM(q[{d + 1}]) AS s{d}" for d in range(_KM_DIM)
    )
    sum_list = ", ".join(f"s{d}" for d in range(_KM_DIM))
    dist = (
        "list_sum(list_transform(list_zip(e.q, c.cs), p -> "
        "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / c.cn) "
        "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / c.cn)))"
    )
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {_KM_Q}, 0) AS BIGINT)) AS q
        FROM embeddings WHERE {DUCK_VEC_USABLE}
          AND list_max(list_transform(embedding, x -> abs(x))) < {_KM_QUANT_BOUND}
    ),
    c0 AS (
        SELECT vec_id AS cluster, q AS cs, 1 AS cn FROM q WHERE vec_id < {_KM_K}
    ),
    a1 AS (
        SELECT vec_id, q, cluster FROM (
            SELECT e.vec_id, e.q, c.cluster,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist}, c.cluster) AS rn
            FROM q e CROSS JOIN c0 c
        ) WHERE rn = 1
    ),
    c1sum AS (
        SELECT cluster,
               {sum_cols},
               COUNT(*) AS cn
        FROM a1 GROUP BY cluster
    ),
    c1 AS (SELECT cluster, [{sum_list}] AS cs, cn FROM c1sum),
    a2 AS (
        SELECT vec_id, cluster, d FROM (
            SELECT e.vec_id, c.cluster, {dist} AS d,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist}, c.cluster) AS rn
            FROM q e CROSS JOIN c1 c
        ) WHERE rn = 1
    )
    SELECT vec_id, cluster,
           ROUND(d / ({_KM_Q}.0 * {_KM_Q}.0), 6) AS dist2
    FROM a2"""


@register("embedding_kmeans_assign", oracle=_kmeans_oracle())
def embedding_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    """K-Means cluster assignment after two unrolled Lloyd iterations
    (k=4, init = the first k vectors) — the semantic-bucketing primitive a
    curation pipeline uses to stratify or downsample a corpus by embedding
    cluster.

    Exactness across engines (so even this ML loop is value-checked):
    embeddings quantize to integer micro-units up front, centroid state is
    the pair (per-dimension integer SUM, count) — exact and
    association-free under any partitioning — and distances divide the
    sums in double only inside the per-row array fold, which evaluates
    left-to-right identically in Spark and DuckDB (same recipe the cosine
    oracles rely on). Ties break on cluster id.

    Scale shape: each iteration is one broadcast of k centroid rows, a
    map-side distance computation, a per-vector window over k rows, and
    one map-side-combined groupBy for the update — the canonical
    distributed Lloyd step (centroid state is k x dim integers, nothing
    accumulates on the driver). Iterations are unrolled (fixed 2) rather
    than convergence-looped so the whole computation stays one lazy plan.

    Quantization-domain contract (r11, this query's due slot; r9 third
    review batch + nonfinite lens): a vector whose magnitude exceeds
    the micro-unit domain (|x| >= ~9.2e12 with _KM_Q = 1e6) CRASHED
    Spark's ANSI double->bigint cast — one corrupt embedding killing
    the pass (the r8 ANSI-crash class) — and a NULL-component vector
    NULL-propagated Spark's distance fold while DuckDB's list_sum
    skipped the component (silent assignment drift). Both engines now
    exclude unusable vectors (``vec_finite`` — NULL/NaN/Inf components)
    AND unquantizable magnitudes (``array_max(|x|) <
    _KM_QUANT_BOUND``); regression pins in
    ``tests/test_r11_window_fixes.py``. No fixture vector comes within
    9 orders of magnitude of the bound (fixture-identical at every SF).

    Dimension gate (r14, this query's due slot; r13 'giant' lens): a
    TRUNCATED but perfectly-finite vector passed the finite+quant-bound
    gate and CRASHED Spark's centroid sums outright — the per-dimension
    ``element_at(q, d)`` over all ``_KM_DIM`` positions is an ANSI
    INVALID_ARRAY_INDEX past the short vector's end, while DuckDB's
    ``q[d]`` returns NULL and the oracle kept serving rows. At 100 TB
    one corrupt embedding killing a full K-Means pass is a 6-hour retry
    loop, not a quarantine row. Both engines now gate on the FULL
    usable-embedding contract (dimension + finite — ``DUCK_VEC_USABLE``
    / ``_vec_usable``) in addition to the quantization bound.
    Fixture-invisible (every fixture embedding is 64-dim); premeasured
    in the r14 premeasure suite, promoted to the regression pin in
    ``tests/test_r14_window_fixes.py``.
    """
    from pyspark.sql import Window as W

    emb = load_table(spark, sf, "embeddings").where(
        _vec_usable("embedding")
        & (
            F.array_max(F.transform("embedding", lambda x: F.abs(x)))
            < F.lit(_KM_QUANT_BOUND)
        )
    )
    quant = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(round(cast(x as double) * {_KM_Q}, 0) as bigint))"
        ).alias("q"),
    )
    init = quant.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"),
        F.col("q").alias("cs"),
        F.lit(1).cast("long").alias("cn"),
    )

    dist = F.expr(
        "aggregate(zip_with(q, cs, (x, s) -> "
        "(cast(x as double) - cast(s as double) / cn) "
        "* (cast(x as double) - cast(s as double) / cn)), "
        "0D, (acc, v) -> acc + v)"
    )

    def assign(centroids: DataFrame) -> DataFrame:
        w = W.partitionBy("vec_id").orderBy("d", "cluster")
        return (
            quant.crossJoin(F.broadcast(centroids))
            .select("vec_id", "q", "cluster", dist.alias("d"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    a1 = assign(init)
    sums = [
        F.sum(F.element_at("q", d + 1)).alias(f"s{d}") for d in range(_KM_DIM)
    ]
    c1 = (
        a1.groupBy("cluster")
        .agg(*sums, F.count(F.lit(1)).alias("cn"))
        .select(
            "cluster",
            F.array(*[F.col(f"s{d}") for d in range(_KM_DIM)]).alias("cs"),
            "cn",
        )
    )
    a2 = assign(c1)
    return a2.select(
        "vec_id",
        "cluster",
        F.round(F.col("d") / (float(_KM_Q) * _KM_Q), 6).alias("dist2"),
    )


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               CAST(list_max(list_transform(embedding, x -> abs(x)))
                    AS DOUBLE) AS scale,
               embedding
        FROM embeddings WHERE {DUCK_VEC_FINITE}
    ), quant AS (
        SELECT vec_id, dim, scale,
               CASE WHEN scale > 0 THEN
                   list_transform(embedding,
                                  x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / scale)
                                            AS BIGINT))
               ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        FROM q
    )
    SELECT vec_id, dim, scale,
           CAST(COALESCE(list_sum(qv), 0) AS BIGINT) AS q_sum,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           CAST(list_max(qv) AS BIGINT) AS q_max
    FROM quant
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving
    compression pass for embedding corpora (4x smaller than float32, and
    int8 dot products SIMD-accelerate downstream). Each vector carries its
    own scale (max |x| -> 127); the query emits the scale plus summary
    stats of the quantized codes so the oracle value-checks the actual
    quantized values without hashing a list cell (driver canonicalizer
    cannot hash list-valued columns — r2 finding).

    Scale shape: map-only (transform + aggregate inside the row, no
    explode, no shuffle); fuses into the scan. The scaling is double
    arithmetic: Spark promotes the float component to double for
    ``x * 127.0``, while DuckDB types ``FLOAT * 127.0`` as FLOAT, so the
    oracle casts the component to DOUBLE first. In float the product can
    land on the other side of a .5 rounding boundary (0.13007811 scaled by
    127/scale is 50.4999988 in double, 50.5000010 in float). q_min/q_max
    also pin the [-127, 127] range.

    Usable-vector contract (r11, this query's due slot; r9 third review
    batch + nonfinite lens): on a NULL embedding the engines DIVERGED —
    Spark carried the row with NULL dim/scale/q_sum while the oracle's
    list aggregates resolved it differently — an Inf component made
    scale infinite so ``inf * 127 / inf`` = NaN CRASHED the ANSI bigint
    cast, and a NULL component NULL-propagated Spark's q_sum fold while
    DuckDB's list_sum skipped it. ``vec_finite`` now gates BOTH engines
    (a vector with missing or non-finite components has no int8
    quantization); regression pins in
    ``tests/test_r11_window_fixes.py``. Every fixture embedding is
    finite and dense at every SF (fixture-identical).
    """
    emb = load_table(spark, sf, "embeddings").where(_vec_finite("embedding"))
    scale = F.array_max(
        F.transform("embedding", lambda x: F.abs(x))
    ).cast("double")
    with_scale = emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        scale.alias("scale"),
        "embedding",
    )
    quantize = F.when(
        F.col("scale") > 0,
        F.transform(
            "embedding",
            lambda x: F.round(x * 127.0 / F.col("scale")).cast("long"),
        ),
    ).otherwise(F.transform("embedding", lambda x: F.lit(0).cast("long")))
    quant = with_scale.withColumn("qv", quantize)
    return quant.select(
        "vec_id",
        "dim",
        "scale",
        F.aggregate("qv", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    )
