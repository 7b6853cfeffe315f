"""Content-addressed identity for DataFrames.

A DataFrame's cache identity is MD5 over a plain-text metadata document built
from (a) its input source directories + their latest modification times and
(b) the canonicalized logical/physical plan text. Same semantics as the
reference engine (reference: dbfs_spark_cache/core_caching.py:300-325 plan
canonicalization, :212-297 input fingerprint, :371-406 metadata + key), but
implemented against the public PySpark API plus the engine's own FS layer so
it runs identically on local[], YARN, or K8s clusters.

Scale note: everything here is driver-side metadata work — one py4j call for
``explain``, one for ``inputFiles()``, and one filesystem LIST per distinct
input *directory* (not per file). At 100 TB with thousands of input files the
directory-level mtime check stays O(#directories).
"""
from __future__ import annotations

import hashlib
import io
import logging
import re
import sys
import time
from contextlib import redirect_stdout
from datetime import datetime
from typing import Dict, Mapping, Optional, Tuple, Union

from pyspark.sql import DataFrame

from .. import fs, layout
from ..config import config
from ..hashing import find_cache_table_in_text

log = logging.getLogger(__name__)

# Sentinel keys used in the input-fingerprint mapping.
SCHEMA_CHANGED_KEY = "<schema_changed_placeholder>"
DIRECT_DATA_CACHE_KEY = "<direct_data_cache>"
# inputFiles() failed for a reason OTHER than schema change (transient
# metastore/FS error). The fingerprint must become unmatchable — degrading
# to a plan-only key would both WRITE an entry that later (correct) keys
# never find AND, worse, HIT such an entry after the inputs changed,
# serving stale data with no warning.
INPUT_LISTING_FAILED_KEY = "<input_listing_failed>"
# Value recorded for input directories that are themselves cache entries:
# the *path* (which embeds the 32-hex cache hash) participates in the
# fingerprint, the mtime does not (cache content is immutable for its key,
# so including mtimes would spuriously invalidate derived caches on
# repair/re-writes). Without the path line, two derived frames over
# different path-read cache entries with the same schema and operators
# would collide on identical metadata documents.
CACHED_INPUT_MARKER = "<cached-input>"

_EXPR_ID = re.compile(r"#\d+")
# Physical-plan node ids (Spark 3.4+/4.x print `[plan_id=NN]`) are allocated
# from a session-global counter — identical queries get different ids.
_PLAN_ID = re.compile(r"\[?plan_id=\d+\]?")
# Higher-order-function lambda variables print as `lambda x_<N>` where N is
# a session-global counter (like expr ids): the same transform()/aggregate()
# query gets x_1 on its first build and x_33 later. Without normalization no
# plan containing a lambda would ever hit its cache across builds. The
# pattern is anchored to the `lambda ` prefix the plan always prints
# (declaration and every reference; parsed plans quote it as `lambda 'x_1`)
# so a real column named x_1 — which prints WITHOUT the prefix — keeps its
# counter and two plans selecting x_1 vs x_2 get distinct cache keys.
# No trailing \b: after _EXPR_ID strips `#123` from `lambda x_1#123L`, the
# counter is followed directly by the attribute's type-suffix letter (x_1L).
_LAMBDA_VAR = re.compile(r"(?<=\blambda )('?\w+?)_\d+")
_WS = re.compile(r"\s+")
# SparkStringUtils.truncatedString elides long field lists in plan text as
# "... N more fields" when a node exceeds spark.sql.debug.maxToStringFields
# (default 25). A truncated rendering is NOT content-addressable: two plans
# differing only in the elided tail canonicalize IDENTICALLY and would share
# a cache key — a wrong-data hit (r12 fresh-eyes finding; reproduced with
# two 41-column projections differing in column 41 only).
_TRUNCATED_FIELDS = re.compile(r"\.\.\. \d+ more fields")
_MAX_FIELDS_CONF = "spark.sql.debug.maxToStringFields"


def canonical_plan(df: DataFrame, mode: Optional[str] = None) -> str:
    """Canonicalized logical-plan text for fingerprinting.

    Default mode "analyzed" stringifies the resolved logical plan — already
    computed when the DataFrame was built, so this is a single cheap py4j
    call, and it is invariant under optimizer/physical-planning changes
    (a Spark upgrade doesn't invalidate every cache). Mode "extended"
    reproduces the reference's behavior (full explain output, reference:
    core_caching.py:306-316). Both are normalized the same way: expression
    IDs (``#123``) and plan ids are stripped, whitespace collapsed, so
    semantically identical queries hash equal.
    """
    mode = mode or getattr(config, "PLAN_FINGERPRINT_MODE", "analyzed")

    def _render() -> str:
        # analyzed: one cheap py4j call on the already-resolved plan.
        if mode == "analyzed":
            try:
                return df._jdf.queryExecution().analyzed().toString()  # type: ignore[attr-defined]
            except Exception:
                pass  # fall through to the explain render below
        # The explain render serves BOTH the documented
        # PLAN_FINGERPRINT_MODE=extended and the analyzed-failure
        # fallback. It must live INSIDE _render (ADVICE r12 #2): the
        # truncation branch below re-invokes _render under a raised
        # maxToStringFields, and when this path returned None from
        # _render the re-render could never succeed — every >25-field
        # plan fell to the uuid-salted uncacheable branch, silently
        # defeating caching for all wide plans in extended mode.
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="extended")
        return buf.getvalue()

    try:
        raw = _render()
    except Exception as exc:  # pragma: no cover - defensive
        # ADVICE r13 #3: a bare f"Error: {exc}" is a COLLIDABLE
        # fingerprint — two different failing plans with identical
        # exception text would share a cache key (the same wrong-data-hit
        # class the truncation branch below uuid-salts). Salt the error
        # return the same way: loud and UNMATCHABLE, so a render failure
        # can never produce a shared key — the DataFrame recomputes each
        # run instead of risking a hit on someone else's data.
        import uuid

        log.warning(
            "plan render failed (%s) — fingerprint made unmatchable; this "
            "DataFrame cannot hit or create a reusable cache entry", exc,
        )
        return f"Error: {exc}\n<render-failed;uncacheable;id={uuid.uuid4().hex}>"

    if _TRUNCATED_FIELDS.search(raw):
        # The rendering elided fields ("... N more fields"): two plans
        # differing only in the elided tail would canonicalize equal and
        # SHARE A CACHE KEY — wrong data on the hit. Re-render with the
        # field limit raised (runtime SQLConf; restored in finally).
        try:
            sess = df.sparkSession
            old = sess.conf.get(_MAX_FIELDS_CONF, None)
            try:
                sess.conf.set(_MAX_FIELDS_CONF, str(2**31 - 1))
                full = _render()
            finally:
                if old is None:
                    sess.conf.unset(_MAX_FIELDS_CONF)
                else:
                    sess.conf.set(_MAX_FIELDS_CONF, old)
        except Exception as exc:
            log.warning("un-truncated plan re-render failed: %s", exc)
            full = None
        if full is not None and not _TRUNCATED_FIELDS.search(full):
            raw = full
        else:
            # Still truncated (foreign session refused the conf, or the
            # re-render itself failed): loud and UNMATCHABLE, never
            # a collidable key — this plan misses and rebuilds each run
            # (conversion cost) instead of risking a wrong-data hit.
            import uuid

            log.warning(
                "plan text remains field-truncated after raising %s — "
                "fingerprint made unmatchable; this DataFrame cannot hit "
                "or create a reusable cache entry", _MAX_FIELDS_CONF,
            )
            raw += f"\n<truncated-plan;uncacheable;id={uuid.uuid4().hex}>"
    # Reference parity (core_caching.py:320-321): on Photon-enabled
    # clusters the explain output annotates unsupported operators — surface
    # that, since a partially-Photon plan caches fine but recomputes slower.
    if "Photon does not fully support" in raw:
        log.info(
            "Photon limitations might affect this plan:%s",
            raw.split("Photon does not fully support the query because:")[-1][:500],
        )
    plan = _EXPR_ID.sub("", raw)
    plan = _PLAN_ID.sub("", plan)
    plan = _LAMBDA_VAR.sub(r"\1_", plan)
    plan = _WS.sub(" ", plan).strip()
    return plan


# Physical-plan nodes that evaluate user Python code. Scalar UDF nodes print
# the function name in their argument list; the map/grouped variants don't.
_SCALAR_PY_NODES = re.compile(r"(?:ArrowEvalPython|BatchEvalPython)\s*\[([^\]]*)\]")
_GROUPED_PY_NODES = re.compile(
    r"\b(FlatMapGroupsInPandas|MapInPandas|AggregateInPandas|FlatMapCoGroupsInPandas)\b"
)
_CA_NAME = re.compile(r"^\w+__[0-9a-f]{10}$")
_FN_NAME = re.compile(r"([\w.$]+|<lambda>)\(")


def _top_level_fn_names(args: str) -> list:
    """Function names at paren depth 0 of a Python-eval node's argument
    list. The node prints ``fname(<arg exprs>)#id, ...`` — only the OUTER
    name is the Python function; everything nested inside its parens is a
    Catalyst argument expression (``<lambda>(cast(a as string))`` must
    report ``<lambda>``, not also ``cast`` — a built-in is not a UDF and
    flagging it tells the user their cast() edits won't invalidate the
    cache, which is meaningless noise)."""
    depth = 0
    depths = []
    for ch in args:
        depths.append(depth)
        if ch == "(":
            depth += 1
        elif ch == ")":
            # Clamped at 0: the plan prints string literals RAW (lit(')')
            # renders as a bare ')'), so an unmatched close inside a
            # literal drove depth negative and every LATER top-level UDF
            # in the node silently missed the warning. Clamping re-syncs
            # the scanner at the entry boundary; the mirror case (a
            # literal '(' suppressing later names) remains — unfixable
            # without quoting, acceptable for a warn-only heuristic that
            # must err toward reporting.
            depth = max(0, depth - 1)
    return [
        m.group(1) for m in _FN_NAME.finditer(args) if depths[m.start()] == 0
    ]


def find_plain_udfs(df: DataFrame) -> list:
    """Names of Python-evaluated functions in ``df``'s physical plan whose
    code identity is NOT visible to the cache fingerprint.

    The plan text carries only the UDF's *name* — its body is invisible, so
    editing the function does not change the cache key (the reference ships
    the same caveat as a warning, reference: core_caching.py:318-319,
    README.md:196). ``functions.content_addressed_udf`` embeds a body hash
    in the plan-visible name (``fn__<10hex>``) and is exempt. Grouped-map /
    map-partitions pandas nodes never carry a name and are always flagged
    by node type.
    """
    try:
        phys = df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]
    except Exception:
        return []
    plain = []
    for args in _SCALAR_PY_NODES.findall(phys):
        for fname in _top_level_fn_names(args):
            short = fname.rsplit(".", 1)[-1]
            if not _CA_NAME.match(short) and short not in plain:
                plain.append(short)
    for node in _GROUPED_PY_NODES.findall(phys):
        if node not in plain:
            plain.append(node)
    return plain


def plan_is_uncacheable(plan: str) -> bool:
    """RDD-backed plans have no stable content identity (reference:
    dataframe_extensions.py:47-49). "Scan ExistingRDD" is the physical-plan
    marker; "LogicalRDD" its analyzed-plan equivalent."""
    return "Scan ExistingRDD" in plan or "LogicalRDD" in plan


_InputInfo = Union[Dict[str, datetime], Dict[str, bool], Dict[str, str]]


def input_dir_mod_datetime(df: DataFrame, plan: Optional[str] = None) -> _InputInfo:
    """Map of input source directory -> latest file modification time.

    Special cases (mirroring reference core_caching.py:212-297):

    * plan reads a ``data_*`` cache table -> ``{}`` (identity comes from the
      plan text, which embeds the content-addressed table name);
    * schema-changed error from ``inputFiles()`` -> a sentinel entry carrying
      ``now()`` so the key never matches (forced invalidation);
    * directories that *are* cache entries (32-hex names under the cache dir)
      contribute their PATH but not their mtime — a cached scan's identity is
      the cache hash embedded in the path (the table name is absent from the
      plan on the path-fallback read), and cache content is immutable for its
      key so the physical mtime is noise.
    """
    plan_text = plan if plan is not None else canonical_plan(df)

    if find_cache_table_in_text(plan_text, config.CACHE_DATABASE, "data_"):
        return {}

    try:
        files = df.inputFiles()
    except Exception as exc:
        # Sentinel timestamps render through the same UTC-naive form as
        # real mtimes (fs._utc_naive) — unmatchability comes from the
        # sentinel KEY plus the fresh timestamp, and a consistent
        # rendering keeps the key format uniform across zones
        # (ADVICE r8 #5 consistency note).
        if "SCHEMA_CHANGE" in str(exc).upper():
            return {SCHEMA_CHANGED_KEY: fs._utc_naive(time.time())}
        log.warning(
            "inputFiles() failed (%s); fingerprint made unmatchable — "
            "this run cannot hit or create a reusable cache entry", exc
        )
        return {INPUT_LISTING_FAILED_KEY: fs._utc_naive(time.time())}

    if not files:
        return {}

    import os

    dirs = sorted({os.path.dirname(f) for f in files})
    # Cache-entry data directories contribute a mtime-free path line (the
    # path embeds the cache hash — see CACHED_INPUT_MARKER).
    skip_res = layout.cached_input_patterns()

    result: Dict[str, Union[datetime, str]] = {}
    for d in dirs:
        local = fs.strip_scheme(d)
        if any(rx.search(local) for rx in skip_res):
            result[d] = CACHED_INPUT_MARKER
            continue
        mtime = fs.max_mtime(d)
        if mtime is not None:
            result[d] = mtime
    return result


def cache_metadata_document(
    input_info: Mapping[str, Union[datetime, bool]], plan: str
) -> str:
    """Render the byte-stable metadata document whose MD5 is the cache key.

    The exact text format is a correctness interface: any drift silently
    invalidates every existing cache (reference: core_caching.py:371-388).
    """
    lines = []
    for path, value in input_info.items():
        if isinstance(value, datetime):
            lines.append(f"  {path}: {value:%Y-%m-%d %H:%M:%S}")
        else:
            lines.append(f"  {path}: {value}")
    sources = "\n".join(lines)
    return (
        "INPUT SOURCES MODIFICATION DATETIMES:\n"
        f"{sources}\n"
        "\n"
        "DATAFRAME QUERY PLAN:\n"
        f"{plan}"
    )


def compute_cache_key(metadata_txt: str) -> str:
    return hashlib.md5(metadata_txt.encode("utf-8")).hexdigest()


def table_cache_info(
    input_info: Mapping[str, Union[datetime, bool]],
    plan: str,
    hash_name: Optional[str] = None,
    cache_path_base: Optional[str] = None,
) -> Tuple[str, str, str, str]:
    """(hash, cache_dir, metadata_file_path, metadata_txt) for a query."""
    metadata_txt = cache_metadata_document(input_info, plan)
    key = hash_name if hash_name is not None else compute_cache_key(metadata_txt)
    sidecars = layout.sidecar_dir(key, cache_path_base)
    return key, f"{sidecars}/", layout.metadata_path(sidecars), metadata_txt


def _is_pure_scan_of(plan: str, db: str, table: str) -> bool:
    """True when the plan is nothing but a scan of ``db.table`` (possibly
    under aliases).

    Whitelist formulation: remove the relation node for this exact table,
    alias nodes, and explain headers — then ANY remaining capitalized token
    is an operator (Deduplicate, GlobalLimit, Sample, Intersect, Except,
    Repartition, ...) and disqualifies purity. A blacklist of known operator
    names misses nodes like Deduplicate/GlobalLimit and lets
    ``clearStorageCache()`` on ``df.limit(5)`` silently drop the parent's
    cache; the whitelist can only err toward "not pure", which merely costs
    a fresh fingerprint, never a wrong short-circuit."""
    ident = rf"\S*{re.escape(db)}\.`?{re.escape(table)}`?\S*"
    # Analyzed-plan layout: `Relation spark_catalog.db.tbl[cols] parquet`
    remainder = re.sub(rf"Relation\s+{ident}\s*\[[^\]]*\]\s*\S+", "", plan)
    # Older/bracket-first layout: `Relation [cols] db.tbl parquet`
    remainder = re.sub(rf"Relation\s*\[[^\]]*\]\s+{ident}", "", remainder)
    remainder = re.sub(r"SubqueryAlias\s+\S+", "", remainder)
    remainder = re.sub(
        r"== (Parsed Logical Plan|Analyzed Logical Plan|Optimized Logical Plan|Physical Plan) ==",
        "", remainder)
    return not re.search(r"[A-Z]", remainder)


def pure_scan_entry(plan: str) -> Optional[str]:
    """The cache entry (``data_*`` or 32-hex) that ``plan`` is nothing but
    a scan of, or None. A plan that merely embeds a cache table (a filter or
    join on top of a cached scan) is not a pure scan."""
    db = config.CACHE_DATABASE
    for prefix in ("data_", ""):
        table = find_cache_table_in_text(plan, db, prefix)
        if table is not None and _is_pure_scan_of(plan, db, table):
            return table
    return None


def resolve_table_hash(df: DataFrame) -> str:
    """Full identity resolution with the reference's short-circuits
    (reference: core_caching.py:527-571):

    1. DataFrame tagged as a direct-data cache -> its recorded ``data_*`` hash.
    2. Plan that is a *pure scan* of a cache table -> that table's hash.
    3. Otherwise MD5 of the metadata document.

    A derived frame (filter/join on top of a cached scan) gets its own
    identity, so clearing it never drops the parent's cache. (The reference
    returns the embedded hash for any referencing plan — a footgun
    deliberately not reproduced.)
    """
    if getattr(df, "_is_direct_data_cache", False):
        tagged = getattr(df, "_direct_data_cache_hash", None)
        if tagged:
            return tagged

    plan = canonical_plan(df)
    scanned = pure_scan_entry(plan)
    if scanned is not None:
        return scanned
    return compute_cache_key(
        cache_metadata_document(input_dir_mod_datetime(df, plan), plan)
    )
