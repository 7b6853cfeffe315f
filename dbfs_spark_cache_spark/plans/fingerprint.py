"""Content-addressed identity for DataFrames.

A DataFrame's cache identity is MD5 over a plain-text metadata document built
from (a) its input source directories, each with its newest modification
time, file count and file bytes, and (b) the canonicalized analyzed-plan
text. The same shape as the reference engine's (reference:
dbfs_spark_cache/core_caching.py:300-325 plan canonicalization, :212-297
input fingerprint, :371-406 metadata + key), but implemented against the
public PySpark API plus the engine's own FS layer so it runs identically
on local[], YARN, or K8s clusters.

The default analyzed plan prints a file scan as ``Relation [id#L] parquet``
with no path, so the input block is the only part of the key that tells two
same-shaped queries over different data apart. :func:`input_files` owns the
question "which files does this frame read": it walks the leaves of the
OPTIMIZED plan and of every subquery plan in it, takes the files each
leaf reads as ``Dataset.inputFiles`` would (a file relation's files, an
unconverted Hive table's directory, a DSv2 file table's files) and
percent-decodes the URIs into paths the FS layer can open. The
fingerprint, the cost gate (``complexity``) and the spread gate
(``operators.scale``) all read it. ``DataFrame.inputFiles()`` itself is
not used: it skips scalar subqueries, it lists nothing for a fragment
Spark swapped for its ``.cache()``d in-memory copy (the walk re-optimizes
the analyzed plan without that swap instead), and it returns escaped URIs
(``with%20space``) that name no file on disk. The optimized plan, not the
analyzed one, is walked because partition pruning of a catalog table
happens in the optimizer: the analyzed plan lists every partition. A cache
entry is read by a scan of its files in every session, so the walk also
recognises frames built on an entry: the entry's directory enters the key
as a ``CACHED_INPUT_MARKER`` line, and a frame whose only input is one
entry and whose plan is a bare scan is that entry (``pure_scan_entry``).

Trust model. The key trusts the file system's listing of each input
directory: a rewrite of an input must change the newest mtime among the
entries of its directory (second resolution), its file count or its file
bytes. The reference keys the newest mtime alone, so deleting a file that
was not the newest kept its key; the count and bytes see that, at no extra
listing. A directory whose mtime cannot be read makes the key unmatchable;
it never drops out of the key. The walk has three known gaps:

* leaves that read no files (in-memory data, RDDs, JDBC, non-file DSv2
  sources) add no input line, so their identity is the plan text alone
  (RDD plans are refused as uncacheable); an unconverted Hive table
  contributes its table directory, so its line reads the newest mtime
  among the entries of the directory that holds it;
* a change that keeps every input directory's newest mtime, file count
  and bytes (restoring an older copy of a file, of the same size) keeps
  the key;
* the cost grows with the file count: every file path crosses py4j once,
  although only the distinct directories enter the key.

Cost otherwise: driver-side metadata only — one py4j call for the plan
text, a few per plan leaf, one more optimizer pass for a frame with a
Spark-cached fragment, and one filesystem LIST per distinct input
*directory*.
"""
from __future__ import annotations

import hashlib
import logging
import os
import re
import time
from datetime import datetime
from typing import Dict, List, Mapping, Optional, Tuple, Union
from urllib.parse import unquote

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import DataFrame

from .. import fs, layout

log = logging.getLogger(__name__)

# Sentinel keys used in the input-fingerprint mapping.
SCHEMA_CHANGED_KEY = "<schema_changed_placeholder>"
# Listing the input files failed for a reason OTHER than schema change
# (transient metastore/FS error), or an input directory's mtime could not be
# read. The fingerprint must become unmatchable — degrading to a plan-only
# key would both WRITE an entry that later (correct) keys never find AND,
# worse, HIT such an entry after the inputs changed, serving stale data
# with no warning.
INPUT_LISTING_FAILED_KEY = "<input_listing_failed>"
# Value recorded for input directories that are themselves cache entries
# (``layout.cached_input_pattern``): the *path*, which embeds the entry's
# key, participates in the fingerprint; the mtime does not (cache content
# is immutable for its key, so including mtimes would spuriously invalidate
# derived caches on repair/re-writes). A scan of an entry prints no table
# name, so this line is the only part of the key that names the entry:
# without it, two derived frames over different entries with the same
# schema and operators would collide. It is also how a pure scan of an
# entry is recognised (``pure_scan_entry``).
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
# ``spark.sql(query, name=df)`` registers each DataFrame argument as a view
# under a fresh ``_pyspark_<uuid hex>`` name on every call, so a frame built
# that way would get a new key on every build. The analyzed plan prints the
# view's body under its name, so the name carries no identity of its own.
_SQL_ARG_VIEW = re.compile(r"_pyspark_[0-9a-f]{32}")
_WS = re.compile(r"\s+")
# SparkStringUtils.truncatedString elides long field lists in plan text as
# "... N more fields" when a node exceeds spark.sql.debug.maxToStringFields
# (default 25). A truncated rendering is NOT content-addressable: two plans
# differing only in the elided tail canonicalize IDENTICALLY and would share
# a cache key — a wrong-data hit (as two 41-column projections that differ
# only in column 41 do).
_TRUNCATED_FIELDS = re.compile(r"\.\.\. \d+ more fields")
_MAX_FIELDS_CONF = "spark.sql.debug.maxToStringFields"


def _uncacheable(text: str, marker: str, why: str) -> str:
    """Loud and UNMATCHABLE plan text: a uuid salt makes two such texts
    differ even when their cause reads the same, so the frame recomputes
    each run instead of risking a hit on another frame's entry."""
    import uuid

    log.warning("%s — fingerprint made unmatchable; this DataFrame cannot "
                "hit or create a reusable cache entry", why)
    return f"{text}\n<{marker};uncacheable;id={uuid.uuid4().hex}>"


def canonical_plan(df: DataFrame) -> str:
    """Canonicalized analyzed-plan text for fingerprinting.

    The resolved logical plan is already computed when the DataFrame was
    built, so this is a single cheap py4j call, and it is invariant under
    optimizer/physical-planning changes (a Spark upgrade doesn't invalidate
    every cache). (The reference fingerprints the full explain output,
    core_caching.py:306-316.) Expression IDs (``#123``), plan ids, lambda
    variable counters and the fresh ``_pyspark_<hex>`` view names are
    stripped and whitespace collapsed, so semantically identical queries
    hash equal.
    """
    def render() -> str:
        return df._jdf.queryExecution().analyzed().toString()  # type: ignore[attr-defined]

    try:
        raw = render()
    except Exception as exc:
        # A bare f"Error: {exc}" would be a COLLIDABLE fingerprint: two
        # different failing plans with identical exception text would
        # share a cache key.
        return _uncacheable(f"Error: {exc}", "render-failed",
                            f"plan render failed ({exc})")

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
                full = render()
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
            # re-render itself failed): this plan misses and rebuilds each
            # run (conversion cost) instead of risking a wrong-data hit.
            raw = _uncacheable(
                raw, "truncated-plan",
                f"plan text remains field-truncated after raising {_MAX_FIELDS_CONF}",
            )
    plan = _EXPR_ID.sub("", raw)
    plan = _PLAN_ID.sub("", plan)
    plan = _LAMBDA_VAR.sub(r"\1_", plan)
    plan = _SQL_ARG_VIEW.sub("_pyspark_", plan)
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


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _leaves(plan) -> list:
    """(class name, node) of every leaf of ``plan`` and of its subqueries."""
    subs = [plan, *_scala_seq(plan.subqueriesAll())]
    return [(leaf.getClass().getSimpleName(), leaf)
            for sub in subs for leaf in _scala_seq(sub.collectLeaves())]


def _leaf_files(kind: str, leaf) -> List[str]:
    """The URIs one plan leaf reads, as ``Dataset.inputFiles`` lists them:
    a file relation's files, an unconverted Hive table's directory, a DSv2
    file table's files; nothing for any other leaf."""
    if kind == "HiveTableRelation":
        uri = leaf.tableMeta().storage().locationUri()
        return [uri.get().toString()] if uri.isDefined() else []
    try:
        if kind == "LogicalRelation":
            return list(leaf.relation().location().inputFiles())
        if kind == "DataSourceV2ScanRelation":
            return list(leaf.relation().table().fileIndex().inputFiles())
    except Py4JJavaError:  # the listing itself failed: the caller decides
        raise
    except Py4JError:  # no such method: not a file-based relation
        pass
    return []


def input_files(df: DataFrame) -> List[str]:
    """Every file ``df`` reads, as sorted distinct paths the FS layer can
    open (``file:///dir/part-0.parquet``, ``s3a://b/with space/part-0``).

    Walks the leaves of the optimized plan (so a filter on a catalog
    table's partition column lists only the kept partitions) and of each
    plan in its ``subqueriesAll()`` (so a scalar subquery's scan counts),
    and percent-decodes the URIs Spark renders. Where the optimized plan
    holds a ``.cache()``d fragment (an in-memory relation, whose files are
    out of sight), the analyzed plan is optimized again without that
    substitution, so a Spark-cached frame lists the files of the uncached
    one. Whatever Spark raises while listing propagates to the caller."""
    qe = df._jdf.queryExecution()  # type: ignore[attr-defined]
    leaves = _leaves(qe.optimizedPlan())
    if any(kind == "InMemoryRelation" for kind, _ in leaves):
        optimizer = df.sparkSession._jsparkSession.sessionState().optimizer()
        leaves = _leaves(optimizer.execute(qe.analyzed().clone()))
    return sorted({unquote(uri) for kind, leaf in leaves
                   for uri in _leaf_files(kind, leaf)})


_InputInfo = Union[Dict[str, datetime], Dict[str, bool], Dict[str, str]]


def _unmatchable(key: str) -> Dict[str, datetime]:
    """A sentinel input block: the key never matches, and ``core.admit``
    refuses the write. Sentinel timestamps render through the same
    UTC-naive form as real mtimes (fs._utc_naive), so the key format stays
    uniform across zones."""
    return {key: fs._utc_naive(time.time())}


def _entry_of(directory: str) -> Optional[str]:
    """The cache entry whose data ``directory`` holds, or None."""
    match = layout.cached_input_pattern().search(fs.strip_scheme(directory))
    return match.group("entry") if match else None


def input_dir_mod_datetime(df: DataFrame) -> _InputInfo:
    """Map of input source directory -> its line in the key: ``<newest
    mtime> files=<n> bytes=<sum>``, all three from one listing
    (``fs.dir_summary``).

    Special cases (mirroring reference core_caching.py:212-297):

    * schema-changed error while listing the inputs -> a sentinel entry
      carrying ``now()`` so the key never matches (forced invalidation);
    * any other listing failure, or an input directory whose mtime cannot
      be read (it vanished after the plan was built) -> the
      ``INPUT_LISTING_FAILED_KEY`` sentinel: dropping the directory would
      leave a key that no longer tells this frame's data apart;
    * directories that *are* cache entries (``data_*`` or 32-hex names in
      the cache database's warehouse dir) contribute their PATH but not
      their mtime (``CACHED_INPUT_MARKER``).
    """
    try:
        files = input_files(df)
    except Exception as exc:
        if "SCHEMA_CHANGE" in str(exc).upper():
            return _unmatchable(SCHEMA_CHANGED_KEY)
        log.warning("input listing failed (%s); fingerprint made unmatchable — this "
                    "run cannot hit or create a reusable cache entry", exc)
        return _unmatchable(INPUT_LISTING_FAILED_KEY)

    result: Dict[str, Union[datetime, str]] = {}
    for d in sorted({os.path.dirname(f) for f in files}):
        if _entry_of(d) is not None:
            result[d] = CACHED_INPUT_MARKER
            continue
        summary = fs.dir_summary(d)
        if summary is None:
            log.warning("input directory %s has no readable mtime; fingerprint "
                        "made unmatchable", d)
            return _unmatchable(INPUT_LISTING_FAILED_KEY)
        newest, n_files, n_bytes = summary
        result[d] = f"{newest:%Y-%m-%d %H:%M:%S} files={n_files} bytes={n_bytes}"
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


# What a bare scan prints: relation nodes (a path scan prints no table
# name, a catalog read of the entry's table does) under alias nodes.
_BARE_SCAN_NODES = re.compile(r"Relation\s*[^\s\[]*\[[^\]]*\]\s*\S+|SubqueryAlias\s+\S+")


def pure_scan_entry(plan: str, input_info: Mapping[str, object]) -> Optional[str]:
    """The cache entry (``data_*`` or 32-hex) that a frame with this plan
    and input block is nothing but a scan of, or None.

    The entry comes from the leaves: every input line must be a
    ``CACHED_INPUT_MARKER`` line of one entry (a ``partition_by`` entry
    has one per partition directory). The plan must be nothing but
    relations under aliases. Whitelist formulation: with those nodes
    removed, ANY remaining capitalized token is an operator (Filter,
    Deduplicate, GlobalLimit, Sample, Join, ...) and disqualifies purity. A
    blacklist of known operator names would miss some and let
    ``clearStorageCache()`` on ``df.limit(5)`` silently drop the parent's
    cache; the whitelist can only err toward "not pure", which merely
    costs a fresh fingerprint, never a wrong short-circuit."""
    entries = {
        _entry_of(path) if value == CACHED_INPUT_MARKER else None
        for path, value in input_info.items()
    }
    if len(entries) != 1 or None in entries:
        return None
    if re.search(r"[A-Z]", _BARE_SCAN_NODES.sub("", plan)):
        return None
    return entries.pop()


def resolve_table_hash(df: DataFrame) -> str:
    """Full identity resolution with the reference's short-circuits
    (reference: core_caching.py:527-571):

    1. DataFrame tagged as a direct-data cache -> its recorded ``data_*`` hash.
    2. A *pure scan* of a cache entry -> that entry's hash.
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
    info = input_dir_mod_datetime(df)
    scanned = pure_scan_entry(plan, info)
    if scanned is not None:
        return scanned
    return compute_cache_key(cache_metadata_document(info, plan))
