"""Static query-cost estimation driving the auto-cache trigger.

complexity = (total input GB) x (plan-derived multiplier). The multiplier
model's CONSTANTS are an exact match of the reference
(dbfs_spark_cache/query_complexity_estimation.py:86-257), pinned by unit
tests:

* baseline 0.6 (bare scan/projection);
* per-op factor ``(base / 0.6) * inc^(count-1)`` multiplied in per op class:
  join 2.0/1.5, window 2.5/1.8, simple agg 1.0/1.1, complex agg 1.6/1.4,
  sort 1.4/1.3, distinct 1.5/1.4, udf 1.2/1.2;
* an aggregate is "complex" iff it groups (or the plan has several
  aggregate nodes);
* calibration: ``count()`` over 1 GB of parquet => complexity exactly 1.0.

COUNTING deviates from the reference deliberately: the reference counts
raw substrings over ``explain(mode="extended")`` output — four duplicated
plan sections, where one window expression matches "window" three times
per section and a grouped aggregate never matches its
"groupingexpressions" test (that token appears in NO Spark plan
rendering, so the complex-aggregate branch was dead and every grouped
rollup was under-costed 1.6x; meanwhile DISTINCT prints as "Deduplicate"
and was never counted at all). This engine counts one occurrence per
LOGICAL NODE on the canonical analyzed plan — "window [", "aggregate [",
"deduplicate", "sort", "join" — which is the model's stated
intent ("count operations"), applied to text where nodes are countable.
UDFs are the exception: the analyzed plan prints a Python UDF call as
its bare function name (no "udf" token exists to count — the text
heuristic only ever matched functions NAMED *udf*), so live-DataFrame
estimation counts ``PythonUDF`` expression nodes in the logical plan's
JSON rendering instead (:func:`count_python_udfs`; one driver call, no
physical planning). The calibration anchor is preserved: a bare count()
is one ungrouped aggregate node => multiplier exactly 1.0.

File sizes come from the plan walk that also feeds the cache key
(``plans.fingerprint.input_files``: optimized plan plus subqueries, seen
through Spark's cache, so a ``.cache()``d frame sizes like the uncached
one and a partition filter sizes only the kept partitions) and one
FS-layer listing
per input directory (``fs.file_sizes``). That is driver-side metadata
only — no job runs. **[NS]** note: Spark's own CBO stats (``ANALYZE
TABLE`` / ``optimizedPlan().stats()``) can replace the file-stat path where
tables are analyzed; file stats are the portable fallback.
"""
from __future__ import annotations

import logging
import re
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame

from . import fs
from .plans.fingerprint import canonical_plan, input_files

log = logging.getLogger(__name__)

# One match per Python-UDF expression in the analyzed plan's JSON: the
# class field's value must END in .PythonUDF/.PythonUDAF/.PythonUDTF —
# anchored on the class-name suffix, not the full Catalyst package path,
# so a package move or JSON spacing change cannot silently zero the
# count (ADVICE r8 #3).
_PYTHON_UDF_CLASS_RE = re.compile(
    r'"class"\s*:\s*"[^"]*\.Python(?:UDF|UDAF|UDTF)"'
)
# Known Python-execution markers that should never appear in a plan whose
# PythonUDF count is zero — the version-rename canary.
_UDF_MARKER_RE = re.compile(r"InPandas|ArrowEval|pythonudf", re.IGNORECASE)

_GB = 1024.0 ** 3

MULTIPLIER_BASE = 0.6

# {op: (first-occurrence factor relative to the baseline, per-extra factor)}
OP_FACTORS: Dict[str, Tuple[float, float]] = {
    "join": (2.0 / MULTIPLIER_BASE, 1.5),
    "window": (2.5 / MULTIPLIER_BASE, 1.8),
    "agg_simple": (1.0 / MULTIPLIER_BASE, 1.1),
    "agg_complex": (1.6 / MULTIPLIER_BASE, 1.4),
    "sort": (1.4 / MULTIPLIER_BASE, 1.3),
    "distinct": (1.5 / MULTIPLIER_BASE, 1.4),
    "udf": (1.2 / MULTIPLIER_BASE, 1.2),
}


def get_input_file_sizes(df: DataFrame) -> List[float]:
    """Per-input-file sizes in GB (driver-side metadata calls only): the
    files :func:`~.plans.fingerprint.input_files` names, sized by one
    listing per input directory (``fs.file_sizes``)."""
    try:
        files = input_files(df)
    except Exception as exc:
        log.warning("input listing failed: %s", exc)
        return []
    return [size / _GB for size in fs.file_sizes(files)]


def _has_grouped_aggregate(plan: str) -> bool:
    """True when any Aggregate node prints TWO bracket lists ("aggregate
    [keys], [exprs]" — grouped) rather than one (global). Bracket-DEPTH
    matched, not regexed: grouping keys can contain ']' themselves (array
    access prints as arr[0]), which breaks a [^]]* class, and a
    non-greedy .*? can run past the node and borrow a LATER node's
    "], [" — both silently misclassify, under- or over-costing 1.6x."""
    start = 0
    while True:
        i = plan.find("aggregate [", start)
        if i < 0:
            return False
        depth, j = 0, i + len("aggregate ")
        while j < len(plan):
            if plan[j] == "[":
                depth += 1
            elif plan[j] == "]":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if plan[j + 1 : j + 4] == ", [":
            return True
        start = i + 1


def count_python_udfs(df: DataFrame) -> int:
    """Python/pandas UDF invocations in the ANALYZED logical plan.

    The analyzed plan STRING prints a UDF call as its bare function name
    (``scorer(a)``, ``<lambda>(a)``) — there is no "udf" token to count,
    so the text heuristic below silently scores UDF-heavy pipelines as
    bare projections (multiplier 0.6 < the 1.01 gate: the auto-cache
    trigger then declines exactly the frames the udf factor exists to
    catch). The logical tree's JSON rendering carries each expression's
    CLASS — one ``PythonUDF`` entry per invocation (plain AND pandas UDFs
    both render that class on Spark 4.1; grouped-map/UDTF nodes carry one
    too) — and costs a single driver-side call with no physical planning
    (unlike find_plain_udfs).

    Hardened (VERDICT r8 #5 / ADVICE r8 #3): the match is a regex over
    the class FIELD anchored on the ``.PythonUDF``/``.PythonUDAF``/
    ``.PythonUDTF`` suffix, so a Catalyst package move or JSON spacing
    change no longer silently zeroes the factor; and when the count IS
    zero but the JSON still mentions a known Python-execution marker
    (``InPandas`` logical nodes, ``ArrowEval``, a case-folded
    ``pythonudf``), a warning fires — the version-rename canary the old
    exception-only fallback missed.
    """
    try:
        js = df._jdf.queryExecution().analyzed().toJSON()  # type: ignore[attr-defined]
        n = len(_PYTHON_UDF_CLASS_RE.findall(js))
        if n == 0 and _UDF_MARKER_RE.search(js):
            log.warning(
                "plan JSON mentions a Python-execution marker but the "
                "PythonUDF class regex matched 0 expressions — the Spark "
                "version may have renamed the class; the udf cost factor "
                "is disabled for this plan (update _PYTHON_UDF_CLASS_RE)"
            )
        return n
    except Exception as exc:
        log.warning("UDF count via plan JSON failed: %s", exc)
        return 0


def plan_cost_multiplier(plan_lowercase: str, udf_count: int | None = None) -> float:
    """Per-logical-node multiplier over a lowercased canonical plan.

    ``udf_count`` injects the exact :func:`count_python_udfs` number when
    a live DataFrame is in hand; the text fallback (``plan.count("udf")``)
    only sees functions whose NAME contains "udf" and exists for
    plan-fragment callers (constant-pin tests) without a DataFrame."""
    plan = plan_lowercase
    counts = {
        # "join inner," / "join leftouter," … — one per Join node.
        "join": plan.count("join "),
        # The Window NODE prints "window [exprs], [partition], [order]";
        # its windowspecdefinition/specifiedwindowframe sub-expressions
        # must not count again.
        "window": plan.count("window ["),
        "sort": plan.count("sort ") + plan.count("order by"),
        # DISTINCT prints as a Deduplicate node; "distinct " additionally
        # counts distinct-aggregate expressions (count(distinct x)).
        "distinct": plan.count("deduplicate") + plan.count("distinct "),
        "udf": udf_count if udf_count is not None else plan.count("udf"),
    }
    multiplier = MULTIPLIER_BASE
    for op, count in counts.items():
        if count <= 0:
            continue
        base, inc = OP_FACTORS[op]
        multiplier *= base * inc ** (count - 1)

    agg_count = plan.count("aggregate [")
    if agg_count > 0:
        # A grouped Aggregate prints TWO bracket lists ("aggregate
        # [keys], [exprs]"); a global one prints only the output list.
        complex_agg = _has_grouped_aggregate(plan) or agg_count > 1
        base, inc = OP_FACTORS["agg_complex" if complex_agg else "agg_simple"]
        multiplier *= base * inc ** (agg_count - 1)
    return multiplier


def complexity_from_plan(
    plan_lowercase: str, total_size_gb: float, udf_count: int | None = None
) -> Tuple[float, float]:
    multiplier = plan_cost_multiplier(plan_lowercase, udf_count=udf_count)
    return total_size_gb * multiplier, multiplier


def catalyst_size_estimate_gb(df: DataFrame) -> float:
    """Catalyst's own size estimate for the plan (GB), 0.0 if unavailable.

    This is the CBO statistics path ([NS], SURVEY.md §4.1): for inputs with
    no listable files (catalog tables with ANALYZE stats, local relations,
    views) the optimizer still carries a sizeInBytes estimate.
    """
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # type: ignore[attr-defined]
        size_f = float(size.longValue() if hasattr(size, "longValue") else int(size))
        # Catalyst uses Long.MaxValue-ish sentinels for "unknown".
        if size_f <= 0 or size_f >= 2.0 ** 62:
            return 0.0
        return size_f / _GB
    except Exception:
        return 0.0


def estimate_compute_complexity(df: DataFrame) -> Tuple[float, float, float]:
    """(complexity, multiplier, total input GB) for the auto-cache gate.

    Size comes from input-file stats (portable), falling back to Catalyst's
    CBO sizeInBytes when there are no listable input files.
    """
    total_size = sum(get_input_file_sizes(df))
    plan = canonical_plan(df).lower()
    if plan.startswith("error:"):
        return (total_size, 1.0, total_size) if total_size else (0.0, 1.0, 0.0)
    udfs = count_python_udfs(df)
    if not total_size:
        total_size = catalyst_size_estimate_gb(df)
    if not total_size:
        _, multiplier = complexity_from_plan(plan, 0.0, udf_count=udfs)
        return 0.0, multiplier, 0.0
    complexity, multiplier = complexity_from_plan(plan, total_size, udf_count=udfs)
    return complexity, multiplier, total_size
