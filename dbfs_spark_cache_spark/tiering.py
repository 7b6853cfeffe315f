"""Cache-tier policy and batch backup.

Two tiers (reference: caching.py:21-175, dataframe_extensions.py:23-25):

1. Spark's in-memory/disk cache (``df.cache()``) — fastest, cluster-lifetime;
2. the materialized content-addressed table — persistent across sessions.

``backup_spark_cached_to_storage`` drains tier 1 into tier 2, with optional
complexity pre-filters so trivially-recomputable frames are skipped.
"""
from __future__ import annotations

import logging
import os
from typing import Iterable, List, Mapping, Optional, Tuple

from pyspark.sql import DataFrame

from .config import config

log = logging.getLogger(__name__)


def is_serverless_cluster() -> bool:
    """Serverless Databricks runtimes report ``client.*`` versions; there the
    in-memory tier is unavailable (reference: utils.py:13-19)."""
    return os.environ.get("DATABRICKS_RUNTIME_VERSION", "").startswith("client.")


def should_prefer_spark_cache() -> bool:
    return config.PREFER_SPARK_CACHE and not is_serverless_cluster()


def is_spark_cached(df: DataFrame) -> bool:
    try:
        level = df.storageLevel
        return bool(level.useMemory or level.useDisk)
    except Exception:
        return False


def backup_spark_cached_to_storage(
    specific_dfs: Iterable[DataFrame],
    unpersist_after_backup: bool = False,
    min_complexity_threshold: Optional[float] = None,
    min_multiplier_threshold: Optional[float] = None,
    process_in_reverse_order: bool = True,
) -> List[DataFrame]:
    """Persist Spark-cached DataFrames to the materialized tier.

    Each frame passes the same admission guard as ``cache_dataframe``
    (``core.admit``): RDD-backed, direct-data, pure-scan-of-an-entry and
    unmatchable frames are skipped, and so are frames whose estimated
    complexity/multiplier fall below the given thresholds. Returns the
    successfully backed-up frames.
    """
    from .core import admit, write_cache

    candidates = [df for df in specific_dfs if isinstance(df, DataFrame)]
    if process_in_reverse_order:
        candidates.reverse()

    eligible: List[Tuple[DataFrame, str, Mapping]] = []
    for df in candidates:
        verdict = admit(df, min_complexity_threshold, min_multiplier_threshold)
        if verdict.refusal is None:
            eligible.append((df, verdict.plan, verdict.info))

    backed_up: List[DataFrame] = []
    for df, plan, info in eligible:
        try:
            # Reuse admission's plan + input listing: re-listing every input
            # directory costs remote round-trips, and a listing failure in
            # a re-run would write the orphan admission screened out.
            write_cache(df, replace=False, query_plan=plan, input_info=info)
            backed_up.append(df)
            if unpersist_after_backup:
                df.unpersist()
        except Exception as exc:
            log.error("Backup failed: %s", exc)
    return backed_up
