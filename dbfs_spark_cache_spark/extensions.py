"""User-facing DataFrame/SparkSession extension methods.

``extend_dataframe_methods(spark)`` attaches (reference:
dataframe_extensions.py:160-178):

* ``df.cacheToStorage()`` (alias ``cacheToDbfs`` for drop-in compatibility)
* ``df.clearStorageCache()`` (alias ``clearDbfsCache``)
* ``df.withCachedDisplay()`` / ``df.wcd()``
* ``spark.createCachedDataFrame(data, schema=...)``

``withCachedDisplay`` implements the *documented* contract of the reference
(README: auto-cache when thresholds trigger, then display) rather than its
display-only stub (reference: dataframe_extensions.py:145-157 vs README.md:37-48).
"""
from __future__ import annotations

import logging
from functools import partial
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from .config import config
from .core import cache_dataframe, clear_cache_for_df, create_cached_dataframe

log = logging.getLogger(__name__)


def cacheToStorage(
    self: DataFrame,
    override_prefer_spark_cache: bool = False,
    dbfs_cache_complexity_threshold: Optional[float] = None,
    dbfs_cache_multiplier_threshold: Optional[float] = None,
    verbose: bool = False,
    hash_name: Optional[str] = None,
    cache_path: Optional[str] = None,
    partition_by: Optional[List[str]] = None,
) -> DataFrame:
    """Cache this DataFrame by content identity; see core.cache_dataframe.
    An unknown keyword is a ``TypeError``, not a silently dropped option."""
    return cache_dataframe(
        self,
        override_prefer_spark_cache=override_prefer_spark_cache,
        complexity_threshold=dbfs_cache_complexity_threshold,
        multiplier_threshold=dbfs_cache_multiplier_threshold,
        verbose=verbose,
        hash_name=hash_name,
        cache_path=cache_path,
        partition_by=partition_by,
    )


def clearStorageCache(self: DataFrame) -> None:
    clear_cache_for_df(self)


def cacheToStorageIfTriggered(self: DataFrame, **kwargs) -> DataFrame:
    """Threshold-gated caching WITHOUT the display — the
    ``df.cacheToDbfsIfTriggered()`` the reference's README documents
    ("to only trigger caching if needed but not display", README.md:43)
    but its code never defines (no such method exists anywhere in
    dataframe_extensions.py — a README-vs-code drift this engine closes).
    Identical gate to ``withCachedDisplay``: cache when the estimated
    complexity AND multiplier clear the config-default thresholds
    (overridable via the same ``dbfs_cache_*`` kwargs), else return
    ``self`` unchanged."""
    return cacheToStorage(
        self,
        dbfs_cache_complexity_threshold=kwargs.pop(
            "dbfs_cache_complexity_threshold", config.DEFAULT_COMPLEXITY_THRESHOLD
        ),
        dbfs_cache_multiplier_threshold=kwargs.pop(
            "dbfs_cache_multiplier_threshold", config.DEFAULT_MULTIPLIER_THRESHOLD
        ),
        **kwargs,
    )


def withCachedDisplay(
    self: DataFrame,
    *args,
    skip_display: bool = False,
    skip_dbfs_cache: bool = False,
    eager_spark_cache: bool = False,
    **kwargs,
) -> DataFrame:
    """Auto-cache (threshold-gated) then display; returns the (possibly
    cached) DataFrame so calls chain.

    Positional ``*args`` are accepted and IGNORED — deliberate signature
    parity with the reference (dataframe_extensions.py:145 defines
    ``__withCachedDisplay__(self, *args, **kwargs)`` and passes nothing
    through to display either), so ported call sites run unchanged.
    Keyword options are the real surface."""
    result = self
    if eager_spark_cache:
        result = result.cache()
    elif not skip_dbfs_cache:
        result = cacheToStorage(
            result,
            dbfs_cache_complexity_threshold=kwargs.pop(
                "dbfs_cache_complexity_threshold", config.DEFAULT_COMPLEXITY_THRESHOLD
            ),
            dbfs_cache_multiplier_threshold=kwargs.pop(
                "dbfs_cache_multiplier_threshold", config.DEFAULT_MULTIPLIER_THRESHOLD
            ),
            **kwargs,
        )
    if not skip_display:
        try:  # Databricks notebook display if present, else plain show()
            from databricks.sdk.runtime import display  # type: ignore

            display(result)
        except ImportError:
            result.show(truncate=False)
    return result


def extend_dataframe_methods(spark_session: SparkSession) -> None:
    """Monkey-patch the extension surface onto DataFrame and the session."""
    DataFrame.cacheToStorage = cacheToStorage  # type: ignore[attr-defined]
    DataFrame.cacheToDbfs = cacheToStorage  # type: ignore[attr-defined]
    DataFrame.cacheToStorageIfTriggered = cacheToStorageIfTriggered  # type: ignore[attr-defined]
    DataFrame.cacheToDbfsIfTriggered = cacheToStorageIfTriggered  # type: ignore[attr-defined]
    DataFrame.clearStorageCache = clearStorageCache  # type: ignore[attr-defined]
    DataFrame.clearDbfsCache = clearStorageCache  # type: ignore[attr-defined]
    DataFrame.withCachedDisplay = withCachedDisplay  # type: ignore[attr-defined]
    DataFrame.wcd = withCachedDisplay  # type: ignore[attr-defined]
    setattr(
        spark_session,
        "createCachedDataFrame",
        partial(create_cached_dataframe, spark_session),
    )
