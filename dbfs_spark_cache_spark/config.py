"""Engine configuration.

Environment-backed settings covering the same knobs as the reference library
(reference: dbfs_spark_cache/config.py:6-55), with storage-neutral names and
local-friendly defaults. No external dependency: plain ``os.environ`` with
typed coercion so the engine runs anywhere PySpark runs.

At 100 TB scale these settings point at cluster storage (e.g. an object-store
prefix for ``SPARK_CACHE_DIR`` and a real metastore database); locally they
default to ``/tmp`` paths so tests need zero setup.
"""
from __future__ import annotations

import os
from dataclasses import dataclass, field, replace


def _env_str(name: str, default: str) -> str:
    return os.environ.get(name, default)


def _env_float(name: str, default: float) -> float:
    raw = os.environ.get(name)
    if raw is None or raw == "":
        return default
    return float(raw)


def _env_bool(name: str, default: bool) -> bool:
    raw = os.environ.get(name)
    if raw is None or raw == "":
        return default
    return raw.strip().lower() in ("1", "true", "yes", "on")


CACHE_FORMATS = ("parquet", "delta")


@dataclass
class Settings:
    """Runtime settings for the cache engine.

    Defaults mirror the reference (complexity threshold 130, multiplier
    threshold 1.01, prefer-Spark-cache True; reference config.py:33-47).
    """

    # Directory holding one subdir per cache entry with a metadata sidecar.
    SPARK_CACHE_DIR: str = field(
        default_factory=lambda: _env_str("SPARK_CACHE_DIR", "/tmp/spark_cache/")
    )
    # Database (schema) that holds materialized cache tables.
    CACHE_DATABASE: str = field(
        default_factory=lambda: _env_str("CACHE_DATABASE", "spark_cache_db")
    )
    # Warehouse base path (where the metastore puts managed tables).
    DATABASE_PATH: str = field(
        default_factory=lambda: _env_str("DATABASE_PATH", "/tmp/spark_warehouse/")
    )
    # Auto-cache trigger thresholds (complexity = input GB x plan multiplier).
    DEFAULT_COMPLEXITY_THRESHOLD: float = field(
        default_factory=lambda: _env_float("DEFAULT_COMPLEXITY_THRESHOLD", 130.0)
    )
    DEFAULT_MULTIPLIER_THRESHOLD: float = field(
        default_factory=lambda: _env_float("DEFAULT_MULTIPLIER_THRESHOLD", 1.01)
    )
    # Prefer Spark's in-memory/disk cache tier on classic clusters.
    PREFER_SPARK_CACHE: bool = field(
        default_factory=lambda: _env_bool("PREFER_SPARK_CACHE", True)
    )
    # Table format for materialized caches: "parquet" (works everywhere,
    # still columnar) or "delta" (transactional; needs the delta jars on the
    # classpath, else writes degrade to parquet). The read of an entry and
    # the transactional checks know only these two.
    CACHE_FORMAT: str = field(
        default_factory=lambda: _env_str("CACHE_FORMAT", "parquet")
    )

    def __post_init__(self) -> None:
        if self.CACHE_FORMAT not in CACHE_FORMATS:
            raise ValueError(
                f"CACHE_FORMAT must be one of {CACHE_FORMATS}, "
                f"not {self.CACHE_FORMAT!r}"
            )
        if not self.SPARK_CACHE_DIR.endswith("/"):
            self.SPARK_CACHE_DIR += "/"
        # Catalog-case drift guard: Spark stores unquoted catalog
        # identifiers lowercased (the managed-table dir is literally
        # <lower(db)>.db in the warehouse), while this name is ALSO
        # interpolated into filesystem paths (layout.table_location, the
        # management sweeps) and plan-text regexes (fingerprint, tiering).
        # A mixed-case setting would split those three views: the catalog
        # works (identifiers are case-insensitive) but the path fallback
        # misses, stale-location clearing checks the wrong dir, and
        # size-budget eviction undercounts to zero. Normalize once, here,
        # to the catalog's canonical form so every consumer agrees.
        self.CACHE_DATABASE = self.CACHE_DATABASE.lower()


config = Settings()


def reconfigure(**overrides) -> Settings:
    """Replace fields on the global settings object (used by tests). The
    result is validated and normalized like every new :class:`Settings`
    first, so a rejected value leaves the settings as they were."""
    for key in overrides:
        if not hasattr(config, key):
            raise AttributeError(f"Unknown setting: {key}")
    vars(config).update(vars(replace(config, **overrides)))
    return config
