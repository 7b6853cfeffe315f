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
from dataclasses import dataclass, field


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
    # Table format for materialized caches. "delta" when delta jars are on the
    # classpath; plain parquet otherwise (works everywhere, still columnar).
    CACHE_FORMAT: str = field(
        default_factory=lambda: _env_str("CACHE_FORMAT", "parquet")
    )
    # Plan text used for fingerprinting: "analyzed" (one resolved logical
    # plan: fast, stable across optimizer/physical changes) or "extended"
    # (full 4-section explain, byte-compatible with the reference's input).
    PLAN_FINGERPRINT_MODE: str = field(
        default_factory=lambda: _env_str("PLAN_FINGERPRINT_MODE", "analyzed")
    )

    def __post_init__(self) -> None:
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
    """Replace fields on the global settings object (used by tests), then
    re-apply the normalization every new :class:`Settings` gets."""
    for key, value in overrides.items():
        if not hasattr(config, key):
            raise AttributeError(f"Unknown setting: {key}")
        setattr(config, key, value)
    config.__post_init__()
    return config
