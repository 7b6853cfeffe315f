"""Logical-plan introspection: canonicalization, fingerprinting, cache keys."""
from .fingerprint import (  # noqa: F401
    canonical_plan,
    cache_metadata_document,
    compute_cache_key,
    input_dir_mod_datetime,
    resolve_table_hash,
    table_cache_info,
    SCHEMA_CHANGED_KEY,
)
