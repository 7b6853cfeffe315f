"""Every eviction caller reports only what ``clear_cache_for_hash`` actually
evicted: an entry whose removal failed stays live for a later retry, so it
must not appear among the evicted hashes, and the skip is logged."""
from __future__ import annotations

import logging

import pandas as pd
import pytest

A, B, C = "a" * 32, "b" * 32, "c" * 32


def _frame(hashes, days):
    return pd.DataFrame(
        {"hash_name": hashes,
         "creationTime": pd.to_datetime([f"2020-01-0{d}" for d in days])}
    )


CALLERS = {
    "clear_caches_older_than": lambda m, s: m.clear_caches_older_than(
        s, num_days=0, specific_database="scoped_db"
    ),
    "evict_to_size_budget": lambda m, s: m.evict_to_size_budget(s, 0),
    "clear_inconsistent_cache": lambda m, s: m.clear_inconsistent_cache(
        s, force=True
    ),
}


@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_failed_drop_is_not_reported_evicted(caller, monkeypatch, caplog):
    from dbfs_spark_cache_spark import management

    # Sidecar registry {A, B}, data-directory registry {C}; the scoped
    # listing sees all three. Every entry is old and 1 byte, so each caller
    # picks A, B and C, and the removal of B fails.
    monkeypatch.setattr(management, "get_cached_dataframe_metadata",
                        lambda num_threads=None: _frame([A, B], [1, 2]))
    monkeypatch.setattr(management, "get_cached_tables",
                        lambda s, num_threads=None: _frame([C], [3]))
    monkeypatch.setattr(
        management, "get_tables_from_database",
        lambda s, database=None, num_threads=None: _frame([A, B, C], [1, 2, 3]),
    )
    monkeypatch.setattr(management, "_entry_bytes", lambda s, h: 1)
    tried = []

    def clear(spark, hash_name, database=None):
        tried.append(hash_name)
        return hash_name != B

    monkeypatch.setattr(management, "clear_cache_for_hash", clear)
    with caplog.at_level(logging.WARNING, logger=management.__name__):
        evicted = CALLERS[caller](management, object())
    assert sorted(tried) == [A, B, C]
    assert evicted == [A, C]
    assert "1 entries skipped" in caplog.text
