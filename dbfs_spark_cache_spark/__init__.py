"""dbfs_spark_cache_spark — a PySpark-native analytics/caching engine.

A from-scratch, Spark-first implementation of the capabilities of
schibsted/dbfs-spark-cache (persistent content-addressed DataFrame result
caching with a cost-based auto-trigger), plus a full relational operator
surface and LLM-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) designed for 100 TB scale.

Quick start::

    from dbfs_spark_cache_spark import extend_dataframe_methods, get_spark
    spark = get_spark()
    extend_dataframe_methods(spark)
    df = spark.read.parquet(path).groupBy("k").count()
    df = df.cacheToStorage()          # content-addressed persistent cache
"""
from .complexity import estimate_compute_complexity  # noqa: F401
from .config import config, reconfigure  # noqa: F401
from .core import (  # noqa: F401
    cache_dataframe,
    cache_session_stats,
    create_cached_dataframe,
    ensure_cache_database,
    read_cache_if_exist,
    reset_cache_session_stats,
    table_name_for_hash,
    write_cache,
)
from .extensions import extend_dataframe_methods  # noqa: F401
from .hashing import hash_input_data  # noqa: F401
from .management import (  # noqa: F401
    cache_stats,
    clear_cache_for_hash,
    clear_caches_older_than,
    evict_to_size_budget,
    clear_inconsistent_cache,
    find_corrupt_entries,
    get_cached_dataframe_metadata,
    get_cached_tables,
    get_tables_from_database,
)
from .plans.fingerprint import (  # noqa: F401
    cache_metadata_document,
    canonical_plan,
    compute_cache_key,
    input_dir_mod_datetime,
    resolve_table_hash,
)
from .session import get_spark  # noqa: F401
from .tiering import (  # noqa: F401
    backup_spark_cached_to_storage,
    is_serverless_cluster,
    is_spark_cached,
    should_prefer_spark_cache,
)

__version__ = "0.6.0"
