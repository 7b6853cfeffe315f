"""On-disk layout of a cache entry: the one module that formats its paths.

An entry keyed ``<hash>`` (32-hex plan key, ``data_<32-hex>`` direct-data
key, or a caller's custom ``hash_name``) has two halves:

* its data: the files at ``<spark.sql.warehouse.dir>/<CACHE_DATABASE>.db/
  <hash>``, written as the managed table ``<CACHE_DATABASE>.<hash>`` so
  the cache database stays browsable. Nothing reads the catalog table:
  every read of the entry scans the location, in every session, and
  ``management`` lists the database directory as its registry;
* its sidecars, in ``<base>/<hash>/`` where ``base`` is ``SPARK_CACHE_DIR``
  or the caller's ``cache_path``:

  - ``cache_metadata.txt``: the metadata document the key is the MD5 of
    (direct-data entries record their data hash and schema). It is written
    LAST, so its presence means the entry is committed;
  - ``writer_committer.txt``: whether the writing session's committer
    marks finished jobs with ``_SUCCESS``;
  - ``data_inventory.txt``: the committed data-file count and bytes.

The byte format of every path here is a compatibility interface: a change
orphans every existing entry.
"""
from __future__ import annotations

import logging
import re
from typing import List, Optional

from . import fs
from .config import config

METADATA_FILE = "cache_metadata.txt"
COMMITTER_FILE = "writer_committer.txt"
INVENTORY_FILE = "data_inventory.txt"

log = logging.getLogger(__name__)


def table_name_for_hash(hash_name: str) -> str:
    return f"{config.CACHE_DATABASE}.{hash_name}"


def database_dir(spark, database: Optional[str] = None) -> str:
    """Warehouse directory holding a cache database's entries, one data
    directory each; ``database`` defaults to ``CACHE_DATABASE`` and is
    lower-cased like it (Spark names the directory after the lower-cased
    identifier)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    db = (database or config.CACHE_DATABASE).lower()
    return f"{warehouse.rstrip('/')}/{db}.db"


def table_location(spark, hash_name: str, database: Optional[str] = None) -> str:
    """Data location of an entry: ``<warehouse>/<db>.db/<hash>``."""
    return f"{database_dir(spark, database)}/{hash_name}"


def sidecar_dir(hash_name: str, base: Optional[str] = None) -> str:
    """``<base>/<hash>`` (no trailing slash); ``base`` defaults to
    ``SPARK_CACHE_DIR``."""
    base = base or config.SPARK_CACHE_DIR
    return f"{base if base.endswith('/') else base + '/'}{hash_name}"


def metadata_path(sidecars: str) -> str:
    return f"{sidecars.rstrip('/')}/{METADATA_FILE}"


def committer_path(sidecars: str) -> str:
    return f"{sidecars.rstrip('/')}/{COMMITTER_FILE}"


def inventory_path(sidecars: str) -> str:
    return f"{sidecars.rstrip('/')}/{INVENTORY_FILE}"


def is_transactional(location: str) -> bool:
    """A transactional format (Delta) keeps a commit log in the data
    location; its files must never be read as raw parquet, and the log is
    its own inventory."""
    return fs.exists(f"{location.rstrip('/')}/_delta_log")


def has_success_marker(location: str) -> bool:
    return fs.exists(f"{location.rstrip('/')}/_SUCCESS")


def inventory_ok(
    spark,
    hash_name: str,
    sidecars: Optional[str] = None,
    location: Optional[str] = None,
) -> Optional[bool]:
    """Does the entry's live data listing match its recorded inventory?
    None when there is nothing to compare: no (parseable) record, no data
    location, or a transactional table. False means data files were lost or
    altered after commit. A failed listing is no finding either: it is
    logged and reads None, so neither the read path nor an operator scan
    fails on it. A caller that has already seen the data ``location``
    exist without a commit log passes it, and it is not probed again."""
    try:
        recorded = fs.read_text(inventory_path(sidecars or sidecar_dir(hash_name)))
        if recorded is None:
            return None
        if location is None:
            location = table_location(spark, hash_name)
            if not fs.exists(location) or is_transactional(location):
                return None
        return fs.inventory_matches(location, recorded)
    except Exception as exc:
        log.warning("Inventory check failed for %s (%s: %s)", hash_name,
                    exc.__class__.__name__, exc)
        return None


def cached_input_patterns() -> List["re.Pattern[str]"]:
    """Input directories that are themselves cache entries: an entry's
    sidecar dir or its warehouse table dir, and any partition
    subdirectory below either (``(/.*)?``: a ``partition_by`` entry keeps
    its data files in ``<hash>/day=.../``). Matched against
    scheme-stripped paths; the group ``entry`` is the entry's key."""
    cache_base = re.escape(config.SPARK_CACHE_DIR.rstrip("/"))
    db = re.escape(config.CACHE_DATABASE)
    entry = r"(?P<entry>(?:data_)?[a-f0-9]{32})"
    return [
        re.compile(rf"^{cache_base}/{entry}(/.*)?$"),
        re.compile(rf"/{db}\.db/{entry}(/.*)?$"),
    ]
