"""On-disk layout of a cache entry: the one module that formats its paths.

An entry keyed ``<hash>`` (32-hex plan key, ``data_<32-hex>`` direct-data
key, or a caller's custom ``hash_name``) has two halves:

* its data: the files at ``<spark.sql.warehouse.dir>/<CACHE_DATABASE>.db/
  <hash>``. Spark's writer writes them as the managed table
  ``<CACHE_DATABASE>.<hash>``; a direct-data entry written on the driver
  is one file, ``DRIVER_DATA_FILE``, with no catalog table. Nothing reads
  the catalog table: every read of the entry scans the location, in every
  session, and ``management`` lists the database directory as its
  registry. A parquet location holds one commit record, the writer's own
  marker ``_CACHE_COMMITTED`` with the data-file inventory
  (``fs.write_commit_marker``) and a ``schema=<StructType JSON>`` line
  that hits scan with: written after the data, on every committer, and
  removed with the old data by a rewrite. A Delta location's log is its
  commit record instead;
* its metadata sidecar, ``<base>/<hash>/cache_metadata.txt`` where
  ``base`` is ``SPARK_CACHE_DIR`` or the caller's ``cache_path``: the
  metadata document the key is the MD5 of (direct-data entries record
  their data hash and schema). It is written LAST, so its presence means
  the entry is committed.

The byte format of every path here is a compatibility interface: a change
orphans every existing entry.
"""
from __future__ import annotations

import json
import logging
import re
from typing import Optional

from pyspark.sql.types import StructType

from . import fs
from .config import config

METADATA_FILE = "cache_metadata.txt"
COMMIT_MARKER = "_CACHE_COMMITTED"
SCHEMA_LINE = "schema="
DRIVER_DATA_FILE = "data.parquet"

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


def is_transactional(location: str) -> bool:
    """A transactional format (Delta) keeps a commit log in the data
    location; its files must never be read as raw parquet, and the log is
    its own commit record and inventory."""
    return fs.exists(f"{location.rstrip('/')}/_delta_log")


def commit_marker_path(location: str) -> str:
    return f"{location.rstrip('/')}/{COMMIT_MARKER}"


def write_commit_marker(location: str, schema: StructType) -> bool:
    """Commit the parquet data just written at ``location``, recording
    its ``schema`` as a ``schema=<StructType JSON>`` line beside the
    inventory; False when the location no longer holds this write's
    output (``fs.write_commit_marker``)."""
    return fs.write_commit_marker(
        location, COMMIT_MARKER, f"\n{SCHEMA_LINE}{schema.json()}"
    )


def recorded_schema(marker: str) -> Optional[StructType]:
    """The schema a commit marker records; None for a marker without the
    line (written before it existed) or with one that does not parse, so
    the reader infers the schema from the files instead."""
    for line in marker.splitlines():
        if line.startswith(SCHEMA_LINE):
            try:
                return StructType.fromJson(json.loads(line[len(SCHEMA_LINE):]))
            except (ValueError, TypeError, KeyError):
                return None
    return None


def inventory_ok(location: str, marker: Optional[str] = None) -> Optional[bool]:
    """Do the data files at ``location`` match the inventory of its commit
    marker? ``marker`` is the marker's text when the caller has read it;
    None reads it here. None when there is nothing to compare (no
    parseable marker: no entry, a Delta entry, or an uncommitted write).
    False means data files were lost or altered after commit. A failed
    listing is no finding either: it is logged and reads None, so neither
    the read path nor an operator scan fails on it."""
    try:
        if marker is None:
            marker = fs.read_text(commit_marker_path(location))
        return fs.inventory_matches(location, marker)
    except Exception as exc:
        log.warning("Inventory check failed for %s (%s: %s)", location,
                    exc.__class__.__name__, exc)
        return None


def cached_input_pattern() -> "re.Pattern[str]":
    """Input directories that are themselves cache entries: an entry's
    data directory in the cache database, and any partition subdirectory
    below it (``(/.*)?``: a ``partition_by`` entry keeps its data files
    in ``<hash>/day=.../``). Sidecar dirs hold no data, so a read of one
    is an ordinary input, not an entry. Matched against scheme-stripped
    paths; the group ``entry`` is the entry's key."""
    db = re.escape(config.CACHE_DATABASE)
    entry = r"(?P<entry>(?:data_)?[a-f0-9]{32})"
    return re.compile(rf"/{db}\.db/{entry}(/.*)?$")
