"""r18 cache-write SIGKILL lens: whole-JVM death inside ``write_cache``,
real processes, shared cache + warehouse dirs.

The r14 crossproc lens proved the commit-marker-gated read against
a HAND-CONSTRUCTED mid-rewrite state (marker removed after a committed
write). This lens produces the torn state the real way: a child JVM is
SIGKILLed (no shutdown hooks) at two points of an actual cache
materialization —

* ``during-save`` — mid Spark write (a pandas-UDF-throttled frame
  keeps the distributed write in flight for seconds): whatever partial
  part files exist carry no commit marker and no metadata sidecar;
* ``pre-metadata`` — after the table write and its commit marker,
  stalled at the ``cache_metadata.txt`` write: a fully
  committed table that the cache identity layer never learned about.

In both states the parent session (own catalog, shared filesystem —
the documented DBFS layout) must read a CLEAN MISS, never partial rows;
a finishing child's rewrite then heals the entry and the parent serves
exact values through the path fallback. This is the process-level proxy
for the env-blocked executor-disk-full-mid-write idea.
"""
from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_GRAFT_HASH_FAMILY", "portable")
mode = {mode!r}            # "during-save" | "pre-metadata" | "finish"
sentinel = {sentinel!r}

from dbfs_spark_cache_spark import core, fs, reconfigure, write_cache
from dbfs_spark_cache_spark.session import get_spark

reconfigure(
    SPARK_CACHE_DIR={cache_dir!r},
    CACHE_DATABASE={db!r},
    DATABASE_PATH={warehouse!r},
)
spark = get_spark(app_name="cache_sigkill_child", warehouse_dir={warehouse!r})
from pyspark.sql import functions as F
import pandas as pd

@F.pandas_udf("double")
def slow_ident(v: pd.Series) -> pd.Series:
    if {mode!r} == "during-save":
        time.sleep(1.0)     # per Arrow batch: keeps the write in flight
    return v * 2.0

df = (
    spark.range(0, 200, 1, 8)
    .select(F.col("id"), slow_ident(F.col("id").cast("double")).alias("v"))
)
key = core.resolve_table_hash(df)
print("KEY", key, flush=True)

if mode == "pre-metadata":
    real = fs.write_text
    def patched(path, content):
        if path.endswith("cache_metadata.txt"):
            with open(sentinel, "w") as fh:
                fh.write(mode)
            time.sleep(60)   # parent SIGKILLs here
        real(path, content)
    fs.write_text = patched
elif mode == "during-save":
    with open(sentinel, "w") as fh:
        fh.write(mode)       # parent kills ~2s in, mid-write

write_cache(df)
print("CHILD_OK", flush=True)
spark.stop()
"""


def _spawn(mode, cache_dir, db, warehouse, sentinel):
    code = _CHILD.format(repo=_REPO, mode=mode, cache_dir=cache_dir, db=db,
                         warehouse=warehouse, sentinel=sentinel)
    return subprocess.Popen(
        [sys.executable, "-c", code],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )


def _await_sentinel(proc, sentinel, what):
    deadline = time.time() + 180
    while not os.path.exists(sentinel):
        if proc.poll() is not None:
            body = proc.stdout.read() if proc.stdout else ""
            raise AssertionError(
                f"child finished before the {what} window:\n{body[-3000:]}"
            )
        if time.time() > deadline:
            proc.kill()
            raise AssertionError(f"child never reached the {what} window")
        time.sleep(0.05)


@pytest.mark.parametrize("placement", ["during-save", "pre-metadata"])
def test_cache_write_sigkill_is_clean_miss_then_heals(
    spark, tmp_path, placement
):
    from dbfs_spark_cache_spark import core
    from dbfs_spark_cache_spark.config import config

    cache_dir = str(tmp_path / "shared_cache") + "/"
    db = f"sigkill_cache_db_{placement.replace('-', '_')}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    sentinel = str(tmp_path / "sentinel")

    proc = _spawn(placement, cache_dir, db, warehouse, sentinel)
    _await_sentinel(proc, sentinel, placement)
    if placement == "during-save":
        time.sleep(2.0)      # land inside the throttled distributed write
    proc.send_signal(signal.SIGKILL)
    proc.wait(timeout=60)
    out = proc.stdout.read() if proc.stdout else ""
    key = None
    for line in out.splitlines():
        if line.startswith("KEY "):
            key = line.split()[1]
    assert key, f"child never printed its cache key:\n{out[-2000:]}"
    assert "CHILD_OK" not in out, "kill landed too late — nothing torn"

    old_cache, old_db = config.SPARK_CACHE_DIR, config.CACHE_DATABASE
    try:
        config.SPARK_CACHE_DIR = cache_dir
        config.CACHE_DATABASE = db
        # the torn state must be a CLEAN MISS for a fresh reader. The
        # public read path gates on the metadata sidecar FIRST
        # (read_cache_if_exist returns None when the stored document is
        # absent), so the identity-layer gate is: no metadata document.
        metadata_path = f"{cache_dir}{key}/cache_metadata.txt"
        assert not os.path.exists(metadata_path), (
            f"metadata sidecar exists after SIGKILL {placement} — the "
            "public read path would serve an unverified entry"
        )
        if placement == "during-save":
            # below the gate too: the dead JVM's partial table must not
            # satisfy the read (no catalog entry, no commit marker)
            assert core._read_cache_table(spark, key) is None, (
                "partial rows served through the path fallback"
            )
        else:
            # pre-metadata: the data write fully committed before the kill,
            # so the LOW-LEVEL primitive can see a complete table — by
            # design; every caller sits behind the metadata gate above.
            # Nothing to assert beyond the gate itself.
            pass

        # heal: a fresh JVM rewrites the same entry to completion
        sentinel2 = str(tmp_path / "sentinel_finish")
        fin = _spawn("finish", cache_dir, db, warehouse, sentinel2)
        fin_out, _ = fin.communicate(timeout=300)
        assert "CHILD_OK" in fin_out, f"healing write failed:\n{fin_out[-3000:]}"
        fin_key = [
            line.split()[1] for line in fin_out.splitlines()
            if line.startswith("KEY ")
        ][0]
        assert fin_key == key, "rewrite resolved a different cache key"

        healed = core._read_cache_table(spark, key)
        assert healed is not None, "healed entry must serve through the fallback"
        rows = sorted((r.id, r.v) for r in healed.collect())
        assert rows == [(i, float(i * 2)) for i in range(200)]
    finally:
        config.SPARK_CACHE_DIR = old_cache
        config.CACHE_DATABASE = old_db
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
