"""Oracle parity away from the fixtures: every registered query on one
generated dataset (``perfbench/datagen.py``, seed 11, sf0.01), plus a
single-vector pin for the rounding case that seed found."""
from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "scripts"))
sys.path.insert(0, os.path.join(_ROOT, "perfbench"))
import datagen  # noqa: E402
from selfcheck import compare  # noqa: E402

_TABLES = datagen.TABLES


def _duck_over(sf: str, tables=_TABLES):
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")
    return con


def test_quantize_int8_oracle_scales_in_double(spark, tmp_path):
    """0.13007811 x 127 / 0.32712713 is 50.4999988 in double and 50.5000010
    in float: Spark promotes the float component to double, so the code
    is 50; an oracle that multiplies in FLOAT rounds to 51."""
    from dbfs_spark_cache_spark.operators import ORACLES, QUERIES

    sf = str(tmp_path)
    pq.write_table(
        pa.table({
            "vec_id": pa.array([151], pa.int64()),
            "embedding": pa.array(
                [[0.13007810711860657, 0.3271271288394928]],
                pa.list_(pa.float32()),
            ),
        }),
        f"{sf}/embeddings.parquet",
    )
    got = QUERIES["embedding_quantize_int8"](spark, sf).toPandas()
    want = _duck_over(sf, ["embeddings"]).execute(
        ORACLES["embedding_quantize_int8"]
    ).fetchdf()
    assert got["q_sum"].tolist() == [50 + 127]
    assert not compare("embedding_quantize_int8", got, want)


def test_generated_seed_11_matches_every_oracle(spark, tmp_path, monkeypatch):
    import __spark_entry__ as entry

    monkeypatch.setenv("SPARK_GRAFT_HASH_FAMILY", "portable")
    sf = str(tmp_path)
    datagen.generate(sf, 11, 0.01)
    con = _duck_over(sf)
    oracles = entry.oracle_sql()
    failed = {}
    for name, build in entry.queries().items():
        got = build(spark, sf).toPandas()
        problems = compare(name, got, con.execute(oracles[name]).fetchdf())
        if problems:
            failed[name] = problems
    assert not failed, failed
