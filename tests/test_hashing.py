"""Input-data hashing: determinism + sensitivity contracts (SURVEY.md §1.3)."""
import pandas as pd
import pytest

from dbfs_spark_cache_spark.hashing import hash_input_data


def test_deterministic():
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert hash_input_data(pdf) == hash_input_data(pdf.copy())


def test_value_sensitive():
    a = pd.DataFrame({"a": [1, 2, 3]})
    b = pd.DataFrame({"a": [1, 2, 4]})
    assert hash_input_data(a) != hash_input_data(b)


def test_column_order_sensitive():
    a = pd.DataFrame({"a": [1], "b": [2]})
    b = pd.DataFrame({"b": [2], "a": [1]})
    assert hash_input_data(a) != hash_input_data(b)


def test_dtype_sensitive():
    a = pd.DataFrame({"a": pd.array([1, 2], dtype="int32")})
    b = pd.DataFrame({"a": pd.array([1, 2], dtype="int64")})
    assert hash_input_data(a) != hash_input_data(b)


def test_list_of_dicts():
    rows = [{"x": i, "y": 2 * i} for i in range(5)]
    assert hash_input_data(rows) == hash_input_data(list(rows))
    assert hash_input_data(rows) != hash_input_data(rows[:4])


def test_rejects_unsupported_type():
    with pytest.raises(TypeError):
        hash_input_data({"not": "supported"})


def test_rejects_rdd(spark):
    rdd = spark.sparkContext.parallelize([1, 2, 3])
    with pytest.raises(TypeError):
        hash_input_data(rdd)


def test_parquet_fallback_index_sensitivity():
    """The parquet-bytes fallback (exotic dtypes) must keep index handling
    consistent with the primary path: frames differing only in index get
    different identities; the same frame hashes stably (ADVICE r1, low)."""
    import pandas as pd

    from dbfs_spark_cache_spark.hashing import hash_input_data

    # list-valued column defeats hash_pandas_object -> parquet fallback
    base = pd.DataFrame({"a": [[1, 2], [3]]}, index=[0, 1])
    shifted = pd.DataFrame({"a": [[1, 2], [3]]}, index=[5, 9])
    assert hash_input_data(base) == hash_input_data(base.copy())
    assert hash_input_data(base) != hash_input_data(shifted)
