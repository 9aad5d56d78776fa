"""Bloom join-prefilter sketch: no false negatives ever; false-positive
rate bounded when sized properly; Spark membership agrees with the
plain-Python build."""

from __future__ import annotations

from relation_extraction_cdr_spark.operators import sketch as SK


def test_no_false_negatives_and_bounded_fp(spark):
    keys = list(range(0, 2000, 2))  # evens are members
    words = SK.build_bloom(keys, m=16384, k=3)
    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    got = {
        r["k"]: r["pass"]
        for r in SK.with_bloom_pass(df, "k", words, m=16384, k=3, out_col="pass").collect()
    }
    # every member passes (no false negatives)
    assert all(got[k] for k in keys)
    # odd keys: small false-positive rate (1000 keys in 16384 bits)
    fp = sum(1 for k in range(1, 2000, 2) if got[k])
    assert fp < 50, fp


def test_python_and_spark_lanes_agree(spark):
    words = SK.build_bloom(["7", "42"], m=4096, k=3)
    df = spark.createDataFrame([("7",), ("42",), ("43",)], "k string")
    got = {
        r["k"]: r["pass"]
        for r in SK.with_bloom_pass(df, "k", words, m=4096, k=3, out_col="pass").collect()
    }
    assert got["7"] and got["42"]


def test_sql_rendering_matches_python(spark):
    """``_lane_sql`` (the DuckDB lane rendering q54's oracle uses) and
    the Python-built words agree with the Spark column on the same keys
    — the 'same bits, same lanes, any engine' claim, gated."""
    import duckdb

    keys = ["3", "1234", "99999"]
    words = SK.build_bloom(keys, m=4096, k=3)
    lanes = ", ".join(SK._lane_sql("x", i, 4096) for i in range(3))
    con = duckdb.connect()
    got = {
        x: all((words[p // 32] >> (p % 32)) & 1 for p in ps)
        for x, *ps in con.execute(
            f"SELECT x, {lanes} FROM (VALUES ('3'), ('1234'), ('99999'), ('7'), ('424242')) t(x)"
        ).fetchall()
    }
    assert got["3"] and got["1234"] and got["99999"]
    df = spark.createDataFrame([("3",), ("7",), ("424242",)], "x string")
    spark_got = {
        r["x"]: r["bloom_pass"]
        for r in SK.with_bloom_pass(df, "x", words, m=4096, k=3).collect()
    }
    assert spark_got["3"]
    assert spark_got["7"] == got["7"] and spark_got["424242"] == got["424242"]


def test_m_validation(spark):
    import pytest

    with pytest.raises(ValueError):
        SK.build_bloom(["1"], m=48)
    with pytest.raises(ValueError):
        SK.build_bloom(["1"], m=1 << 18)
    with pytest.raises(ValueError):
        SK.with_bloom_pass(None, "x", [0] * 10, m=4096)


def test_distributed_bloom_bit_identical(spark):
    """build_bloom_distributed (BIT_OR aggregate, words-only collect)
    must produce exactly the words the driver-side build does."""
    from relation_extraction_cdr_spark.operators import sketch as SK

    keys = [f"k{i}" for i in range(257)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    dist = SK.build_bloom_distributed(df, "key", m=4096)
    drv = SK.build_bloom(keys, m=4096)
    assert dist == drv
    assert len(dist) == 4096 // 32
