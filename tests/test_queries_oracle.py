"""Representative Spark-vs-DuckDB parity checks (the driver runs the full
suite; scripts/oracle_check.py runs it locally).  A fast subset keeps the
pytest loop quick while still exercising every determinism mechanism
(decimal sums, window ties, md5 hashing, list folds, SQL-mirrored
mention detection)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
from oracle_check import TABLES, value_hash  # noqa: E402

from relation_extraction_cdr_spark.plans.queries import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"
SUBSET = [
    "q01_pricing_summary",
    "q07_window_topk",
    "q15_asof_join",
    "q17_lang_id",
    "q23_minhash",
    "q24_jaccard_neardup",
    "q25_simhash",
    "q26_ann_cosine_topk",
    "q28_cdr_mentions",
    "q29_cdr_candidates",
    "q30_cdr_triples",
    "q31_levi_filter",
]


@pytest.fixture(scope="module")
def duck():
    from oracle_check import make_duck_con

    return make_duck_con(SF_DIR)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows)
    assert value_hash(spark_rows, sdf.columns) == value_hash(duck_rows, duck_cols)


def test_every_query_has_callable_and_entry_contract():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 30
