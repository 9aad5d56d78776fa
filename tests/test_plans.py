"""Physical-plan audit tests: the plan Catalyst picks for each audited
query must be the plan we'd want on a 1000-executor cluster — broadcast
dimension joins, pushed scan filters, map-side combines, no cartesian
products. A regression here is a scale bug even when results stay
correct."""

from __future__ import annotations

import os

import pytest

from relation_extraction_cdr_spark.plans.audit import (
    EXPECTATIONS,
    audit_query,
    plan_facts,
    unrounded_decimal_quotients,
)
from relation_extraction_cdr_spark.plans.queries import _MESH_TSV, QUERIES

SF_DIR = "/root/testdata/sf0.001"


# q82 reads the real MeSH tree the reference ships; without it the query
# cannot even be planned
SKIP_Q82 = not os.path.exists(_MESH_TSV)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(
            n,
            marks=pytest.mark.skipif(
                SKIP_Q82 and n == "q82_mesh_closure",
                reason="reference data not present",
            ),
        )
        for n in sorted(EXPECTATIONS)
    ],
)
def test_audited_plan(spark, name):
    violations = audit_query(name, QUERIES[name](spark, SF_DIR))
    assert not violations, "; ".join(violations)


def test_global_plan_invariants(spark):
    """One pass over every registered query, two global invariants:

    1. no plan contains a cartesian product (the 100 TB scale killer);
    2. no output expression is a raw DECIMAL quotient (the cross-engine
       hash killer that made q66/q67/q74/q75 red in round 3 — Spark
       rounds decimal division HALF_UP, DuckDB mediates through DOUBLE;
       outputs must be exact scaled integers or rounded quotients).
    """
    cartesian, raw_quot = {}, {}
    for name, fn in QUERIES.items():
        if SKIP_Q82 and name == "q82_mesh_closure":
            continue
        df = fn(spark, SF_DIR)
        facts = plan_facts(df)
        if facts.cartesian_products:
            cartesian[name] = facts.cartesian_products
        quot = unrounded_decimal_quotients(df)
        if quot:
            raw_quot[name] = quot
    assert not cartesian, f"cartesian products in: {cartesian}"
    assert not raw_quot, f"raw decimal quotients in: {raw_quot}"


def test_decimal_quotient_lint_detects(spark):
    """The lint is not vacuous: it flags the exact round-3 bad pattern
    (raw decimal division cast to decimal) and passes both sanctioned
    idioms (scaled-integer DIV; round-then-cast)."""
    import pyspark.sql.functions as F

    base = spark.range(5).withColumnRenamed("id", "n")
    bad = base.groupBy().agg(
        (F.sum("n").cast("decimal(38,6)") / F.count("*"))
        .cast("decimal(38,6)")
        .alias("mean_n")
    )
    assert unrounded_decimal_quotients(bad), "lint missed the raw quotient"
    ok_div = base.groupBy().agg(
        F.expr(
            "CAST(CAST(sum(n) AS DECIMAL(38,0)) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("mean_n_e6")
    )
    assert not unrounded_decimal_quotients(ok_div)
    ok_round = base.groupBy().agg(
        F.round(F.sum("n") / F.count("*"), 6).cast("decimal(38,6)").alias("mean_n")
    )
    assert not unrounded_decimal_quotients(ok_round)


def test_q01_column_pruning(spark):
    """The pricing-summary scan must read only the referenced columns,
    not the full lineitem schema (16 cols)."""
    facts = plan_facts(QUERIES["q01_pricing_summary"](spark, SF_DIR))
    assert facts.read_schemas, "no parquet scan found"
    assert all(n <= 8 for n in facts.scan_columns), facts.read_schemas


def test_doc_family_helpers_are_memoized(spark):
    """Regression: createDataFrame yields a fresh ExistingRDD identity per
    call, so two identically-built helper plans are never canonically
    equal and persisted caches silently stop being shared.  The helpers
    must return the SAME DataFrame object per (app, sf_dir)."""
    from relation_extraction_cdr_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    assert Q._doc_mentions(spark, sf) is Q._doc_mentions(spark, sf)
    assert Q._doc_cooc(spark, sf) is Q._doc_cooc(spark, sf)
    assert Q._doc_gazetteer(spark) is Q._doc_gazetteer(spark)
    assert Q._doc_tree_map(spark) is Q._doc_tree_map(spark)
