"""Bucketed co-located join: the physical plan must not shuffle either
side (the 100 TB fact-fact join strategy, SURVEY.md §4.2)."""

from __future__ import annotations

import pytest

from recipes_spark.io import load
from recipes_spark.operators.bucketing import (
    bucketed_join,
    has_shuffle,
    write_bucketed,
)
from recipes_spark.session import scratch_dir


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    root = scratch_dir("buckets")
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketed_test")
    write_bucketed(
        load(spark, sf_dir, "orders"),
        "bucketed_test.orders_b",
        key="o_orderkey",
        buckets=8,
        path=f"{root}/orders_b",
    )
    write_bucketed(
        load(spark, sf_dir, "lineitem"),
        "bucketed_test.lineitem_b",
        key="l_orderkey",
        buckets=8,
        path=f"{root}/lineitem_b",
    )
    yield "bucketed_test.orders_b", "bucketed_test.lineitem_b"
    spark.sql("DROP TABLE IF EXISTS bucketed_test.orders_b")
    spark.sql("DROP TABLE IF EXISTS bucketed_test.lineitem_b")


def test_bucketed_join_no_shuffle(spark, sf_dir, bucketed_tables):
    """Force sort-merge (broadcast off — at 100 TB neither fact side
    broadcasts) and assert the bucketed join plans with zero shuffle
    exchanges."""
    ob, lb = bucketed_tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, ob, lb, "o_orderkey", "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert not has_shuffle(joined), plan[:2000]
        assert "Bucketed: true" in plan
        # Same row count as the shuffled join over the raw tables.
        o = load(spark, sf_dir, "orders")
        li = load(spark, sf_dir, "lineitem")
        expected = o.join(li, o.o_orderkey == li.l_orderkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_unbucketed_join_does_shuffle(spark, sf_dir):
    """Control: the same join over raw (unbucketed) tables shuffles
    both sides once broadcast is off."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load(spark, sf_dir, "orders")
        li = load(spark, sf_dir, "lineitem")
        joined = o.join(li, o.o_orderkey == li.l_orderkey)
        assert has_shuffle(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
