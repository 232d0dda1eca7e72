"""Salting rewrites are semantics-preserving (vs their unsalted twins) on a
deliberately skewed dataset (one key holds ~90% of rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.operators.skew import salted_aggregate, salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # key 0 → 9000 rows; keys 1..99 → 10 rows each
    base = spark.range(10000).select(
        F.when(F.col("id") < 9000, 0).otherwise((F.col("id") % 99) + 1).alias("k"),
        (F.col("id") * 3 % 100).cast("double").alias("v"),
    )
    return base.cache()


def test_salted_aggregate_matches_plain(skewed):
    plain = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in skewed.groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in salted_aggregate(
            skewed,
            ["k"],
            {"n": "count(*)", "s": "sum(v)", "mn": "min(v)", "mx": "max(v)"},
        ).collect()
    }
    assert salted == plain


def test_salted_aggregate_rejects_non_decomposable(skewed):
    with pytest.raises(ValueError, match="not decomposable"):
        salted_aggregate(skewed, ["k"], {"a": "avg(v)"})


def test_salted_join_matches_plain(spark, skewed):
    dim = spark.createDataFrame(
        [(i, f"name_{i}") for i in range(0, 100, 2)], "k long, name string"
    )
    plain = sorted(
        tuple(r) for r in skewed.join(dim, "k").select("k", "v", "name").collect()
    )
    salted = sorted(
        tuple(r) for r in salted_join(skewed, dim, "k").select("k", "v", "name").collect()
    )
    assert salted == plain
    assert len(plain) > 0
