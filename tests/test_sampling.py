"""Sampling operators: hash-sample determinism/portability guarantees.
(Oracle-level checks run via q_sample_hash and q_sample_stratified in
test_oracle.)"""

from __future__ import annotations

import pytest

from pyspark_mllib_twitter_spark.operators.sampling import hash_sample
from pyspark_mllib_twitter_spark.sources import read_table


@pytest.fixture(scope="module")
def orders(spark, sf_smoke):
    return read_table(spark, sf_smoke, "orders").cache()


def test_hash_sample_deterministic_and_subset_monotone(orders):
    """Same rows every run, and a higher rate strictly contains the lower
    one (prefix-of-hex-digits construction)."""
    k2a = {r.o_orderkey for r in hash_sample(orders, "o_orderkey", 2).collect()}
    k2b = {r.o_orderkey for r in hash_sample(orders, "o_orderkey", 2).collect()}
    k8 = {r.o_orderkey for r in hash_sample(orders, "o_orderkey", 8).collect()}
    assert k2a == k2b and len(k2a) > 0
    assert k2a <= k8
    # rate sanity: 2/16 of a uniform key space, generous tolerance
    n = orders.count()
    assert 0.06 * n < len(k2a) < 0.20 * n
    assert len({r.o_orderkey for r in hash_sample(orders, "o_orderkey", 16).collect()}) == n


def test_hash_sample_is_a_pushable_filter(orders, spark, sf_smoke):
    """Straight from the scan, the sample predicate reaches the file source
    as a data filter — no shuffle, no extra stage."""
    fresh = read_table(spark, sf_smoke, "orders")
    plan = hash_sample(fresh, "o_orderkey", 2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hash_sample_guards(orders):
    with pytest.raises(ValueError):
        hash_sample(orders, "o_orderkey", 0)
    with pytest.raises(ValueError):
        hash_sample(orders, "o_orderkey", 17)
