"""Sampling operators: hash-sample determinism/portability guarantees and
stratified-sample rate tolerances. (Oracle-level check runs via
q_sample_hash in test_oracle.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.operators.sampling import hash_sample, stratified_sample
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


def test_stratified_sample_respects_per_stratum_rates(orders):
    fractions = {"O": 0.5, "F": 0.1, "P": 1.0}
    out = stratified_sample(orders, "o_orderstatus", fractions)
    base = {r.o_orderstatus: r.n for r in orders.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    got = {r.o_orderstatus: r.n for r in out.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    for status, frac in fractions.items():
        if status not in base:
            continue
        expect = base[status] * frac
        if frac == 1.0:
            assert got.get(status, 0) == base[status]
        else:
            # Bernoulli: allow ±40% relative (small strata at sf0.001)
            assert 0.6 * expect <= got.get(status, 0) <= 1.4 * expect, (status, expect, got)
    # seeded: reproducible within the engine
    again = stratified_sample(orders, "o_orderstatus", fractions)
    assert sorted(r.o_orderkey for r in out.collect()) == sorted(
        r.o_orderkey for r in again.collect()
    )
