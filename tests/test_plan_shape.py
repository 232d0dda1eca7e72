"""Plan-shape regressions: expensive computed expressions must not be
duplicated into pushed-down filters.

Two known instances of the same Catalyst behavior:

- r14: an EXPLICIT ``filter(size(grams) > 0)`` on a projected column was
  inlined and pushed below the scan-fanout exchange (fixed by filtering
  on ``size(tokens) >= n`` before the projection — operators/dedup.py).
- r15: ``InferFiltersFromGenerate`` synthesizes the same predicate above
  every explode of a computed array, with the same pushdown consequence
  (fixed by excluding the rule in session.get_spark — the inferred filter
  is semantics-free because non-outer explode drops empty/null arrays
  anyway).

The assertion here pins the r15 fix: the full shingle expression
(`array_distinct(...)`) must appear exactly once in the physical plan of
an explode-over-shingles pipeline — the projection — never again inside
a Filter condition.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.operators import dedup
from pyspark_mllib_twitter_spark.sources import read_table
from pyspark_mllib_twitter_spark.sources.io import spread


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_no_inferred_generate_filter_pushdown(spark, sf_smoke):
    docs = spread(read_table(spark, sf_smoke, "documents")).select("doc_id", "text")
    grams = dedup.portable_shingles(docs, 3)
    exploded = grams.select("doc_id", F.explode("grams").alias("g"))
    plan = _plan(exploded)
    # One evaluation — the projection. With InferFiltersFromGenerate active
    # the inferred `size(grams) > 0 AND isnotnull(grams)` filter inlines the
    # expression (twice) and is pushed below the spread() exchange, where it
    # runs interpreted and single-core at the scan.
    assert plan.count("array_distinct") == 1, plan
    # and the rule exclusion that guarantees it is present on the session
    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules", ""
    )
