"""Skew-mitigation recipes: salting for hot keys (100 TB discipline).

AQE's skew-join splitting (on in ``session.get_spark``) handles most skew
at runtime, but two cases still need explicit salting on a real cluster:

- **aggregation skew** — a hot group key funnels through one reducer; AQE
  cannot split a single aggregation key. ``salted_aggregate`` does the
  classic two-phase rewrite: pre-aggregate on (key, salt), then merge the
  partials — the hot key fans out over ``n_salts`` reducers and the final
  pass merges ``n_salts`` rows per key instead of millions.
- **join skew beyond AQE's reach** — e.g. a shuffled join whose skewed
  side AQE already coalesced differently, or pre-AQE Spark.
  ``salted_join`` salts the big side deterministically and replicates the
  small side once per salt value (small side grows n_salts×, which is the
  price of de-hotting the big side's key).

Both rewrites are semantics-preserving and verified against their
unsalted equivalents in tests/test_skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase (salted) aggregation: ``aggs`` maps output column name to
    ``"fn(col)"`` where fn ∈ {count, sum, min, max} — the decomposable
    aggregates (partials merge with the same fn; count merges with sum).

    Phase 1 groups by (keys, salt) — the hot key spreads over ``n_salts``
    reducers; phase 2 merges the ≤ ``n_salts`` partial rows per key.
    """
    mergers = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
    parsed = {}
    for out, spec in aggs.items():
        fn, _, col = spec.partition("(")
        fn = fn.strip().lower()
        if fn not in mergers:
            raise ValueError(
                f"salted_aggregate: '{fn}' is not decomposable here — "
                f"supported: {sorted(mergers)} (use avg = sum/count yourself)"
            )
        parsed[out] = (fn, col.rstrip(")").strip())

    salted = df.withColumn(
        "_salt", (F.monotonically_increasing_id() % n_salts).cast("int")
    )
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[
            (F.count("*") if col == "*" and fn == "count" else getattr(F, fn)(col)).alias(out)
            for out, (fn, col) in parsed.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[mergers[fn](out).alias(out) for out, (fn, _) in parsed.items()]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
) -> DataFrame:
    """Inner equi-join with the big side's hot keys spread over ``n_salts``
    partitions: big rows get a deterministic salt; the small side is
    replicated once per salt (explode of a literal range) so every
    (key, salt) bucket still finds its match. Join key becomes
    (``on``, salt); output drops the salt.
    """
    b = big.withColumn(
        "_salt", (F.monotonically_increasing_id() % n_salts).cast("int")
    )
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    return b.join(s, [on, "_salt"]).drop("_salt")
