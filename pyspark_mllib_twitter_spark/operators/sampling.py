"""Sampling operators: deterministic hash sampling, plain and stratified.

A 100 TB pipeline samples constantly — eval splits, dedup audits, cheap
profiling — and the two properties that matter at scale are (a)
determinism across runs/engines (so a sample is reproducible and joinable
against itself later) and (b) no extra shuffle (sampling is a filter, not
a repartition).

``hash_sample`` keys the decision on md5 of the row key: a pure projection
+ filter that pushes down like any predicate, gives the same rows on every
engine that has md5 (so it is DuckDB-oracle-checkable), and never needs a
seed handshake between jobs. ``stratified_hash_sample`` gives each
stratum its own keep-rate with the same md5 test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The 16 hex characters; ``k`` of them ≈ k/16 sampling rate.
_HEX = "0123456789abcdef"


def hash_sample(df: DataFrame, key_col: str, rate_sixteenths: int) -> DataFrame:
    """Deterministic ~``rate_sixteenths``/16 sample: keep rows whose
    ``md5(key)`` ends in one of the first ``rate_sixteenths`` hex digits.

    Engine-portable (md5 of the decimal-string key), reproducible without
    any seed state, and planned as a plain filter — no shuffle, no RNG
    per partition. Granularity is 1/16; chain two digits for 1/256 steps.
    """
    if not 0 < rate_sixteenths <= 16:
        raise ValueError("hash_sample: rate_sixteenths must be in 1..16")
    allowed = list(_HEX[:rate_sixteenths])
    digit = F.substring(F.md5(F.col(key_col).cast("string")), 32, 1)
    return df.filter(digit.isin(allowed))


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rate_sixteenths: dict,
) -> DataFrame:
    """Deterministic per-stratum sampling: a row in stratum ``v`` is kept
    iff the last hex digit of ``md5(key)`` falls in the first
    ``rate_sixteenths[v]`` digits; strata not listed are dropped.

    Same md5 trick as :func:`hash_sample` (bit-identical on any engine
    with md5 → DuckDB-oracle-checkable), stratified: each stratum gets its
    own keep-rate, the fix for skewed strata where one global rate either
    drowns rare strata or keeps too much of the dominant one. A pure
    filter — no shuffle, no state, reproducible across cluster sizes."""
    digit = F.substring(F.md5(F.col(key_col).cast("string")), 32, 1)
    cond = F.lit(False)
    for value, rate in rate_sixteenths.items():
        cond = cond | (
            (F.col(strata_col) == value) & digit.isin(list(_HEX[:rate]))
        )
    return df.filter(cond)
