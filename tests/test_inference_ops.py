"""Round-7 inference/sequence operators: independent re-computations
(pure Python / pandas) and structural contracts beyond the DuckDB hash
checks in tests/test_oracle.py."""

from __future__ import annotations

import math

import pytest

from pyspark_mllib_twitter_spark.plans import REGISTRY
from pyspark_mllib_twitter_spark.plans.inference_ops import (
    ACF_MAX_LAG,
    BOOT_R,
    M4_BUCKETS,
)


def _rows(spark, sf, name):
    return REGISTRY[name].spark(spark, sf).collect()


# ---------------------------------------------------------------------------
# Poisson bootstrap
# ---------------------------------------------------------------------------


def test_bootstrap_ci_brackets_point_mean(spark, sf_smoke):
    """The 95% bootstrap interval must be ordered and (for a mean with
    thousands of iid rows) bracket the point estimate; the replicate
    count is part of the contract."""
    r = _rows(spark, sf_smoke, "q_zh_poisson_bootstrap")[0]
    assert r.n_reps == BOOT_R
    assert r.boot_lo <= r.boot_hi
    assert r.boot_lo <= r.point_mean <= r.boot_hi
    # CI width sanity: ~2 * 1.96 * sigma/sqrt(n); generously bounded so the
    # check survives fixture regeneration but catches a broken resampler
    # (degenerate weights give width 0; unhashed uniforms blow it up).
    assert 0 < (r.boot_hi - r.boot_lo) < 0.5 * r.point_mean


def test_bootstrap_weights_are_poisson_like(spark, sf_smoke):
    """Mean Poisson(1) weight over all (row, replicate) draws must be ~1
    (law of large numbers; the inverse-CDF CASE preserves the mean up to
    the clamped >8 tail)."""
    from pyspark.sql import functions as F

    from pyspark_mllib_twitter_spark.plans.inference_ops import (
        _BOOT_U_SPARK,
        _pois_case,
    )
    from pyspark_mllib_twitter_spark.sources import read_table

    base = read_table(spark, sf_smoke, "orders").select("o_orderkey")
    reps = base.select(
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_R - 1))).alias("rep"),
    ).withColumn("w", F.expr(_pois_case(_BOOT_U_SPARK)))
    stats = reps.agg(
        F.avg("w").alias("mean_w"), F.stddev_pop("w").alias("sd_w")
    ).collect()[0]
    assert abs(stats.mean_w - 1.0) < 0.02
    assert abs(stats.sd_w - 1.0) < 0.05  # Var[Poisson(1)] = 1


# ---------------------------------------------------------------------------
# ACF
# ---------------------------------------------------------------------------


def test_acf_bounds_and_python_recompute(spark, sf_smoke):
    """|acf_k| <= 1 for every lag, one row per lag, and the lag-1 value
    must match a pure-Python recomputation of the textbook estimator on
    the collected daily series."""
    rows = _rows(spark, sf_smoke, "q_zi_acf")
    assert [r.lag for r in rows] == list(range(1, ACF_MAX_LAG + 1))
    for r in rows:
        assert abs(r.acf) <= 1.0 + 1e-9

    daily = (
        spark.read.parquet(f"{sf_smoke}/orders.parquet")
        .selectExpr(
            "date_trunc('day', o_orderdate) AS day",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day")
        .sum("cents")
        .orderBy("day")
        .collect()
    )
    x = [r[1] / 100.0 for r in daily]
    n = len(x)
    mu = sum(x) / n
    den = sum((v - mu) ** 2 for v in x)
    acf1 = sum((x[t] - mu) * (x[t + 1] - mu) for t in range(n - 1)) / den
    got = rows[0]
    assert got.nk == n - 1
    assert abs(got.acf - acf1) < 1e-6, (got.acf, acf1)


# ---------------------------------------------------------------------------
# RFM
# ---------------------------------------------------------------------------


def test_rfm_partitions_customers_into_balanced_quintiles(spark, sf_smoke):
    """Scores live in 1..5; segments partition the ordering customers
    exactly; each marginal score dimension is a balanced quintile (sizes
    differ by at most 1 — the SQL-standard ntile contract)."""
    rows = _rows(spark, sf_smoke, "q_zj_rfm")
    n_cust = (
        spark.read.parquet(f"{sf_smoke}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    for dim in ("r_score", "f_score", "m_score"):
        marg = {}
        for r in rows:
            marg[getattr(r, dim)] = marg.get(getattr(r, dim), 0) + r.n_customers
        assert set(marg) == {1, 2, 3, 4, 5}
        assert max(marg.values()) - min(marg.values()) <= 1, (dim, marg)
    assert all(r.avg_monetary > 0 for r in rows)


# ---------------------------------------------------------------------------
# Assortativity
# ---------------------------------------------------------------------------


def test_assortativity_is_a_correlation(spark, sf_smoke):
    """The coefficient is a Pearson r (|r| <= 1) and m2 counts each
    undirected edge exactly twice."""
    from pyspark.sql import functions as F

    from pyspark_mllib_twitter_spark.plans.inference_ops import ASSORT_MOD

    r = _rows(spark, sf_smoke, "q_zk_assortativity")[0]
    assert abs(r.assortativity) <= 1.0 + 1e-9
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    n_edges = (
        li.select(
            (F.col("l_suppkey") % ASSORT_MOD).alias("a"),
            (F.col("l_partkey") % ASSORT_MOD).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .count()
    )
    assert r.m2 == 2 * n_edges


def test_assortativity_complete_graph_yields_null(spark):
    """Zero-variance contract (the round-7 sf0.1 crash class): on a
    regular graph every endpoint degree is identical, the Pearson
    denominator is exactly 0, and the shared-text expression must yield
    NULL on ANSI Spark instead of raising DIVIDE_BY_ZERO — mirroring
    ``q_yi_abtest_ztest``'s degenerate-arm behaviour."""
    from pyspark.sql import functions as F

    from pyspark_mllib_twitter_spark.plans.inference_ops import _ASSORT_EXPR

    n = 5  # complete graph K5: every directed edge has du = dv = n-1
    edges = [(i, j) for i in range(n) for j in range(n) if i != j]
    pairs = spark.createDataFrame(
        [(n - 1, n - 1) for _ in edges], "du INT, dv INT"
    )
    m = pairs.agg(
        F.count("*").cast("bigint").alias("m2"),
        F.sum(F.col("du").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("dv").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("du").cast("decimal(38,0)") * F.col("du")).alias("sxx"),
        F.sum(F.col("dv").cast("decimal(38,0)") * F.col("dv")).alias("syy"),
        F.sum(F.col("du").cast("decimal(38,0)") * F.col("dv")).alias("sxy"),
    )
    row = m.select("m2", F.expr(_ASSORT_EXPR).alias("assortativity")).collect()[0]
    assert row.m2 == len(edges)
    assert row.assortativity is None


# ---------------------------------------------------------------------------
# Sequential patterns
# ---------------------------------------------------------------------------


def test_seqpat_support_matches_bruteforce(spark, sf_smoke):
    """Support for every pair must equal a brute-force per-occurrence
    existence check (the min/max reduction is an algebraic shortcut —
    prove it against the quantifier it claims to implement)."""
    rows = _rows(spark, sf_smoke, "q_zl_seqpat")
    ev = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .selectExpr("user_id", "event_type", "unix_micros(CAST(ts AS TIMESTAMP)) AS us")
        .filter("user_id IS NOT NULL")
        .collect()
    )
    by_user: dict = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append((e.us, e.event_type))
    support: dict = {}
    for _, evs in by_user.items():
        evs.sort()
        seen_pairs = set()
        for i, (ta, a) in enumerate(evs):
            for tb, b in evs[i + 1 :]:
                if tb > ta and a != b:
                    seen_pairs.add((a, b))
        for p in seen_pairs:
            support[p] = support.get(p, 0) + 1
    got = {(r.first_type, r.then_type): r.support for r in rows}
    assert got == support
    n_users = len(by_user)
    for r in rows:
        assert 0 < r.support <= n_users
        assert abs(r.support_frac - round(r.support / n_users, 6)) < 1e-9


# ---------------------------------------------------------------------------
# M4
# ---------------------------------------------------------------------------


def test_m4_bucket_invariants(spark, sf_smoke):
    """Buckets cover all events; per bucket the four M4 points satisfy
    vmin <= {vfirst, vlast} <= vmax; bucket ids stay in range."""
    rows = _rows(spark, sf_smoke, "q_zm_m4_downsample")
    total = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert sum(r.n for r in rows) == total
    assert all(0 <= r.bucket < M4_BUCKETS for r in rows)
    for r in rows:
        assert r.vmin <= r.vfirst <= r.vmax
        assert r.vmin <= r.vlast <= r.vmax
    # equal-width bucketing over a uniform-ish event stream must actually
    # spread: far more than one bucket populated
    assert len(rows) > M4_BUCKETS // 2


def test_m4_no_window_in_plan(spark, sf_smoke):
    """The Spark side must deliver first/last via the combinable
    min_by/max_by aggregate, not a per-bucket window sort."""
    df = REGISTRY["q_zm_m4_downsample"].spark(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan.replace("WindowGroupLimit", ""), plan


# ---------------------------------------------------------------------------
# Mann-Kendall + Theil-Sen
# ---------------------------------------------------------------------------


def test_mann_kendall_python_recompute(spark, sf_smoke):
    """S, n, tie-corrected variance, and z must match a pure-Python
    recomputation on the collected daily series."""
    r = _rows(spark, sf_smoke, "q_zn_mann_kendall")[0]
    daily = (
        spark.read.parquet(f"{sf_smoke}/orders.parquet")
        .selectExpr(
            "date_trunc('day', o_orderdate) AS day",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day")
        .sum("cents")
        .orderBy("day")
        .collect()
    )
    x = [row[1] for row in daily]
    n = len(x)
    s = sum(
        (1 if x[j] > x[i] else -1 if x[j] < x[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    ties = [t for t in Counter(x).values() if t > 1]
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in ties
    )
    var = var18 / 18.0
    z = (s - 1) / var**0.5 if s > 0 else (s + 1) / var**0.5 if s < 0 else 0.0
    assert r.n == n and r.s == s
    assert abs(r.z - z) < 1e-6


def test_theil_sen_is_median_of_pair_slopes(spark, sf_smoke):
    """slope_per_day must be the exact discrete median of the pairwise
    slope multiset (recomputed in Python) and n_pairs = C(n, 2)."""
    r = _rows(spark, sf_smoke, "q_zo_theil_sen")[0]
    daily = (
        spark.read.parquet(f"{sf_smoke}/orders.parquet")
        .selectExpr(
            "date_trunc('day', o_orderdate) AS day",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("day")
        .sum("cents")
        .orderBy("day")
        .collect()
    )
    pts = [(row[0], row[1]) for row in daily]
    slopes = sorted(
        (b_c - a_c) / 100.0 / ((b_d - a_d).days)
        for i, (a_d, a_c) in enumerate(pts)
        for (b_d, b_c) in pts[i + 1 :]
    )
    n = len(pts)
    assert r.n_pairs == n * (n - 1) // 2 == len(slopes)
    # percentile_disc(0.5): smallest value with CDF >= 0.5
    import math

    med = slopes[math.ceil(0.5 * len(slopes)) - 1]
    assert abs(r.slope_per_day - round(med, 6)) < 1e-9


def test_kth_smallest_report_all_tied_short_circuits(spark):
    """All-tied input (lo == hi at level 0) must return the tied value
    directly — not via a global sort+limit of ~n/2 rows (r14 advice)."""
    from pyspark.sql import functions as F

    from pyspark_mllib_twitter_spark.plans.inference_ops import (
        _kth_smallest_report,
    )

    tied = spark.range(10_001).select(F.lit(2.5).alias("slope"))
    out = _kth_smallest_report(spark, tied, "slope")
    # the short-circuit plan is a 1-row range, no Sort/Limit over the input
    assert "Sort" not in out._jdf.queryExecution().executedPlan().toString()
    r = out.collect()[0]
    assert r.n_pairs == 10_001 and abs(r.slope_per_day - 2.5) < 1e-12

    mixed = spark.range(101).select(
        (F.col("id") % 2).cast("double").alias("slope")
    )
    r2 = _kth_smallest_report(spark, mixed, "slope").collect()[0]
    # 51 zeros, 50 ones -> k = 51 -> median 0.0
    assert r2.n_pairs == 101 and r2.slope_per_day == 0.0


def test_kth_smallest_report_rejects_nan(spark):
    """A NaN makes the median undefined: fail loudly, never return the min."""
    from pyspark_mllib_twitter_spark.plans.inference_ops import (
        _kth_smallest_report,
    )

    slopes = spark.createDataFrame([(1.0,), (float("nan"),), (2.0,)], "slope double")
    with pytest.raises(ValueError, match="NaN"):
        _kth_smallest_report(spark, slopes, "slope")


# ---------------------------------------------------------------------------
# Concentration
# ---------------------------------------------------------------------------


def test_concentration_bounds_and_extremes(spark, sf_smoke):
    """HHI lives in (0, 10000]; CR4 in (0, 1]; a segment's CR4 must be
    >= 4/n_customers-ish uniform floor and HHI >= 10000/n (uniform
    lower bound, exact)."""
    rows = _rows(spark, sf_smoke, "q_zp_concentration")
    assert rows, "no segments"
    for r in rows:
        assert 0 < r.hhi <= 10000 + 1e-6
        assert 0 < r.cr4 <= 1 + 1e-9
        assert r.hhi >= 10000.0 / r.n_customers - 1e-6  # uniform lower bound
        if r.n_customers >= 4:
            assert r.cr4 >= 4.0 / r.n_customers - 1e-9


# ---------------------------------------------------------------------------
# KS
# ---------------------------------------------------------------------------


def test_ks_matches_scipy_style_recompute(spark, sf_smoke):
    """ks_d must equal the classical sup-|ECDF diff| recomputed in pure
    Python over both samples (evaluated at every observed point)."""
    r = _rows(spark, sf_smoke, "q_zq_ks_twosample")[0]
    ev = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .filter("event_type IN ('purchase', 'click')")
        .select("event_type", "value")
        .collect()
    )
    a = sorted(e.value for e in ev if e.event_type == "purchase")
    b = sorted(e.value for e in ev if e.event_type == "click")
    import bisect

    points = sorted(set(a) | set(b))
    d = max(
        abs(
            bisect.bisect_right(a, x) / len(a)
            - bisect.bisect_right(b, x) / len(b)
        )
        for x in points
    )
    assert r.na == len(a) and r.nb == len(b)
    assert abs(r.ks_d - round(d, 6)) < 1e-9
    assert 0 <= r.ks_d <= 1


# ---------------------------------------------------------------------------
# Pettitt change-point (round 11)
# ---------------------------------------------------------------------------


def test_pettitt_matches_bruteforce_pair_sum(spark):
    """q_ed's midrank identity vs the definitional double sum
    U_t = sum_{i<=t} sum_{j>t} sgn(x_j - x_i), on the real fixture series:
    recompute every U_t in pure Python from the daily counts (ties
    included) and check K, the change day, and the signed U there."""
    sf = "/root/testdata/sf0.001"
    import collections

    from pyspark.sql import functions as F  # noqa: F811 - local use

    daily = (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day"),
        )
        .count()
        .collect()
    )
    series = collections.defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["day"], r["count"]))
    expected = {}
    for et, pts in series.items():
        pts.sort()
        xs = [v for _, v in pts]
        n = len(xs)
        best = None  # (K, day, u)
        for t in range(1, n):
            u = sum(
                (xs[j] > xs[i]) - (xs[j] < xs[i])
                for i in range(t)
                for j in range(t, n)
            )
            k = abs(u)
            if best is None or k > best[0]:
                best = (k, pts[t - 1][0], u)
        p = min(1.0, 2.0 * math.exp(-6.0 * best[0] ** 2 / (n**3 + n**2)))
        expected[et] = (n, best[1], best[2], best[0], round(p, 6))
    got = {
        r["event_type"]: (
            r["n_days"],
            r["change_day"],
            r["u_at_change"],
            r["k_stat"],
            r["p_approx"],
        )
        for r in REGISTRY["q_ed_pettitt"].spark(spark, sf).collect()
    }
    assert got == expected
