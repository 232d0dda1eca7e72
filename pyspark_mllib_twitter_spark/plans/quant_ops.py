"""Quantitative-risk / nonparametric-statistics operators (round 8,
batches 4 and 6): Kruskal-Wallis rank ANOVA, exact 1-D Wasserstein
drift distance, Value-at-Risk / CVaR tail risk, cumulative gains/lift
deciles, AR(2) Yule-Walker fit, and single-bin DFT seasonality power.

Design rules carried from the rest of the engine:

- **Cross-engine float discipline.** Ranks, counts and cents stay
  exact integers for as long as possible; every double is produced by
  ONE shared-text expression evaluated by both engines, and any
  order-sensitive double accumulation runs inside an explicitly
  ORDERed window frame so both engines add in the same sequence (the
  q_ck_perm_entropy contract).
- **Collapse before you rank.** Every rank/CDF computation groups raw
  rows down to (value-cell, group) count cells first — the combinable
  map-side aggregate — and only then runs prefix sums at cell grain.
  Locally the prefix sum is one ordered window; at 100 TB it swaps for
  the distributed range-repartition + broadcast-offsets recipe already
  proven in q_yv_auc / q_yj_gini. The statistics are engineered
  integer-exact so either layout hashes identically (q_zq contract).
- **Family-bounded tails.** Closes run over <= 5 arm rows or one
  global row; nothing iterates over the corpus after the first
  aggregate.

Reference scope: the reference (COMP5349_2.py:1-211) has none of this
surface; north-star experimentation/risk-observability mandate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.iterate import iterate
from ..sources import local_frame, read_table
from .registry import query, sql_query
from .warehouse_ops import _rank

# ---------------------------------------------------------------------------
# Kruskal-Wallis H test (rank ANOVA across the five order-priority arms)
# ---------------------------------------------------------------------------

#: Per-arm contribution to the H sum, in double-rank units: R2 is the
#: arm's sum of DOUBLED average ranks (2*cum - t + 1, always an exact
#: integer even for tie groups), so R_j^2/n_j = R2^2 / (4 n_j).
_KW_TERM = (
    "(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE))"
    " / (4e0 * CAST(n_arm AS DOUBLE))"
)

#: Shared-text H close: 12*S/(N(N+1)) - 3(N+1), then the tie
#: correction divisor C = 1 - sum(t^3 - t)/(N^3 - N). A single-arm or
#: all-tied degenerate family yields NULL via nullif, never an
#: ANSI-mode divide error (the q_zk_assortativity lesson).
_KW_H = (
    "(12e0 * s / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1e0))"
    " - 3e0 * (CAST(n AS DOUBLE) + 1e0))"
)
_KW_C = (
    "(1e0 - CAST(tie_sum AS DOUBLE)"
    " / nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(n AS DOUBLE), 0e0))"
)


# Kruskal-Wallis H across the five priority arms. Ranks are carried doubled
# (always integers); all-tied families close to NULL via nullif.
sql_query(
    "q_cn_kruskal_wallis",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS arm,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    cell AS (
      SELECT arm, cents, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2),
    vcell AS (
      SELECT cents, CAST(sum(c) AS BIGINT) AS t
      FROM cell GROUP BY 1),
    vrank AS (
      SELECT cents, t,
             SUM(t) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum
      FROM vcell),
    arm_sum AS (
      SELECT c.arm,
             CAST(sum(c.c) AS BIGINT) AS n_arm,
             CAST(sum(c.c * (2 * v.cum - v.t + 1)) AS BIGINT) AS r2
      FROM cell c JOIN vrank v ON v.cents = c.cents
      GROUP BY 1),
    gl AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
      FROM vcell),
    acc AS (
      SELECT a.arm, a.n_arm, a.r2, g.n, g.tie_sum,
             SUM({_KW_TERM}) OVER (ORDER BY a.arm
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS s
      FROM arm_sum a CROSS JOIN gl g)
    SELECT arm, n_arm, r2 AS rank_sum_x2,
           round({_KW_H}, 6) AS h_stat,
           round({_KW_H} / nullif({_KW_C}, 0e0), 6) AS h_tie_corrected,
           CAST(4 AS BIGINT) AS df
    FROM acc ORDER BY arm
    """,
)


# ---------------------------------------------------------------------------
# Exact 1-D Wasserstein (earth mover's) distance between event types
# ---------------------------------------------------------------------------

W1_SAMPLE_A = "purchase"
W1_SAMPLE_B = "click"

#: Per-cell transport term |F_a - F_b| * dv: the CDF gap is the exact
#: integer cross-difference |cum_a*nb - cum_b*na| divided once, dv the
#: exact integer micro-unit gap to the NEXT distinct value. Summed in
#: ascending-value window order so both engines add the same doubles
#: in the same sequence.
_W1_TERM = (
    "(CAST(abs(cum_a * nb - cum_b * na) AS DOUBLE)"
    " / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))"
    " * (CAST(dv AS DOUBLE) / 1e6)"
)


# Exact 1-D Wasserstein-1 distance between two event types' values: integer
# CDF gaps, transport terms summed in ascending-value window order.
sql_query(
    "q_co_wasserstein",
    f"""
    WITH ev AS (
      SELECT CAST(round(value * 1e6) AS BIGINT) AS v,
             CASE WHEN event_type = '{W1_SAMPLE_A}' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = '{W1_SAMPLE_B}' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('{W1_SAMPLE_A}', '{W1_SAMPLE_B}')),
    grp AS (
      SELECT v, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(ib) AS BIGINT) AS cb
      FROM ev GROUP BY v),
    cum AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
             lead(v) OVER (ORDER BY v) - v AS dv
      FROM grp),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
             CAST(SUM(ca * v) AS BIGINT) AS sum_a,
             CAST(SUM(cb * v) AS BIGINT) AS sum_b
      FROM grp),
    seg AS (
      SELECT SUM(CASE WHEN c.dv IS NOT NULL THEN {_W1_TERM} ELSE 0e0 END)
               OVER (ORDER BY c.v ROWS UNBOUNDED PRECEDING) AS w1_acc,
             c.v, t.na, t.nb, t.sum_a, t.sum_b
      FROM cum c CROSS JOIN tot t),
    last AS (
      SELECT na, nb, sum_a, sum_b, w1_acc
      FROM seg ORDER BY v DESC LIMIT 1)
    SELECT na, nb,
           round(w1_acc, 6) AS w1_distance,
           round(CAST(sum_a AS DOUBLE) / (1e6 * CAST(na AS DOUBLE)), 6)
             AS mean_a,
           round(CAST(sum_b AS DOUBLE) / (1e6 * CAST(nb AS DOUBLE)), 6)
             AS mean_b
    FROM last
    """,
)


# ---------------------------------------------------------------------------
# Value-at-Risk + CVaR (expected shortfall) per order-priority desk
# ---------------------------------------------------------------------------

#: Exact integer target rank ceil(19n/20) for the 95th percentile: the
#: floor of a quotient of integers below 2^53 is exact (the q_b8 contract).
_VAR_K = "CAST(floor((19 * n_arm + 19) / 20) AS BIGINT)"


# VaR95 (the ceil(0.95 n)-th order statistic) and CVaR95 (the mean at or above
# it) of order value per priority, from exact prefix sums.
sql_query(
    "q_cq_cvar",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS arm,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    cell AS (
      SELECT arm, cents, CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT arm, cents, c,
             SUM(c) OVER (PARTITION BY arm ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c * cents) OVER (PARTITION BY arm ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS cum_s
      FROM cell),
    tot AS (
      SELECT arm, CAST(sum(c) AS BIGINT) AS n_arm,
             CAST(sum(c * cents) AS BIGINT) AS tot_s
      FROM cell GROUP BY 1),
    hit AS (
      SELECT c.arm, c.cents, c.cum_c, c.cum_s, c.c, t.n_arm, t.tot_s,
             row_number() OVER (PARTITION BY c.arm ORDER BY c.cents) AS hit_rk
      FROM cum c JOIN tot t ON t.arm = c.arm
      WHERE c.cum_c >= {_VAR_K}),
    pick AS (SELECT * FROM hit WHERE hit_rk = 1)
    SELECT arm, n_arm,
           CAST(n_arm - (cum_c - c) AS BIGINT) AS tail_n,
           round(CAST(cents AS DOUBLE) / 1e2, 6) AS var95,
           round(CAST(tot_s - (cum_s - c * cents) AS DOUBLE)
                 / (1e2 * CAST(n_arm - (cum_c - c) AS DOUBLE)), 6) AS cvar95
    FROM pick ORDER BY arm
    """,
)


# ---------------------------------------------------------------------------
# Cumulative gains / lift table at deciles (scored-model evaluation)
# ---------------------------------------------------------------------------

#: Decile of a score cell from its DESC-order cumulative count:
#: ceil(10*cum/n) as an exact floor of integers (q_b8 contract). A
#: tie cell lands wholly in the decile its END falls into, which is
#: deterministic on both engines because cum is cell-grain exact.
_LG_DEC = "CAST(floor((10 * cum + n - 1) / n) AS BIGINT)"

#: Shared-text closes on exact integer decile aggregates.
_LG_LIFT = (
    "((CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE))"
    " / nullif(CAST(p AS DOUBLE) / CAST(n AS DOUBLE), 0e0))"
)
_LG_GAIN = "(CAST(cum_pos AS DOUBLE) / nullif(CAST(p AS DOUBLE), 0e0))"


# Lift and cumulative gains per score decile; a decile is ceil(10 cum / n)
# over descending cumulative counts, so tied scores share a decile.
sql_query(
    "q_cu_lift_gains",
    f"""
    WITH scored AS (
      SELECT CAST(round(value * 1e6) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    cells AS (
      SELECT s, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS yc
      FROM scored GROUP BY s),
    cum AS (
      SELECT s, c, yc,
             SUM(c) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum
      FROM cells),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(yc) AS BIGINT) AS p
      FROM cells),
    bucketed AS (
      SELECT {_LG_DEC} AS decile, c, yc
      FROM cum CROSS JOIN tot),
    per AS (
      SELECT decile, CAST(sum(c) AS BIGINT) AS nb,
             CAST(sum(yc) AS BIGINT) AS pos
      FROM bucketed GROUP BY decile),
    curve AS (
      SELECT decile, nb, pos,
             SUM(pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
               AS cum_pos
      FROM per)
    SELECT c.decile, c.nb, c.pos,
           CAST(c.cum_pos AS BIGINT) AS cum_pos,
           round({_LG_LIFT}, 6) AS lift,
           round({_LG_GAIN}, 6) AS cum_gain
    FROM curve c CROSS JOIN tot ORDER BY c.decile
    """,
)


# ---------------------------------------------------------------------------
# AR(2) fit via Yule-Walker on the daily revenue series
# ---------------------------------------------------------------------------

#: Autocovariance at lag k from exact DECIMAL moments, global-mean
#: normalized (mu = sx/n): ck = (sxy_k - mu*(sa_k + sb_k) + nk*mu^2)/n.
#: One shared-text expression per k; identical doubles on both engines.
def _ar2_ck(sxy: str, sa: str, sb: str, nk: str) -> str:
    mu = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    return (
        f"((CAST({sxy} AS DOUBLE) - {mu} * (CAST({sa} AS DOUBLE)"
        f" + CAST({sb} AS DOUBLE)) + CAST({nk} AS DOUBLE) * {mu} * {mu})"
        " / CAST(n AS DOUBLE))"
    )


_AR2_C0 = _ar2_ck("sxx", "sx", "sx", "n")
_AR2_C1 = _ar2_ck("sxy1", "sa1", "sb1", "nk1")
_AR2_C2 = _ar2_ck("sxy2", "sa2", "sb2", "nk2")
_AR2_R1 = f"({_AR2_C1} / nullif({_AR2_C0}, 0e0))"
_AR2_R2 = f"({_AR2_C2} / nullif({_AR2_C0}, 0e0))"
#: Yule-Walker solution of the 2x2 system.
_AR2_PHI1 = (
    f"({_AR2_R1} * (1e0 - {_AR2_R2})"
    f" / nullif(1e0 - {_AR2_R1} * {_AR2_R1}, 0e0))"
)
_AR2_PHI2 = (
    f"(({_AR2_R2} - {_AR2_R1} * {_AR2_R1})"
    f" / nullif(1e0 - {_AR2_R1} * {_AR2_R1}, 0e0))"
)
#: Innovation-variance share 1 - phi1*r1 - phi2*r2 (fraction of series
#: variance the AR(2) model does NOT explain).
_AR2_NOISE = f"(1e0 - {_AR2_PHI1} * {_AR2_R1} - {_AR2_PHI2} * {_AR2_R2})"
#: Stationarity triangle: phi2 in (-1,1), phi2 + phi1 < 1, phi2 - phi1 < 1.
_AR2_STATIONARY = (
    f"(abs({_AR2_PHI2}) < 1e0 AND {_AR2_PHI2} + {_AR2_PHI1} < 1e0"
    f" AND {_AR2_PHI2} - {_AR2_PHI1} < 1e0)"
)


# AR(2) fit by the Yule-Walker equations on daily revenue, with the
# stationarity check; every moment is an exact DECIMAL(38,0).
sql_query(
    "q_cv_ar2_yule_walker",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                      AS DECIMAL(38,0))) AS x
      FROM orders GROUP BY 1),
    idx AS (
      SELECT row_number() OVER (ORDER BY day) AS t, x FROM daily),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      FROM idx),
    l1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nk1, SUM(a.x * b.x) AS sxy1,
             SUM(a.x) AS sa1, SUM(b.x) AS sb1
      FROM idx a JOIN idx b ON b.t = a.t + 1),
    l2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nk2, SUM(a.x * b.x) AS sxy2,
             SUM(a.x) AS sa2, SUM(b.x) AS sb2
      FROM idx a JOIN idx b ON b.t = a.t + 2)
    SELECT n,
           round({_AR2_R1}, 6) AS r1,
           round({_AR2_R2}, 6) AS r2,
           round({_AR2_PHI1}, 6) AS phi1,
           round({_AR2_PHI2}, 6) AS phi2,
           round({_AR2_NOISE}, 6) AS noise_share,
           {_AR2_STATIONARY} AS stationary
    FROM totals CROSS JOIN l1 CROSS JOIN l2
    """,
)


# ---------------------------------------------------------------------------
# Single-bin DFT (Goertzel-style) seasonality power at candidate periods
# ---------------------------------------------------------------------------

import math as _math

_DFT_PERIODS = (5, 7, 9)


def _dft_case(fn, p: int) -> str:
    """CASE mapping day-index mod p -> literal cos/sin value.

    The trig table is emitted as repr'd double LITERALS at codegen time
    (Python math, deterministic), so neither engine's libm is ever
    consulted — the cross-engine cos() 1-ULP hazard cannot occur.
    """
    arms = " ".join(
        f"WHEN {k} THEN {getattr(_math, fn)(2.0 * _math.pi * k / p)!r}"
        for k in range(p)
    )
    return f"(CASE (t - 1) % {p} {arms} END)"


#: Demeaned series value in cents as a shared-text double.
_DFT_YD = "(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"

#: Per-day projection terms, quantized to integer cents so the
#: cross-day sum is order-free (q_zv contract).
def _dft_term(fn: str, p: int) -> str:
    return (
        f"CAST(round({_DFT_YD} * {_dft_case(fn, p)}, 0) AS BIGINT)"
    )


#: Shared-text closes: amplitude of the fitted sinusoid at period p and
#: the share of series variance it explains (2*(sc^2+ss^2)/(n * SSE)).
_DFT_POW = (
    "(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)"
    " + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))"
)
_DFT_AMP = f"(2e0 * sqrt({_DFT_POW}) / CAST(n AS DOUBLE) / 100e0)"
_DFT_SSE = (
    "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
)
_DFT_SHARE = f"(2e0 * {_DFT_POW} / (CAST(n AS DOUBLE) * nullif({_DFT_SSE}, 0e0)))"


def _dft_oracle() -> str:
    proj = " UNION ALL ".join(
        f"""
      SELECT {p} AS period, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum({_dft_term("cos", p)}) AS BIGINT) AS sc,
             CAST(sum({_dft_term("sin", p)}) AS BIGINT) AS ss
      FROM idx CROSS JOIN totals"""
        for p in _DFT_PERIODS
    )
    return f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1),
    idx AS (
      SELECT row_number() OVER (ORDER BY day) AS t, x FROM daily),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx
      FROM idx),
    proj AS ({proj})
    SELECT p.period, p.n_days,
           round({_DFT_AMP}, 6) AS amplitude_dollars,
           round({_DFT_SHARE}, 6) AS variance_share
    FROM proj p CROSS JOIN totals ORDER BY p.period
    """


# Single-bin DFT (Goertzel 1958) of daily revenue at periods 5, 7 and 9 days.
# The trig tables are double literals in the text, so no engine libm is used.
sql_query("q_cw_dft_seasonality", _dft_oracle())


# ---------------------------------------------------------------------------
# Restricted mean survival time (RMST) per market segment
# ---------------------------------------------------------------------------

#: Censoring cutoff shared with q_yt's KM curve and the horizon tau.
_RMST_CUTOFF = "2001-01-01"
_RMST_TAU = 365

#: KM survival step after the events at this duration, per arm:
#: exp-of-sum-of-logs with the explicit zero clamp (the q_yt contract —
#: Spark ln(0) is NULL, DuckDB's is -inf; the clamp keeps both engines
#: on the defined branch).
_RMST_S = (
    "CASE WHEN min(1.0 - CAST(n_deaths AS DOUBLE) / at_risk)"
    "          OVER (PARTITION BY arm ORDER BY dur) <= 0.0 THEN 0.0"
    "     ELSE exp(sum(ln(1.0 - CAST(n_deaths AS DOUBLE) / at_risk))"
    "              OVER (PARTITION BY arm ORDER BY dur)) END"
)


# Restricted mean survival time (tau = 365 days) per market segment: the area
# under each segment's Kaplan-Meier curve, accumulated in duration order.
sql_query(
    "q_cx_rmst",
    f"""
    WITH life AS (
      SELECT c.c_mktsegment AS arm,
             CAST(CAST(max(o.o_orderdate) AS DATE) - CAST(min(o.o_orderdate) AS DATE)
                  AS BIGINT) AS dur,
             CASE WHEN max(o.o_orderdate) < TIMESTAMP '{_RMST_CUTOFF}'
                  THEN 1 ELSE 0 END AS observed
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_custkey, c.c_mktsegment),
    tot AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM life GROUP BY arm),
    per_d AS (
      SELECT arm, dur, count(*) AS n_all, sum(observed) AS n_deaths
      FROM life GROUP BY arm, dur),
    risk AS (
      SELECT p.arm, p.dur, p.n_all, p.n_deaths,
             t.n - coalesce(sum(p.n_all) OVER (PARTITION BY p.arm
                 ORDER BY p.dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk,
             t.n
      FROM per_d p JOIN tot t ON t.arm = p.arm),
    km AS (
      SELECT arm, dur, n_deaths, at_risk, n, {_RMST_S} AS s
      FROM risk WHERE n_deaths > 0),
    seg AS (
      SELECT arm, dur, s, n,
             coalesce(lag(dur) OVER (PARTITION BY arm ORDER BY dur), 0)
               AS prev_dur,
             coalesce(lag(s) OVER (PARTITION BY arm ORDER BY dur), 1.0)
               AS prev_s
      FROM km WHERE dur <= {_RMST_TAU}),
    acc AS (
      SELECT arm, dur, s, n,
             sum(prev_s * CAST(dur - prev_dur AS DOUBLE))
               OVER (PARTITION BY arm ORDER BY dur
                     ROWS UNBOUNDED PRECEDING) AS area,
             row_number() OVER (PARTITION BY arm ORDER BY dur DESC)
               AS rk_desc,
             CAST(count(*) OVER (PARTITION BY arm) AS BIGINT) AS n_times
      FROM seg)
    SELECT arm, n AS n_subjects, n_times AS n_event_times,
           CAST({_RMST_TAU} AS BIGINT) AS tau_days,
           round(area + s * CAST({_RMST_TAU} - dur AS DOUBLE), 6)
             AS rmst_days
    FROM acc WHERE rk_desc = 1 ORDER BY arm
    """,
)


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis of daily revenue
# ---------------------------------------------------------------------------

_HURST_BLOCKS = (8, 16, 32, 64)

#: Per-block R/S with an exact integer core: with y in whole DOLLARS
#: (not cents — keeps m*ss - s^2 inside int64 headroom to ~sf1; the
#: statistic is dimensionless so the unit only sets resolution) and block
#: size m, m*Z_k = m*cumsum_k - k*block_sum is an exact integer, so
#: R*m = max(mZ) - min(mZ) and S*m = sqrt(m*ss - s^2) give
#: R/S = Rm / sqrt(m*ss - s*s) — one sqrt of an exact integer, then
#: nano-quantized so the cross-block mean is order-free (q_zv
#: contract). Degenerate (constant) blocks are excluded on both
#: engines by the svar > 0 predicate.
_RS_Q = (
    "CAST(round(CAST(rm AS DOUBLE) / sqrt(CAST(svar AS DOUBLE))"
    " * 1000000000.0, 0) AS BIGINT)"
)
#: ln(mean R/S) per block size, nano-quantized for the tiny OLS.
_RS_LOG = (
    "CAST(round(ln(CAST(rs_sum AS DOUBLE) / CAST(n_blocks AS DOUBLE)"
    " / 1000000000.0) * 1000000000.0, 0) AS BIGINT)"
)
_RS_LOGM = "CAST(round(ln(CAST(m AS DOUBLE)) * 1000000000.0, 0) AS BIGINT)"

_HURST_SLOPE = (
    "((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / nullif(CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0e0))"
)


def _hurst_blocks_sql(div: str) -> str:
    """Per-m block decomposition; ``div`` is the dialect's integer
    division operator (DIV vs //)."""
    parts = []
    for m in _HURST_BLOCKS:
        parts.append(f"""
      SELECT {m} AS m, (t - 1) {div} {m} AS blk, t, x,
             ((t - 1) % {m}) + 1 AS k
      FROM idx WHERE (t - 1) {div} {m} < n_full {div} {m}""")
    return " UNION ALL ".join(parts)


def _hurst_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1),
    nrow AS (SELECT CAST(count(*) AS BIGINT) AS n_full FROM daily),
    idx AS (
      SELECT row_number() OVER (ORDER BY day) AS t, x, n_full
      FROM daily CROSS JOIN nrow),
    blocks AS ({_hurst_blocks_sql("//")}),
    cums AS (
      SELECT m, blk, k, x,
             SUM(x) OVER (PARTITION BY m, blk ORDER BY k
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(x) OVER (PARTITION BY m, blk) AS s,
             SUM(x * x) OVER (PARTITION BY m, blk) AS ss
      FROM blocks),
    z AS (
      SELECT m, blk, s, ss, m * cum - k * s AS mz
      FROM cums),
    per_block AS (
      SELECT m, blk,
             CAST(max(mz) - min(mz) AS BIGINT) AS rm,
             CAST(max(m * ss - s * s) AS BIGINT) AS svar
      FROM z GROUP BY m, blk),
    per_m AS (
      SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum({_RS_Q}) AS BIGINT) AS rs_sum
      FROM per_block WHERE svar > 0 GROUP BY m),
    pts AS (
      SELECT m, n_blocks, rs_sum, {_RS_LOGM} AS qx, {_RS_LOG} AS qy
      FROM per_m),
    ols AS (
      SELECT CAST(count(*) AS BIGINT) AS np,
             SUM(CAST(qx AS DECIMAL(38,0))) AS sx,
             SUM(CAST(qy AS DECIMAL(38,0))) AS sy,
             SUM(CAST(qx AS DECIMAL(38,0)) * qy) AS sxy,
             SUM(CAST(qx AS DECIMAL(38,0)) * qx) AS sxx
      FROM pts)
    SELECT p.m, p.n_blocks,
           round(CAST(p.rs_sum AS DOUBLE) / CAST(p.n_blocks AS DOUBLE)
                 / 1000000000.0, 6) AS mean_rs,
           round({_HURST_SLOPE}, 6) AS hurst_h
    FROM pts p CROSS JOIN ols ORDER BY p.m
    """


@query("q_cy_hurst", oracle=_hurst_oracle())
def q_cy_hurst(spark, sf_dir):
    """HURST EXPONENT via RESCALED-RANGE (R/S) ANALYSIS (Hurst 1951;
    Mandelbrot & Wallis 1969) of daily revenue: split the day series
    into blocks of m in {8,16,32,64}, compute each block's rescaled
    range R/S, and read H off the slope of ln(mean R/S) vs ln(m) —
    H > 0.5 = long-memory persistence, H < 0.5 = mean reversion,
    complementing ACF (q_zi: fixed lags) and the runs test (q_cl:
    sign-level) with the scaling-law view. The core is exact: m*Z_k =
    m*cumsum - k*block_sum keeps cumulative deviations integer, so
    R/S = (max mZ - min mZ) / sqrt(m*ss - s^2) is one sqrt of exact
    integers; per-block values are nano-quantized before the
    cross-block mean (order-free, q_zv contract), and the 4-point
    log-log OLS runs on nano-quantized logs with DECIMAL moments
    (q_zu contract). Constant blocks (svar = 0) are excluded by the
    same predicate on both engines.

    Scale shape: one map-side-combinable daily rollup; blocks/windows
    all run at day grain partitioned by (m, block) — parallel,
    calendar-bounded (q_zi document-and-contain); the OLS is 4 rows.
    100 TB = one scan + a constant tail.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    nrow = daily.agg(F.count("*").cast("bigint").alias("n_full"))
    idx = daily.crossJoin(F.broadcast(nrow)).select(
        F.row_number().over(Window.orderBy("day")).alias("t"), "x", "n_full"
    )
    # One explode instead of a 4-way union: the union re-derived the
    # daily rollup (orders scan + window) once per block size; exploding
    # the period array fans the tiny day series out 4x in a single pass
    # (measured 11.3s -> union vs single-scan at sf0.1).
    blocks = (
        idx.select(
            F.explode(
                F.array(*[F.lit(m).cast("bigint") for m in _HURST_BLOCKS])
            ).alias("m"),
            "t",
            "x",
            "n_full",
        )
        .filter(F.expr("(t - 1) DIV m") < F.expr("n_full DIV m"))
        .select(
            "m",
            F.expr("(t - 1) DIV m").alias("blk"),
            F.expr("((t - 1) % m) + 1").alias("k"),
            "x",
        )
    )
    w_blk = (
        Window.partitionBy("m", "blk")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("m", "blk")
    cums = blocks.select(
        "m",
        "blk",
        "k",
        "x",
        F.sum("x").over(w_blk).alias("cum"),
        F.sum("x").over(w_all).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w_all).alias("ss"),
    )
    z = cums.select(
        "m",
        "blk",
        "s",
        "ss",
        (F.col("m") * F.col("cum") - F.col("k") * F.col("s")).alias("mz"),
    )
    per_block = z.groupBy("m", "blk").agg(
        (F.max("mz") - F.min("mz")).cast("bigint").alias("rm"),
        F.max(F.col("m") * F.col("ss") - F.col("s") * F.col("s"))
        .cast("bigint")
        .alias("svar"),
    )
    per_m = per_block.filter(F.col("svar") > 0).groupBy("m").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.expr(_RS_Q)).cast("bigint").alias("rs_sum"),
    )
    pts = per_m.selectExpr(
        "m", "n_blocks", "rs_sum", f"{_RS_LOGM} AS qx", f"{_RS_LOG} AS qy"
    )
    ols = pts.agg(
        F.count("*").cast("bigint").alias("np"),
        F.sum(F.col("qx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("qy").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qy")).alias("sxy"),
        F.sum(F.col("qx").cast("decimal(38,0)") * F.col("qx")).alias("sxx"),
    )
    return (
        pts.crossJoin(F.broadcast(ols))
        .selectExpr(
            "m",
            "n_blocks",
            "round(CAST(rs_sum AS DOUBLE) / CAST(n_blocks AS DOUBLE)"
            " / 1000000000.0, 6) AS mean_rs",
            f"round({_HURST_SLOPE}, 6) AS hurst_h",
        )
        .orderBy("m")
    )


# ---------------------------------------------------------------------------
# Distribution-shape audit: skewness, kurtosis, Bowley skew per event type
# ---------------------------------------------------------------------------

#: Shared-text central-moment closes on exact DECIMAL power sums
#: (centi-unit values). No pow(): m2^1.5 is m2*sqrt(m2) (sqrt is
#: IEEE-exact, libm-free); decimal->double conversions round the same
#: exact integers to the same doubles on both engines.
_SH_MU = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_SH_M2 = f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - {_SH_MU} * {_SH_MU})"
_SH_M3 = (
    f"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3e0 * {_SH_MU} * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" + 2e0 * {_SH_MU} * {_SH_MU} * {_SH_MU})"
)
_SH_M4 = (
    f"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4e0 * {_SH_MU} * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" + 6e0 * {_SH_MU} * {_SH_MU} * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3e0 * {_SH_MU} * {_SH_MU} * {_SH_MU} * {_SH_MU})"
)
_SH_SKEW = f"({_SH_M3} / nullif({_SH_M2} * sqrt({_SH_M2}), 0e0))"
_SH_KURT = f"({_SH_M4} / nullif({_SH_M2} * {_SH_M2}, 0e0) - 3e0)"
_SH_BOWLEY = (
    "((CAST(q3 AS DOUBLE) + CAST(q1 AS DOUBLE) - 2e0 * CAST(q2 AS DOUBLE))"
    " / nullif(CAST(q3 AS DOUBLE) - CAST(q1 AS DOUBLE), 0e0))"
)


# Skewness, excess kurtosis and Bowley quartile skew per event type from exact
# DECIMAL power sums and integer-rank quartiles.
sql_query(
    "q_d1_shape_audit",
    f"""
    WITH base AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
      FROM events),
    cells AS (
      SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT event_type, v, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM cells),
    quart AS (
      SELECT event_type,
             min(CASE WHEN c >= {_rank(1, 4)} THEN v END) AS q1,
             min(CASE WHEN c >= {_rank(1, 2)} THEN v END) AS q2,
             min(CASE WHEN c >= {_rank(3, 4)} THEN v END) AS q3
      FROM cum GROUP BY event_type),
    mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(v AS DECIMAL(38,0))) AS s1,
             SUM(CAST(v AS DECIMAL(38,0)) * v) AS s2,
             SUM(CAST(v AS DECIMAL(38,0)) * v * v) AS s3,
             SUM(CAST(v AS DECIMAL(38,0)) * v * v * v) AS s4
      FROM base GROUP BY event_type)
    SELECT m.event_type, m.n,
           round({_SH_MU} / 100e0, 6) AS mean,
           round(sqrt({_SH_M2}) / 100e0, 6) AS sd,
           round({_SH_SKEW}, 6) AS skewness,
           round({_SH_KURT}, 6) AS ex_kurtosis,
           round({_SH_BOWLEY}, 6) AS bowley_skew
    FROM mom m JOIN quart q ON q.event_type = m.event_type
    ORDER BY m.event_type
    """,
)


# ---------------------------------------------------------------------------
# t-digest quantile sketch (rows-only; the mergeable quantile summary)
# ---------------------------------------------------------------------------


@query("q_d2_tdigest")
def q_d2_tdigest(spark, sf_dir):
    """T-DIGEST QUANTILE SKETCH over event values (Dunning & Ertl 2019)
    — the mergeable quantile summary that completes the sketch family
    (KMV/HLL distinct, CMS frequency, Bloom membership, Space-Saving
    top-k, q_yo's mergeable bins): rank error is tightest exactly at
    the tails where fixed bins are weakest. Two-level distributed
    build: per-partition Arrow-batched clustering (mapInPandas, ~delta
    centroids per partition), then one bounded sketch-sized merge (the
    quantizer-fit single-reducer contract). Emits p50/p95/p99 estimates
    plus digest size; accuracy/merge/determinism contracts live in
    tests/test_tdigest.py. Rows-only by design: the sketch's exact
    centroid layout is an engine artifact DuckDB has no twin for — the
    EXACT quantiles it approximates are oracle-checked at q_b8.

    Scale shape: one scan, one sketch-width shuffle (partitions x
    delta rows), one bounded reducer. 100 TB = same plan; the merge
    input grows only with partition COUNT.
    """
    from ..operators.tdigest import (
        tdigest_build,
        tdigest_merge,
        tdigest_quantiles,
    )

    ev = read_table(spark, sf_dir, "events").select("value")
    digest = tdigest_merge(tdigest_build(ev, "value"))
    # Sketch-sized (<= ~2*delta rows) driver materialization — the
    # sanctioned bounded collect, not a data collect.
    pdf = digest.toPandas()
    p50, p95, p99 = tdigest_quantiles(pdf, [0.5, 0.95, 0.99])
    row = [
        (
            int(round(float(pdf["weight"].sum()))),
            int(len(pdf)),
            round(p50, 6),
            round(p95, 6),
            round(p99, 6),
        )
    ]
    return local_frame(
        spark,
        row,
        "n_values bigint, n_centroids bigint, p50 double, p95 double, p99 double",
    )


# ---------------------------------------------------------------------------
# Shifted-beta-geometric (sBG) churn model fit by exact-integer grid MLE
# ---------------------------------------------------------------------------

#: Renewal horizon: orders span 1995..2001-08, so 1995 first-timers get
#: five full renewal opportunities (1996..2000).
_SBG_T = 5

#: Year -> bit literal map (bounded calendar, shared text, no dialect
#: shift operator needed).
_SBG_BIT = (
    "(CASE year(o_orderdate) WHEN 1995 THEN 1 WHEN 1996 THEN 2"
    " WHEN 1997 THEN 4 WHEN 1998 THEN 8 WHEN 1999 THEN 16"
    " WHEN 2000 THEN 32 ELSE 0 END)"
)

#: First missed renewal (1 + trailing-active run length) from the
#: activity bitmask; NULL = survived all five periods. `&` is bitwise
#: AND in BOTH dialects.
_SBG_CHURN_T = (
    "(CASE WHEN mask & 2 = 0 THEN 1 WHEN mask & 4 = 0 THEN 2"
    " WHEN mask & 8 = 0 THEN 3 WHEN mask & 16 = 0 THEN 4"
    " WHEN mask & 32 = 0 THEN 5 ELSE NULL END)"
)


#: Log-spaced 20-point grids emitted as codegen-time double LITERALS
#: (the q_cw trig-table trick — no engine pow()/exp2 is consulted):
#: alpha in 2^(-1.5..8), beta in 2^(-1..10.5). The wide log range keeps
#: the argmax interior even in the near-geometric (homogeneous-churn)
#: regime where alpha, beta grow together with alpha/(alpha+beta)
#: pinned at the flat hazard.
def _sbg_grid(idx: str, lo: float, step: float) -> str:
    # CAST AS DOUBLE: DuckDB parses bare decimal literals as DECIMAL,
    # which would survive round() and canonicalize differently.
    arms = " ".join(
        f"WHEN {i} THEN CAST({2.0 ** (lo + step * (i - 1))!r} AS DOUBLE)"
        for i in range(1, 21)
    )
    return f"(CASE {idx} {arms} END)"


_SBG_A = _sbg_grid("ai", -1.5, 0.5)
_SBG_B = _sbg_grid("bi", -1.0, 0.6)

#: Per-period increment of ln P(t) in integer MICRO-NATS (the q_cm
#: Viterbi contract: every libm value is rounded ONCE to an integer so
#: recursion, sums and the final argmax are exact integer arithmetic).
#: P(1) = a/(a+b); P(t)/P(t-1) = (b+t-2)/(a+b+t-1).
_SBG_INC = (
    f"(CASE WHEN t = 1 THEN CAST(round((ln({_SBG_A})"
    f" - ln({_SBG_A} + {_SBG_B})) * 1000000e0, 0) AS BIGINT)"
    f" ELSE CAST(round((ln({_SBG_B} + CAST(t AS DOUBLE) - 2e0)"
    f" - ln({_SBG_A} + {_SBG_B} + CAST(t AS DOUBLE) - 1e0))"
    " * 1000000e0, 0) AS BIGINT) END)"
)

#: P(t) in pico-units from the integer micro-nat log-prob.
_SBG_PQ = (
    "CAST(round(exp(CAST(lnp AS DOUBLE) / 1000000e0) * 1000000000000e0, 0)"
    " AS BIGINT)"
)

#: ln of the survivor mass (pico-units back to nats), micro-quantized.
_SBG_LNS = (
    "CAST(round(ln(CAST(s_q AS DOUBLE) / 1000000000000e0) * 1000000e0, 0)"
    " AS BIGINT)"
)


def _sbg_oracle() -> str:
    return f"""
    WITH mask_t AS (
      SELECT o_custkey, CAST(bit_or({_SBG_BIT}) AS BIGINT) AS mask
      FROM orders WHERE year(o_orderdate) <= 2000
      GROUP BY o_custkey),
    cohort AS (
      SELECT {_SBG_CHURN_T} AS churn_t
      FROM mask_t WHERE mask & 1 = 1),
    counts AS (
      SELECT churn_t, CAST(count(*) AS BIGINT) AS n_t
      FROM cohort WHERE churn_t IS NOT NULL GROUP BY churn_t),
    sizes AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cohort,
             CAST(sum(CASE WHEN churn_t IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_surv
      FROM cohort),
    grid AS (
      SELECT a.ai, b.bi
      FROM (SELECT unnest(range(1, 21)) AS ai) a
      CROSS JOIN (SELECT unnest(range(1, 21)) AS bi) b),
    cells AS (
      SELECT g.ai, g.bi, t.t, {_SBG_INC} AS inc
      FROM grid g CROSS JOIN (SELECT unnest(range(1, {_SBG_T + 1})) AS t) t),
    lnp AS (
      SELECT ai, bi, t,
             SUM(inc) OVER (PARTITION BY ai, bi ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS lnp
      FROM cells),
    probs AS (
      SELECT ai, bi, t, lnp, {_SBG_PQ} AS p_q FROM lnp),
    per_cell AS (
      SELECT p.ai, p.bi,
             CAST(sum(coalesce(c.n_t, 0) * p.lnp) AS BIGINT) AS ll_churn,
             CAST(1000000000000 - sum(p.p_q) AS BIGINT) AS s_q
      FROM probs p LEFT JOIN counts c ON c.churn_t = p.t
      GROUP BY p.ai, p.bi),
    scored AS (
      SELECT pc.ai, pc.bi, sz.n_cohort, sz.n_surv,
             pc.ll_churn + sz.n_surv * {_SBG_LNS} AS ll_micro,
             pc.s_q
      FROM per_cell pc CROSS JOIN sizes sz
      WHERE pc.s_q > 0),
    best AS (
      SELECT * FROM scored
      ORDER BY ll_micro DESC, ai ASC, bi ASC LIMIT 1)
    SELECT n_cohort, n_surv,
           round({_SBG_A}, 6) AS alpha,
           round({_SBG_B}, 6) AS beta,
           CAST(ll_micro AS BIGINT) AS ll_micro_nats,
           round(CAST(s_q AS DOUBLE) / 1000000000000e0, 6) AS s5_pred,
           round(CAST(n_surv AS DOUBLE) / CAST(n_cohort AS DOUBLE), 6)
             AS s5_obs
    FROM best
    """


@query("q_d3_sbg_churn", oracle=_sbg_oracle())
def q_d3_sbg_churn(spark, sf_dir):
    """SHIFTED-BETA-GEOMETRIC CHURN MODEL (Fader & Hardie, "How to
    project customer retention", J. Interactive Marketing 2007 — the
    standard contractual-churn model) fit by maximum likelihood over a
    20x20 (alpha, beta) grid: the 1995 first-order cohort's yearly
    activity collapses to a 6-bit mask per customer (bit_or of literal
    year bits — shared text, no dialect shift operator), churn period =
    first missed year, and the sBG likelihood P(1) = a/(a+b),
    P(t)/P(t-1) = (b+t-2)/(a+b+t-1) evaluates in integer MICRO-NATS
    (every libm ln/exp rounded once — the q_cm Viterbi contract), so
    the per-cell log-likelihood is an exact BIGINT and the grid argmax
    + (alpha, beta) tie-break are exact integer comparisons on both
    engines. Ships the fitted (alpha, beta), the predicted vs observed
    5-year survivor share, and the exact integer log-likelihood.

    Scale shape: the corpus-sized work is ONE per-customer bit_or
    aggregate (combinable, 1 bigint per customer); the grid evaluation
    is a constant 20x20x5 frame with per-cell ordered windows. 100 TB
    = one scan + a constant tail. The grid refines by re-running with
    a tighter range around the argmax — same plan.
    """
    o = read_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") <= 2000
    )
    mask_t = o.groupBy("o_custkey").agg(
        F.expr(f"bit_or({_SBG_BIT})").cast("bigint").alias("mask")
    )
    cohort = mask_t.filter(F.expr("mask & 1 = 1")).select(
        F.expr(_SBG_CHURN_T).alias("churn_t")
    )
    counts = (
        cohort.filter(F.col("churn_t").isNotNull())
        .groupBy("churn_t")
        .agg(F.count("*").cast("bigint").alias("n_t"))
    )
    sizes = cohort.agg(
        F.count("*").cast("bigint").alias("n_cohort"),
        F.sum(F.when(F.col("churn_t").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_surv"),
    )
    grid = (
        spark.range(1, 21)
        .select(F.col("id").alias("ai"))
        .crossJoin(spark.range(1, 21).select(F.col("id").alias("bi")))
    )
    cells = grid.crossJoin(
        spark.range(1, _SBG_T + 1).select(F.col("id").alias("t"))
    ).select("ai", "bi", "t", F.expr(_SBG_INC).alias("inc"))
    w_cell = (
        Window.partitionBy("ai", "bi")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lnp = cells.select(
        "ai", "bi", "t", F.sum("inc").over(w_cell).alias("lnp")
    )
    probs = lnp.select("ai", "bi", "t", "lnp", F.expr(_SBG_PQ).alias("p_q"))
    per_cell = (
        probs.join(
            F.broadcast(counts),
            probs["t"] == counts["churn_t"],
            "left",
        )
        .groupBy("ai", "bi")
        .agg(
            F.sum(F.coalesce(F.col("n_t"), F.lit(0)) * F.col("lnp"))
            .cast("bigint")
            .alias("ll_churn"),
            (F.lit(1000000000000) - F.sum("p_q"))
            .cast("bigint")
            .alias("s_q"),
        )
    )
    scored = (
        per_cell.crossJoin(F.broadcast(sizes))
        .filter(F.col("s_q") > 0)
        .select(
            "ai",
            "bi",
            "n_cohort",
            "n_surv",
            (
                F.col("ll_churn") + F.col("n_surv") * F.expr(_SBG_LNS)
            ).alias("ll_micro"),
            "s_q",
        )
    )
    best = scored.orderBy(
        F.desc("ll_micro"), F.asc("ai"), F.asc("bi")
    ).limit(1)
    return best.selectExpr(
        "n_cohort",
        "n_surv",
        f"round({_SBG_A}, 6) AS alpha",
        f"round({_SBG_B}, 6) AS beta",
        "CAST(ll_micro AS BIGINT) AS ll_micro_nats",
        "round(CAST(s_q AS DOUBLE) / 1000000000000e0, 6) AS s5_pred",
        "round(CAST(n_surv AS DOUBLE) / CAST(n_cohort AS DOUBLE), 6)"
        " AS s5_obs",
    )


# ---------------------------------------------------------------------------
# Bradley-Terry strength ranking of nations (unrolled MM iterations)
# ---------------------------------------------------------------------------

_BT_ITERS = 5

#: Per-opponent denominator term n_ij / (p_i + p_j), nano-quantized so
#: the per-player sum is order-free (q_zv contract). p values are
#: identical doubles on both engines by induction: each iteration's p
#: is W_i * 1e9 / (an exact BIGINT), one shared-text division.
_BT_TERM = (
    "CAST(round(CAST(nij AS DOUBLE) / nullif(pi + pj, 0e0)"
    " * 1000000000e0, 0) AS BIGINT)"
)
_BT_UPDATE = "(CAST(wi AS DOUBLE) * 1000000000e0 / CAST(den AS DOUBLE))"


def _bt_oracle() -> str:
    its = []
    for k in range(1, _BT_ITERS + 1):
        prev = f"it{k - 1}"
        its.append(f"""
    it{k} AS MATERIALIZED (
      SELECT e.i,
             {_BT_UPDATE.replace("wi", "w.wi").replace(
                 "den", f"d{k}.den")} AS p
      FROM (SELECT DISTINCT i FROM e) e
      JOIN w ON w.i = e.i
      JOIN (
        SELECT e.i, CAST(SUM({_BT_TERM.replace("pi", "pa.p").replace(
            "pj", "pb.p")}) AS BIGINT) AS den
        FROM e JOIN {prev} pa ON pa.i = e.i
               JOIN {prev} pb ON pb.i = e.j
        GROUP BY e.i) d{k} ON d{k}.i = e.i)""")
    return f"""
    WITH dir AS MATERIALIZED (
      SELECT sp.s_nationkey AS i, cu.c_nationkey AS j,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      WHERE sp.s_nationkey <> cu.c_nationkey
      GROUP BY 1, 2),
    sym AS (
      SELECT i, j, c AS w, c AS n FROM dir
      UNION ALL
      SELECT j AS i, i AS j, 0 AS w, c AS n FROM dir),
    e0 AS MATERIALIZED (
      SELECT i, j, CAST(sum(w) AS BIGINT) AS wij,
             CAST(sum(n) AS BIGINT) AS nij
      FROM sym GROUP BY i, j),
    w AS (SELECT i, CAST(sum(wij) AS BIGINT) AS wi_raw,
                 CAST(sum(2 * wij + 1) AS BIGINT) AS wi
          FROM e0 GROUP BY i),
    e AS MATERIALIZED (
      SELECT i, j, CAST(2 * wij + 1 AS BIGINT) AS wij,
             CAST(2 * nij + 2 AS BIGINT) AS nij
      FROM e0),
    it0 AS (SELECT DISTINCT i, CAST(1.0 AS DOUBLE) AS p FROM e),
    {",".join(its)},
    base AS (SELECT p AS p0 FROM it{_BT_ITERS} ORDER BY i LIMIT 1)
    SELECT n.n_name AS nation, w.wi_raw AS wins,
           round(f.p / b.p0, 6) AS strength_vs_first
    FROM it{_BT_ITERS} f
    JOIN w ON w.i = f.i
    JOIN nation n ON n.n_nationkey = f.i
    CROSS JOIN base b
    ORDER BY strength_vs_first DESC, nation
    """


@query("q_d4_bradley_terry", oracle=_bt_oracle())
def q_d4_bradley_terry(spark, sf_dir):
    """BRADLEY-TERRY PAIRED-COMPARISON RANKING (Bradley & Terry 1952;
    Hunter's MM algorithm, Ann. Stat. 2004) of nations from directed
    trade flows: "i beats j" once per lineitem a nation-i supplier
    ships to a nation-j customer, then 5 unrolled MM iterations
    p_i <- W_i / sum_j n_ij/(p_i+p_j) recover latent strengths — the
    principled ranking when pairwise volumes are unbalanced (raw win
    counts over-reward nations that simply trade more). Exactness by
    induction: denominators are nano-quantized BIGINT sums (q_zv
    contract), each p is one shared-text division of exact inputs, so
    both engines carry identical doubles through all iterations and
    the final DESC ordering agrees bit-for-bit.

    Scale shape: the corpus-sized stage is the q_b4 modularity join
    pipeline collapsing the fact table to a <= 25x24 directed-pair
    frame; the MM iterations live entirely on that constant frame.
    100 TB = one fact join-aggregate + a constant tail.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cu = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    na = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    dir_ = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(sp), li["l_suppkey"] == sp["s_suppkey"])
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("i"),
            F.col("c_nationkey").alias("j"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    sym = dir_.select(
        "i", "j", F.col("c").alias("w"), F.col("c").alias("n")
    ).unionByName(
        dir_.select(
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            F.lit(0).cast("bigint").alias("w"),
            F.col("c").alias("n"),
        )
    )
    e = sym.groupBy("i", "j").agg(
        F.sum("w").cast("bigint").alias("wij"),
        F.sum("n").cast("bigint").alias("nij"),
    )
    # MLE regularity (Davidson-style add-half smoothing): wij' = 2wij+1,
    # nij' = 2nij+2 gives every player a fractional win per observed
    # pair, so no strength degenerates to 0 (at sf0.001 zero-win
    # nations made the update divide 0/0); the x2 scale cancels in the
    # MM ratio. Reported wins stay RAW.
    w = e.groupBy("i").agg(
        F.sum("wij").cast("bigint").alias("wi_raw"),
        F.sum(2 * F.col("wij") + 1).cast("bigint").alias("wi"),
    ).localCheckpoint(eager=True)
    e = e.select(
        "i",
        "j",
        (2 * F.col("wij") + 1).cast("bigint").alias("wij"),
        (2 * F.col("nij") + 2).cast("bigint").alias("nij"),
    )
    # Each MM round joins `e` twice against the previous p: pin the
    # constant pair frame once; ``iterate`` flattens p's lineage per round.
    e = e.localCheckpoint(eager=True)

    def mm_round(p, _):
        den = (
            e.join(p.withColumnRenamed("p", "pi"), "i")
            .join(
                p.select(F.col("i").alias("j"), F.col("p").alias("pj")),
                "j",
            )
            .groupBy("i")
            .agg(F.sum(F.expr(_BT_TERM)).cast("bigint").alias("den"))
        )
        return den.join(w, "i").select("i", F.expr(_BT_UPDATE).alias("p"))

    p = iterate(
        e.select("i").distinct().select("i", F.lit(1.0).alias("p")),
        mm_round,
        _BT_ITERS,
    )
    base = p.orderBy("i").limit(1).select(F.col("p").alias("p0"))
    return (
        p.join(w, "i")
        .join(F.broadcast(na), F.col("n_nationkey") == F.col("i"))
        .crossJoin(F.broadcast(base))
        .select(
            F.col("n_name").alias("nation"),
            F.col("wi_raw").alias("wins"),
            F.round(F.col("p") / F.col("p0"), 6).alias("strength_vs_first"),
        )
        .orderBy(F.desc("strength_vs_first"), "nation")
    )


# ---------------------------------------------------------------------------
# Friedman test (blocked rank ANOVA: day-of-week blocks x priority arms)
# ---------------------------------------------------------------------------

#: Friedman statistic from DOUBLED within-block rank sums (R2_j = 2*R_j
#: exact integers; b blocks, k treatments):
#: Fr = 12/(b k (k+1)) * sum_j R_j^2 - 3 b (k+1), tie-corrected by
#: C = 1 - sum(t^3 - t) / (b k (k^2 - 1)).
_FR_TERM = (
    "(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)"
    " / (4e0 * CAST(b AS DOUBLE) * CAST(k AS DOUBLE)"
    " * (CAST(k AS DOUBLE) + 1e0)))"
)
_FR_STAT = "(12e0 * s - 3e0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1e0))"
_FR_C = (
    "(1e0 - CAST(tie_sum AS DOUBLE) / nullif(CAST(b AS DOUBLE)"
    " * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1e0),"
    " 0e0))"
)


@query(
    "q_d5_friedman",
    oracle=f"""
    WITH obs AS (
      SELECT dayofweek(o_orderdate) AS blk, o_orderpriority AS arm,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1, 2),
    ranked AS (
      SELECT blk, arm, y,
             CAST(2 * rank() OVER (PARTITION BY blk ORDER BY y)
                  + count(*) FILTER (WHERE TRUE)
                    OVER (PARTITION BY blk, y) - 1 AS BIGINT) AS r2
      FROM obs),
    dims AS (
      SELECT CAST(count(DISTINCT blk) AS BIGINT) AS b,
             CAST(count(DISTINCT arm) AS BIGINT) AS k
      FROM obs),
    ties AS (
      SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tie_sum
      FROM (SELECT blk, y, count(*) AS t FROM obs GROUP BY blk, y)),
    arm_sum AS (
      SELECT arm, CAST(sum(r2) AS BIGINT) AS r2
      FROM ranked GROUP BY arm),
    acc AS (
      SELECT a.arm, a.r2, d.b, d.k, t.tie_sum,
             SUM({_FR_TERM}) OVER (ORDER BY a.arm
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS s
      FROM arm_sum a CROSS JOIN dims d CROSS JOIN ties t)
    SELECT arm, r2 AS rank_sum_x2, b AS n_blocks,
           round({_FR_STAT}, 6) AS friedman_stat,
           round({_FR_STAT} / nullif({_FR_C}, 0e0), 6) AS tie_corrected,
           CAST(k - 1 AS BIGINT) AS df
    FROM acc ORDER BY arm
    """,
)
def q_d5_friedman(spark, sf_dir):
    """FRIEDMAN TEST (Friedman, JASA 1937 — the blocked rank ANOVA):
    do the five priority arms differ in daily revenue AFTER removing
    the day-of-week effect? Blocks = the 7 weekdays, observations =
    exact cents revenue per (weekday, arm) cell, ranks computed WITHIN
    each block (5-row windows — never a corpus sort) in doubled units
    (2*rank + ties - 1, exact integers; the q_cn contract), closing
    with the shared-text statistic and tie-correction accumulated in
    fixed arm order. The blocked companion of q_cn Kruskal-Wallis —
    when the block effect (weekday seasonality, q_yx) dominates,
    unblocked tests lose power; Friedman removes it by construction.

    Scale shape: one map-side-combinable (weekday, arm) rollup;
    everything after runs on a 35-cell frame. 100 TB = one scan + a
    constant tail.
    """
    o = read_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.dayofweek("o_orderdate").alias("blk"),
        F.col("o_orderpriority").alias("arm"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w_rank = Window.partitionBy("blk").orderBy("y")
    w_tie = Window.partitionBy("blk", "y")
    ranked = obs.select(
        "blk",
        "arm",
        "y",
        (
            2 * F.rank().over(w_rank) + F.count("*").over(w_tie) - 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    dims = obs.agg(
        F.countDistinct("blk").cast("bigint").alias("b"),
        F.countDistinct("arm").cast("bigint").alias("k"),
    )
    ties = (
        obs.groupBy("blk", "y")
        .agg(F.count("*").alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_sum")
        )
    )
    arm_sum = ranked.groupBy("arm").agg(
        F.sum("r2").cast("bigint").alias("r2")
    )
    w_all = Window.orderBy("arm").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    acc = (
        arm_sum.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(ties))
        .select(
            "arm",
            "r2",
            "b",
            "k",
            "tie_sum",
            F.sum(F.expr(_FR_TERM)).over(w_all).alias("s"),
        )
    )
    return acc.selectExpr(
        "arm",
        "r2 AS rank_sum_x2",
        "b AS n_blocks",
        f"round({_FR_STAT}, 6) AS friedman_stat",
        f"round({_FR_STAT} / nullif({_FR_C}, 0e0), 6) AS tie_corrected",
        "CAST(k - 1 AS BIGINT) AS df",
    ).orderBy("arm")


# ---------------------------------------------------------------------------
# McNemar's paired test: customer activity flip before/after the midpoint
# ---------------------------------------------------------------------------

_MC_SPLIT = "1998-01-01"

#: Continuity-corrected McNemar chi-square on the exact discordant
#: counts; degenerate (no discordant pairs) -> NULL via nullif.
_MC_CHI2 = (
    "((abs(CAST(b01 AS DOUBLE) - CAST(b10 AS DOUBLE)) - 1e0)"
    " * (abs(CAST(b01 AS DOUBLE) - CAST(b10 AS DOUBLE)) - 1e0)"
    " / nullif(CAST(b01 AS DOUBLE) + CAST(b10 AS DOUBLE), 0e0))"
)


# McNemar's paired test on customer activity before/after 1998-01-01;
# customers with no orders land in b00 through the LEFT join.
sql_query(
    "q_d6_mcnemar",
    f"""
    WITH act AS (
      SELECT c.c_custkey,
             CAST(max(CASE WHEN o.o_orderdate < TIMESTAMP '{_MC_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS before_f,
             CAST(max(CASE WHEN o.o_orderdate >= TIMESTAMP '{_MC_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS after_f
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey),
    cells AS (
      SELECT CAST(sum(CASE WHEN before_f = 0 AND after_f = 0 THEN 1 ELSE 0
                      END) AS BIGINT) AS b00,
             CAST(sum(CASE WHEN before_f = 0 AND after_f = 1 THEN 1 ELSE 0
                      END) AS BIGINT) AS b01,
             CAST(sum(CASE WHEN before_f = 1 AND after_f = 0 THEN 1 ELSE 0
                      END) AS BIGINT) AS b10,
             CAST(sum(CASE WHEN before_f = 1 AND after_f = 1 THEN 1 ELSE 0
                      END) AS BIGINT) AS b11
      FROM act)
    SELECT b00, b01, b10, b11,
           round({_MC_CHI2}, 6) AS chi2_cc,
           CAST(1 AS BIGINT) AS df
    FROM cells
    """,
)


# ---------------------------------------------------------------------------
# Two-way fixed-effects (within) panel regression: revenue ~ order count
# ---------------------------------------------------------------------------

#: Within-transformed cell values (x~ = x - Xbar_i - Xbar_t + Xbar):
#: exact integer group sums divided in ONE shared-text expression, so
#: both engines carry identical demeaned doubles per cell.
def _fe_dm(v: str) -> str:
    return (
        f"(CAST({v} AS DOUBLE)"
        f" - CAST({v}_i AS DOUBLE) / CAST(n_i AS DOUBLE)"
        f" - CAST({v}_t AS DOUBLE) / CAST(n_t AS DOUBLE)"
        f" + CAST({v}_g AS DOUBLE) / CAST(n_g AS DOUBLE))"
    )


#: Per-cell product terms, micro-quantized so the panel sums are
#: order-free (q_zv contract).
_FE_XY = (
    f"CAST(round({_fe_dm('x')} * {_fe_dm('y')} * 1000000e0, 0) AS BIGINT)"
)
_FE_XX = (
    f"CAST(round({_fe_dm('x')} * {_fe_dm('x')} * 1000000e0, 0) AS BIGINT)"
)
_FE_YY = (
    f"CAST(round({_fe_dm('y')} * {_fe_dm('y')} * 1000000e0, 0) AS BIGINT)"
)

_FE_BETA = "(CAST(sxy AS DOUBLE) / nullif(CAST(sxx AS DOUBLE), 0e0))"
_FE_R2 = (
    "(CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " / nullif(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE), 0e0))"
)


@query(
    "q_da_panel_fe",
    oracle=f"""
    WITH cell AS (
      SELECT s.s_nationkey AS i, year(o.o_orderdate) AS t,
             CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS x,
             CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) // 100000 AS y
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2),
    gi AS (
      SELECT i, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(x) AS BIGINT) AS x_i, CAST(sum(y) AS BIGINT) AS y_i
      FROM cell GROUP BY i),
    gt AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_t,
             CAST(sum(x) AS BIGINT) AS x_t, CAST(sum(y) AS BIGINT) AS y_t
      FROM cell GROUP BY t),
    gg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS BIGINT) AS x_g, CAST(sum(y) AS BIGINT) AS y_g
      FROM cell),
    dm AS (
      SELECT c.i, c.t, {_FE_XY} AS pxy, {_FE_XX} AS pxx, {_FE_YY} AS pyy
      FROM cell c
      JOIN gi ON gi.i = c.i JOIN gt ON gt.t = c.t CROSS JOIN gg),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(pxy) AS BIGINT) AS sxy,
             CAST(sum(pxx) AS BIGINT) AS sxx,
             CAST(sum(pyy) AS BIGINT) AS syy
      FROM dm)
    SELECT n_cells,
           round({_FE_BETA}, 6) AS beta_within,
           round({_FE_R2}, 6) AS r2_within
    FROM mom
    """,
)
def q_da_panel_fe(spark, sf_dir):
    """TWO-WAY FIXED-EFFECTS PANEL REGRESSION (the within estimator;
    Wooldridge, Econometric Analysis of Cross Section and Panel Data)
    of supplier-nation yearly revenue (units of $1k) on order count
    over the (nation x year) panel: nation effects absorb level
    differences, year effects absorb global cycles, and the remaining
    within-variation identifies the marginal revenue per order — the
    econometrician's answer where pooled OLS (q_z9) would conflate
    "big nations sell more" with "more orders earn more". The
    demeaning x~ = x - Xbar_i - Xbar_t + Xbar uses exact integer group
    sums in one shared-text expression per cell; per-cell products are
    micro-quantized and BIGINT-summed (q_zv contract), so beta and
    r-squared close on exact integers.

    Scale shape: the corpus-sized stage is one fact join-aggregate to
    the <= 25 x years panel; margins and the close run on that
    constant frame. 100 TB = one scan + a constant tail.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    s = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cell = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("i"),
            F.year("o_orderdate").alias("t"),
        )
        .agg(
            F.countDistinct("o_orderkey").cast("bigint").alias("x"),
            F.expr(
                "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))"
                " AS BIGINT) DIV 100000"
            ).alias("y"),
        )
        # Pin the <=25 x years panel: the margins (gi/gt/gg) and the
        # demeaning join would otherwise re-run the fact join-aggregate
        # 4x (measured 10s -> scan-once at sf0.1).
        .localCheckpoint(eager=True)
    )
    gi = cell.groupBy("i").agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.sum("x").cast("bigint").alias("x_i"),
        F.sum("y").cast("bigint").alias("y_i"),
    )
    gt = cell.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_t"),
        F.sum("x").cast("bigint").alias("x_t"),
        F.sum("y").cast("bigint").alias("y_t"),
    )
    gg = cell.agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").cast("bigint").alias("x_g"),
        F.sum("y").cast("bigint").alias("y_g"),
    )
    dm = (
        cell.join(F.broadcast(gi), "i")
        .join(F.broadcast(gt), "t")
        .crossJoin(F.broadcast(gg))
        .select(
            F.expr(_FE_XY).alias("pxy"),
            F.expr(_FE_XX).alias("pxx"),
            F.expr(_FE_YY).alias("pyy"),
        )
    )
    mom = dm.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("pxy").cast("bigint").alias("sxy"),
        F.sum("pxx").cast("bigint").alias("sxx"),
        F.sum("pyy").cast("bigint").alias("syy"),
    )
    return mom.selectExpr(
        "n_cells",
        f"round({_FE_BETA}, 6) AS beta_within",
        f"round({_FE_R2}, 6) AS r2_within",
    )


# ---------------------------------------------------------------------------
# Cochran's Q: did yearly activity rates change across 1996..2000?
# ---------------------------------------------------------------------------

#: Fully-integer Cochran's Q: numerator (k-1)(k*sum(C_j^2) - T^2),
#: denominator k*T - sum(R_i^2); degenerate (all rows constant) -> NULL.
_CQ_STAT = (
    "(CAST((k - 1) * (k * sc2 - t_tot * t_tot) AS DOUBLE)"
    " / nullif(CAST(k * t_tot - sr2 AS DOUBLE), 0e0))"
)

#: Active-year bits 1..5 of the q_d3 mask (1996..2000).
_CQ_YEAR_BITS = (2, 4, 8, 16, 32)


# Cochran's Q across the years 1996..2000, on bit_or activity masks per
# customer; exact integer arithmetic up to the final division.
sql_query(
    "q_db_cochran_q",
    f"""
    WITH mask_t AS (
      SELECT o_custkey, CAST(bit_or({_SBG_BIT}) AS BIGINT) AS mask
      FROM orders WHERE year(o_orderdate) <= 2000
      GROUP BY o_custkey),
    rows_ AS (
      SELECT mask & 62 AS amask,
             CAST(bit_count(CAST(mask & 62 AS BIGINT)) AS BIGINT) AS r
      FROM mask_t),
    per_year AS (
      SELECT {" + ".join(f"CAST(sum(CASE WHEN amask & {b} > 0 THEN 1 ELSE 0 END) * sum(CASE WHEN amask & {b} > 0 THEN 1 ELSE 0 END) AS BIGINT)" for b in _CQ_YEAR_BITS)}
               AS sc2,
             CAST(sum(r) AS BIGINT) AS t_tot,
             CAST(sum(r * r) AS BIGINT) AS sr2,
             CAST(count(*) AS BIGINT) AS b,
             CAST(5 AS BIGINT) AS k
      FROM rows_)
    SELECT b AS n_customers, k AS n_periods, t_tot,
           round({_CQ_STAT}, 6) AS q_stat,
           CAST(k - 1 AS BIGINT) AS df
    FROM per_year
    """,
)


# ---------------------------------------------------------------------------
# Simplified silhouette of the labeled embedding clusters
# ---------------------------------------------------------------------------

#: Per-dimension squared-distance term in exact integer micro-units:
#: embeddings quantize ONCE (round(val*1e6)), centroids are exact
#: rational sums over those integers, and the per-dim term closes in
#: shared text then nano-quantizes so the dim sum is order-free — no
#: float-typed avg() ever feeds a comparison (the q_ah lesson).
_SIL_TERM = (
    "CAST(round((CAST(vq AS DOUBLE) - CAST(sq AS DOUBLE)"
    " / CAST(nc AS DOUBLE)) * (CAST(vq AS DOUBLE) - CAST(sq AS DOUBLE)"
    " / CAST(nc AS DOUBLE)) / 1000e0, 0) AS BIGINT)"
)

#: Per-point silhouette s = (b - a) / max(a, b), nano-quantized for the
#: order-free per-label mean; degenerate (a = b = 0) -> 0.
_SIL_S = (
    "(CASE WHEN greatest(da, db) > 0 THEN CAST(round((sqrt(CAST(db"
    " AS DOUBLE)) - sqrt(CAST(da AS DOUBLE))) / greatest(sqrt(CAST(da"
    " AS DOUBLE)), sqrt(CAST(db AS DOUBLE))) * 1000000000e0, 0) AS BIGINT)"
    " ELSE 0 END)"
)


@query(
    "q_dd_silhouette",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000e0)
                  AS BIGINT) AS vq
      FROM embeddings),
    cent AS (
      SELECT label AS clabel, dim, CAST(sum(vq) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS nc
      FROM e GROUP BY label, dim),
    terms AS (
      SELECT e.vec_id, e.label, c.clabel, {_SIL_TERM} AS t
      FROM e JOIN cent c ON c.dim = e.dim),
    dists AS (
      SELECT vec_id, label, clabel, CAST(sum(t) AS BIGINT) AS d2
      FROM terms GROUP BY vec_id, label, clabel),
    ab AS (
      SELECT vec_id, label,
             CAST(min(CASE WHEN clabel = label THEN d2 END) AS BIGINT)
               AS da,
             CAST(min(CASE WHEN clabel <> label THEN d2 END) AS BIGINT)
               AS db
      FROM dists GROUP BY vec_id, label),
    scored AS (
      SELECT label, {_SIL_S} AS s_q FROM ab)
    SELECT label, CAST(count(*) AS BIGINT) AS n_points,
           round(CAST(sum(s_q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000000e0, 6) AS silhouette
    FROM scored GROUP BY label ORDER BY label
    """,
)
def q_dd_silhouette(spark, sf_dir):
    """SIMPLIFIED SILHOUETTE (Hruschka et al. 2004 — the centroid-based
    O(N·k) variant of Rousseeuw's silhouette; what sklearn calls the
    "medoid-free" cluster-quality score) of the labeled embedding
    clusters: per point, a = distance to OWN centroid, b = distance to
    the NEAREST OTHER centroid, s = (b-a)/max(a,b) — the quality audit
    that scores the assignment q_xy's centroid-cosine audit only
    sketches. Embeddings quantize once to integer micro-units, so
    centroids are exact rationals and every per-dim term nano-
    quantizes before the order-free dim sum (the q_ah float-fold
    lesson, designed out).

    Scale shape: posexplode widens by the FIXED dim count; the
    centroid table is labels x dims (broadcast-tiny); the per-point
    distance join fans out by label count only (bounded k). 100 TB =
    one scan + one (point, label)-grain combinable aggregate.
    """
    e = (
        read_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.posexplode("embedding").alias("dim0", "val"),
        )
        .select(
            "vec_id",
            "label",
            (F.col("dim0") + 1).alias("dim"),
            F.round(F.col("val").cast("double") * 1e6)
            .cast("bigint")
            .alias("vq"),
        )
    )
    cent = e.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.sum("vq").cast("bigint").alias("sq"),
        F.count("*").cast("bigint").alias("nc"),
    )
    terms = e.join(F.broadcast(cent), "dim").select(
        "vec_id", "label", "clabel", F.expr(_SIL_TERM).alias("t")
    )
    dists = terms.groupBy("vec_id", "label", "clabel").agg(
        F.sum("t").cast("bigint").alias("d2")
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("d2")))
        .cast("bigint")
        .alias("da"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2")))
        .cast("bigint")
        .alias("db"),
    )
    scored = ab.select("label", F.expr(_SIL_S).alias("s_q"))
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.round(
                F.sum("s_q").cast("double")
                / F.count("*").cast("double")
                / 1e9,
                6,
            ).alias("silhouette"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Rolling 90-day regression beta between two segments' daily revenue
# ---------------------------------------------------------------------------

_RB_WIN = 90
_RB_SEG_X = "MACHINERY"
_RB_SEG_Y = "FURNITURE"

#: Shared-text windowed OLS closes on exact integer rolling moments
#: (dollar units keep 90-day x*y sums inside int64 to ~sf1).
_RB_BETA = (
    "((CAST(nw AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
    " * CAST(sy AS DOUBLE)) / nullif(CAST(nw AS DOUBLE)"
    " * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),"
    " 0e0))"
)
_RB_CORR = (
    "((CAST(nw AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
    " * CAST(sy AS DOUBLE)) / nullif(sqrt((CAST(nw AS DOUBLE)"
    " * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(nw AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)"
    " * CAST(sy AS DOUBLE))), 0e0))"
)


# Rolling 90-day beta and correlation of one segment's daily revenue on
# another's, sampled every 30 days, from exact integer window sums.
sql_query(
    "q_de_rolling_beta",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', o.o_orderdate) AS day,
             CAST(SUM(CASE WHEN c.c_mktsegment = '{_RB_SEG_X}'
                  THEN CAST(round(o.o_totalprice) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN c.c_mktsegment = '{_RB_SEG_Y}'
                  THEN CAST(round(o.o_totalprice) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('{_RB_SEG_X}', '{_RB_SEG_Y}')
      GROUP BY 1),
    idx AS (SELECT row_number() OVER (ORDER BY day) AS t, day, x, y
            FROM daily),
    win AS (
      SELECT t, day,
             CAST(count(*) OVER w AS BIGINT) AS nw,
             CAST(sum(x) OVER w AS BIGINT) AS sx,
             CAST(sum(y) OVER w AS BIGINT) AS sy,
             CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
             CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
             CAST(sum(y * y) OVER w AS BIGINT) AS syy
      FROM idx
      WINDOW w AS (ORDER BY t ROWS BETWEEN {_RB_WIN - 1} PRECEDING
                   AND CURRENT ROW))
    SELECT CAST(day AS DATE) AS day, nw,
           round({_RB_BETA}, 6) AS beta,
           round({_RB_CORR}, 6) AS corr
    FROM win WHERE nw = {_RB_WIN} AND t % 30 = 0
    ORDER BY day
    """,
)


# ---------------------------------------------------------------------------
# Spend-quintile mobility matrix + Shorrocks index (1996 -> 1999)
# ---------------------------------------------------------------------------

_MOB_Y_FROM = 1996
_MOB_Y_TO = 1999

#: Per-diagonal-cell trace term p_jj nano-quantized; Shorrocks
#: M = (k - trace) / (k - 1) closes on the fixed-order accumulated sum.
_MOB_PJJ = (
    "CAST(round(CAST(n_jj AS DOUBLE) / CAST(row_n AS DOUBLE)"
    " * 1000000000e0, 0) AS BIGINT)"
)
_MOB_M = (
    "((5e0 - CAST(tr_q AS DOUBLE) / 1000000000e0) / 4e0)"
)


# Spend-quintile mobility 1996 -> 1999 and the Shorrocks index; quintiles
# from ntile over a total order, diagonal terms quantized before the trace.
sql_query(
    "q_df_mobility",
    f"""
    WITH spend AS (
      SELECT o_custkey, year(o_orderdate) AS yr,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE year(o_orderdate) IN ({_MOB_Y_FROM}, {_MOB_Y_TO})
      GROUP BY 1, 2),
    both_y AS (
      SELECT o_custkey,
             min(CASE WHEN yr = {_MOB_Y_FROM} THEN cents END) AS c_from,
             min(CASE WHEN yr = {_MOB_Y_TO} THEN cents END) AS c_to
      FROM spend GROUP BY o_custkey
      HAVING min(CASE WHEN yr = {_MOB_Y_FROM} THEN cents END) IS NOT NULL
         AND min(CASE WHEN yr = {_MOB_Y_TO} THEN cents END) IS NOT NULL),
    quints AS (
      SELECT CAST(ntile(5) OVER (ORDER BY c_from, o_custkey) AS BIGINT)
               AS q_from,
             CAST(ntile(5) OVER (ORDER BY c_to, o_custkey) AS BIGINT)
               AS q_to
      FROM both_y),
    cells AS (
      SELECT q_from, q_to, CAST(count(*) AS BIGINT) AS n
      FROM quints GROUP BY q_from, q_to),
    rows_ AS (
      SELECT q_from, CAST(sum(n) AS BIGINT) AS row_n
      FROM cells GROUP BY q_from),
    diag AS (
      SELECT c.q_from, c.n AS n_jj, r.row_n
      FROM cells c JOIN rows_ r ON r.q_from = c.q_from
      WHERE c.q_from = c.q_to),
    tr AS (
      SELECT CAST(sum({_MOB_PJJ}) AS BIGINT) AS tr_q FROM diag)
    SELECT c.q_from, c.q_to, c.n,
           round(CAST(c.n AS DOUBLE) / CAST(r.row_n AS DOUBLE), 6) AS p,
           round({_MOB_M}, 6) AS shorrocks_m
    FROM cells c JOIN rows_ r ON r.q_from = c.q_from CROSS JOIN tr
    ORDER BY c.q_from, c.q_to
    """,
)


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price index by year (base 1995)
# ---------------------------------------------------------------------------

#: Per-part numerator/denominator terms of the index ratios: unit
#: price = rev/qty is a rational with per-part denominators, so each
#: p*q product micro-quantizes before the cross-part sum (q_zv
#: contract). rev in cents, qty in units -> p_t*q_0 in cents.
_PI_LNUM = (
    "CAST(round(CAST(rev_t AS DOUBLE) / CAST(qty_t AS DOUBLE)"
    " * CAST(qty_0 AS DOUBLE) * 1000e0, 0) AS BIGINT)"
)
_PI_PDEN = (
    "CAST(round(CAST(rev_0 AS DOUBLE) / CAST(qty_0 AS DOUBLE)"
    " * CAST(qty_t AS DOUBLE) * 1000e0, 0) AS BIGINT)"
)
_PI_L = "(CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE))"
_PI_P = "(CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE))"
_PI_F = f"sqrt({_PI_L} * {_PI_P})"


# Laspeyres, Paasche and Fisher price indices by ship year against the 1995
# basket; p*q cross terms are micro-quantized before the basket sums.
sql_query(
    "q_dg_price_index",
    f"""
    WITH py AS (
      SELECT l_partkey, year(l_shipdate) AS yr,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem WHERE year(l_shipdate) <= 2000
      GROUP BY 1, 2 HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 0),
    base AS (
      SELECT l_partkey, rev AS rev_0, qty AS qty_0
      FROM py WHERE yr = 1995),
    matched AS (
      SELECT p.yr, p.rev AS rev_t, p.qty AS qty_t, b.rev_0, b.qty_0
      FROM py p JOIN base b ON b.l_partkey = p.l_partkey
      WHERE p.yr > 1995),
    sums AS (
      SELECT yr, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum({_PI_LNUM}) AS BIGINT) AS lnum,
             CAST(sum(rev_0 * 1000) AS BIGINT) AS lden,
             CAST(sum(rev_t * 1000) AS BIGINT) AS pnum,
             CAST(sum({_PI_PDEN}) AS BIGINT) AS pden
      FROM matched GROUP BY yr)
    SELECT yr, n_parts,
           round({_PI_L}, 6) AS laspeyres,
           round({_PI_P}, 6) AS paasche,
           round({_PI_F}, 6) AS fisher
    FROM sums ORDER BY yr
    """,
)


# ---------------------------------------------------------------------------
# Apriori 3-itemsets with confidence and lift (order-bounded fan-out)
# ---------------------------------------------------------------------------

_A3_MINSUP = 2

#: Shared-text closes on exact integer supports. Lift compares the
#: triple's probability against full independence (P(a)P(b)P(c) over
#: order baskets); confidence is the ab -> c rule.
_A3_CONF = "(CAST(sup AS DOUBLE) / CAST(sup_ab AS DOUBLE))"
_A3_LIFT = (
    "(CAST(sup AS DOUBLE) * CAST(n_ord AS DOUBLE) * CAST(n_ord AS DOUBLE)"
    " / (CAST(f1 AS DOUBLE) * CAST(f2 AS DOUBLE) * CAST(f3 AS DOUBLE)))"
)


# Apriori 3-itemsets (Agrawal & Srikant 1994) in >= 2 orders, with ab -> c
# confidence and lift.
sql_query(
    "q_dh_apriori_triples",
    f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_ord_t AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_ord FROM li),
    freq AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS f FROM li GROUP BY 1),
    tri AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
             CAST(count(*) AS BIGINT) AS sup
      FROM li a
      JOIN li b ON b.l_orderkey = a.l_orderkey
                AND b.l_partkey > a.l_partkey
      JOIN li c ON c.l_orderkey = a.l_orderkey
                AND c.l_partkey > b.l_partkey
      GROUP BY 1, 2, 3 HAVING count(*) >= {_A3_MINSUP}),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(count(*) AS BIGINT) AS sup_ab
      FROM li a JOIN li b ON b.l_orderkey = a.l_orderkey
                          AND b.l_partkey > a.l_partkey
      GROUP BY 1, 2)
    SELECT t.p1, t.p2, t.p3, t.sup,
           round({_A3_CONF}, 6) AS conf_ab_c,
           round({_A3_LIFT}, 6) AS lift
    FROM tri t
    JOIN pairs pr ON pr.p1 = t.p1 AND pr.p2 = t.p2
    JOIN freq f1_ ON f1_.l_partkey = t.p1
    JOIN freq f2_ ON f2_.l_partkey = t.p2
    JOIN freq f3_ ON f3_.l_partkey = t.p3
    CROSS JOIN n_ord_t
    , LATERAL (SELECT f1_.f AS f1, f2_.f AS f2, f3_.f AS f3) fx
    ORDER BY t.sup DESC, t.p1, t.p2, t.p3
    """,
)


# ---------------------------------------------------------------------------
# Brown-Forsythe test (median-centered Levene) for equal variances
# ---------------------------------------------------------------------------

#: F statistic from exact integer deviation moments: between-group
#: SS = sum_g S_g^2/n_g - S^2/N, within SS = sum z^2 - sum_g S_g^2/n_g;
#: F = (between/(k-1)) / (within/(N-k)). Shared text, nullif-guarded.
_BF_BETWEEN = (
    "(sg2n - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)"
    " / CAST(n_all AS DOUBLE))"
)
_BF_WITHIN = "(CAST(zz_all AS DOUBLE) - sg2n)"
_BF_F = (
    f"(({_BF_BETWEEN} / (CAST(k AS DOUBLE) - 1e0))"
    f" / nullif({_BF_WITHIN} / (CAST(n_all AS DOUBLE)"
    " - CAST(k AS DOUBLE)), 0e0))"
)
#: Per-group S_g^2/n_g term, nano-quantized for the order-free k-term
#: sum (q_zv contract).
_BF_SG2N = (
    "CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)"
    " / CAST(n_g AS DOUBLE) * 1000e0, 0) AS BIGINT)"
)


# Brown-Forsythe test of equal variances across priorities: the ANOVA F on
# absolute deviations, in whole dollars, from each group's exact median.
sql_query(
    "q_di_brown_forsythe",
    f"""
    WITH base AS (
      SELECT o_orderpriority AS arm,
             CAST(round(o_totalprice) AS BIGINT) AS dollars
      FROM orders),
    cells AS (
      SELECT arm, dollars, CAST(count(*) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT arm, dollars, cnt,
             SUM(cnt) OVER (PARTITION BY arm ORDER BY dollars
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(cnt) OVER (PARTITION BY arm) AS n
      FROM cells),
    med AS (
      SELECT arm,
             min(CASE WHEN c >= {_rank(1, 2)} THEN dollars END)
               AS m
      FROM cum GROUP BY arm),
    dev AS (
      SELECT b.arm, abs(b.dollars - med.m) AS z
      FROM base b JOIN med ON med.arm = b.arm),
    grp AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(z) AS BIGINT) AS s_g,
             CAST(sum(z * z) AS BIGINT) AS zz_g
      FROM dev GROUP BY arm),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n_all,
             CAST(sum(s_g) AS BIGINT) AS s_all,
             CAST(sum(zz_g) AS BIGINT) AS zz_all,
             CAST(sum({_BF_SG2N}) AS DOUBLE) / 1000e0 AS sg2n
      FROM grp)
    SELECT k AS n_arms, n_all,
           round({_BF_F}, 6) AS bf_f_stat,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(n_all - k AS BIGINT) AS df2
    FROM tot
    """,
)


# ---------------------------------------------------------------------------
# Weight-of-Evidence / Information Value feature screening
# ---------------------------------------------------------------------------

#: WoE on exact integers: ln((pos_b/POS)/(neg_b/NEG)) = ln(pos_b*NEG)
#: - ln(neg_b*POS) — ln of exact integer-valued doubles, bit-identical
#: across engines (the q_zu contract). Zero cells contribute 0 and are
#: flagged by woe IS NULL instead of polluting IV.
_WOE = (
    "(CASE WHEN pos > 0 AND neg > 0 THEN"
    " ln(CAST(pos AS DOUBLE) * CAST(negt AS DOUBLE))"
    " - ln(CAST(neg AS DOUBLE) * CAST(post AS DOUBLE)) END)"
)
_IV_TERM = (
    f"(CASE WHEN pos > 0 AND neg > 0 THEN"
    f" (CAST(pos AS DOUBLE) / CAST(post AS DOUBLE)"
    f" - CAST(neg AS DOUBLE) / CAST(negt AS DOUBLE)) * {_WOE}"
    " ELSE 0e0 END)"
)


# Weight of evidence per value decile, and the information value of event
# value against the purchase label.
sql_query(
    "q_dj_woe_iv",
    f"""
    WITH scored AS (
      SELECT CAST(round(value * 1e6) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    cells AS (
      SELECT s, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS yc
      FROM scored GROUP BY s),
    cum AS (
      SELECT s, c, yc,
             SUM(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum
      FROM cells),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    binned AS (
      SELECT CAST(floor((10 * cum + n - 1) / n) AS BIGINT) AS bin, c, yc
      FROM cum CROSS JOIN tot),
    per AS (
      SELECT bin, CAST(sum(yc) AS BIGINT) AS pos,
             CAST(sum(c - yc) AS BIGINT) AS neg
      FROM binned GROUP BY bin),
    tots AS (
      SELECT CAST(sum(pos) AS BIGINT) AS post,
             CAST(sum(neg) AS BIGINT) AS negt
      FROM per),
    acc AS (
      SELECT p.bin, p.pos, p.neg, t.post, t.negt,
             SUM({_IV_TERM}) OVER (ORDER BY p.bin
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS iv
      FROM per p CROSS JOIN tots t)
    SELECT bin, pos, neg,
           round({_WOE}, 6) AS woe,
           round(iv, 6) AS iv_total
    FROM acc ORDER BY bin
    """,
)


# ---------------------------------------------------------------------------
# Gumbel block-maxima fit (extreme value theory on monthly peaks)
# ---------------------------------------------------------------------------

import math as _math2

#: Method-of-moments Gumbel fit constants as codegen literals (the
#: q_cw trick): sqrt(6)/pi and the Euler-Mascheroni constant.
_GU_SQRT6_PI = repr(_math2.sqrt(6.0) / _math2.pi)
_GU_EULER = "0.5772156649015329"

_GU_MEAN = "(CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))"
_GU_SD = (
    "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1e0))"
)
_GU_SCALE = f"({_GU_SQRT6_PI} * {_GU_SD})"
_GU_LOC = f"({_GU_MEAN} - {_GU_EULER} * {_GU_SCALE})"


def _gu_rl(t: int) -> str:
    # Return level for T-block return period: loc - scale*ln(-ln(1-1/T)).
    return f"({_GU_LOC} - {_GU_SCALE} * ln(-ln(1e0 - 1e0/{t}e0)))"


# Gumbel block-maxima fit on monthly peaks of daily revenue, with 12- and
# 120-month return levels; the constants are double literals in the text.
sql_query(
    "q_dm_gumbel",
    f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1),
    blocks AS (
      SELECT date_trunc('month', day) AS mon, CAST(max(x) AS BIGINT) AS mx
      FROM daily GROUP BY 1),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(mx) AS BIGINT) AS s1,
             SUM(CAST(mx AS DOUBLE) * CAST(mx AS DOUBLE)) AS s2
      FROM blocks)
    SELECT nb AS n_blocks,
           round({_GU_LOC}, 6) AS gumbel_loc,
           round({_GU_SCALE}, 6) AS gumbel_scale,
           round({_gu_rl(12)}, 6) AS return_level_12mo,
           round({_gu_rl(120)}, 6) AS return_level_120mo
    FROM mom
    """,
)


# ---------------------------------------------------------------------------
# Dyad census + reciprocity of the directed nation trade graph
# ---------------------------------------------------------------------------

_DY_RECIP = (
    "(2e0 * CAST(mutual AS DOUBLE)"
    " / nullif(2e0 * CAST(mutual AS DOUBLE) + CAST(asym AS DOUBLE), 0e0))"
)


# Dyad census and reciprocity (Holland & Leinhardt 1970) of the directed
# nation trade graph.
sql_query(
    "q_dn_dyad_census",
    f"""
    WITH dir AS (
      SELECT DISTINCT sp.s_nationkey AS i, cu.c_nationkey AS j
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      WHERE sp.s_nationkey <> cu.c_nationkey),
    und AS (
      SELECT least(i, j) AS a, greatest(i, j) AS b,
             CAST(count(*) AS BIGINT) AS directions
      FROM dir GROUP BY 1, 2),
    nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nations FROM nation),
    census AS (
      SELECT CAST(sum(CASE WHEN directions = 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS mutual,
             CAST(sum(CASE WHEN directions = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS asym
      FROM und)
    SELECT c.mutual, c.asym,
           CAST(n.n_nations * (n.n_nations - 1) / 2 - c.mutual - c.asym
                AS BIGINT) AS null_dyads,
           round({_DY_RECIP}, 6) AS reciprocity
    FROM census c CROSS JOIN nn n
    """,
)
