"""Property tests for the approximate operators (SURVEY §5).

Approximate/engine-hash-dependent operators (LSH ANN, IVF ANN, MinHash
dedup, SimHash) cannot hash-match a SQL oracle; their contracts are
properties: recall against the exact baseline, idempotence, hamming
bounds, unit norms. These are the checks the north-star docstrings promise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.functions import vectors
from pyspark_mllib_twitter_spark.operators import dedup, similarity
from pyspark_mllib_twitter_spark.sources import read_table

N_QUERIES = 20
K = 10


@pytest.fixture(scope="module")
def embeddings(spark, sf_smoke):
    df = read_table(spark, sf_smoke, "embeddings").cache()
    yield df
    df.unpersist()  # don't leak a bare-relation cache into later modules


@pytest.fixture(scope="module")
def documents(spark, sf_smoke):
    df = read_table(spark, sf_smoke, "documents").cache()
    yield df
    df.unpersist()  # don't leak a bare-relation cache into later modules


@pytest.fixture(scope="module")
def exact_neighbors(embeddings):
    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    res = similarity.brute_force_top_k(embeddings, q, k=K)
    out = {}
    for r in res.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx_rows, exact: dict[int, set]) -> float:
    got: dict[int, set] = {}
    for r in approx_rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(got.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    return hits / total


def test_lsh_recall_vs_exact(embeddings, exact_neighbors):
    """Random-projection LSH ANN recall >= 0.6 against brute force (the
    bound promised at plans/north_star.py's q_ns_ann_lsh)."""
    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    approx = similarity.lsh_top_k(embeddings, q, k=K).collect()
    r = _recall(approx, exact_neighbors)
    assert r >= 0.6, f"LSH recall {r:.3f} < 0.6"


def test_ivf_recall_vs_exact(embeddings, exact_neighbors):
    """IVF (KMeans, n_probe=8/16 — probing half the cells) recall >= 0.6
    against brute force. The fixture embeddings are near-random, so recall
    tracks the probed fraction; n_probe=4 would sit at ~0.55 by
    construction, which is the operator working as designed, not a bug."""
    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    approx = similarity.ivf_top_k(embeddings, q, k=K, n_probe=8).collect()
    r = _recall(approx, exact_neighbors)
    assert r >= 0.6, f"IVF recall {r:.3f} < 0.6"


def test_exact_knn_sims_sorted_and_bounded(embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    rows = similarity.brute_force_top_k(embeddings, q, k=K).collect()
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rn)):
        assert -1.0 - 1e-9 <= r.sim <= 1.0 + 1e-9
        assert r.neighbor_id != r.query_id  # self excluded
        by_q.setdefault(r.query_id, []).append(r.sim)
    for sims in by_q.values():
        assert sims == sorted(sims, reverse=True)


def test_l2_normalize_unit_norm(embeddings):
    """After l2_normalize, ||v|| == 1 (the Normalizer p=2 semantics the
    reference relies on for dot == cosine, COMP5349_2.py:170-178)."""
    norms = (
        embeddings.select(vectors.l2_norm(vectors.l2_normalize("embedding")).alias("n"))
        .agg(F.min("n").alias("lo"), F.max("n").alias("hi"))
        .first()
    )
    assert abs(norms.lo - 1.0) < 1e-9 and abs(norms.hi - 1.0) < 1e-9


def test_approx_count_distinct_error_bounded(spark, sf_smoke):
    """HLL++ sketch contract: default rsd=5% → per-group error comfortably
    under 15% on the fixture cardinalities (3-sigma-ish headroom)."""
    li = read_table(spark, sf_smoke, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= 0.15 * r.exact, tuple(r)


def test_approx_percentile_close_to_exact(spark, sf_smoke):
    """approx_percentile (the 100 TB path q_a7's docstring names) must land
    within 2% relative of the exact interpolated percentile at accuracy
    10000."""
    li = read_table(spark, sf_smoke, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.9, 10000).alias("approx_p90"),
            F.percentile("l_extendedprice", 0.9).alias("exact_p90"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r.approx_p90 - r.exact_p90) <= 0.02 * abs(r.exact_p90), tuple(r)


def test_minhash_dedup_idempotent(documents):
    """dedup(dedup(x)) == dedup(x): running fuzzy dedup on its own output
    removes nothing further."""
    once = dedup.minhash_dedup(documents).cache()
    twice = dedup.minhash_dedup(once)
    ids_once = {r.doc_id for r in once.select("doc_id").collect()}
    ids_twice = {r.doc_id for r in twice.select("doc_id").collect()}
    assert ids_twice == ids_once


def test_minhash_dedup_removes_exact_duplicates(documents):
    """Every surviving pair of docs with identical normalized content would
    be a bug: exact duplicates are trivially near-duplicates, so at most one
    per content fingerprint survives."""
    survivors = dedup.minhash_dedup(documents)
    dup_groups = (
        dedup.content_dedup_groups(survivors)
        .filter(F.col("n_copies") > 1)
        .count()
    )
    assert dup_groups == 0


def test_keep_one_representatives_converges_on_chain(spark):
    """A path graph of 50 docs (diameter 49, far beyond the 20-round cap for
    plain propagation) converges to ONE representative WITHOUT hitting the
    round cap (which raises) — pointer jumping makes rounds O(log
    diameter), and the convergence probe must actually fire."""
    n = 50  # path graph 0-1-2-...-49
    pairs = spark.createDataFrame(
        [(i, i + 1, 0.0) for i in range(n - 1)], "id_a long, id_b long, d double"
    )
    all_ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    reps = dedup.keep_one_representatives(pairs, all_ids)
    assert {r.rep_id for r in reps.collect()} == {0}


def test_simhash_candidates_respect_hamming_bound(documents):
    """Every emitted candidate pair has hamming <= max_hamming, and banding
    is complete: any pair with hamming <= 3 shares at least one 16-bit band
    (pigeonhole over 4 bands) — verified on near-identical docs."""
    pairs = dedup.simhash_candidate_pairs(documents).collect()
    assert all(r.hamming <= 3 for r in pairs)
    # Completeness: compute signatures, find all pairs with hamming <= 3 by
    # brute force over the (small) smoke fixture, compare sets.
    sigs = dedup.simhash_signatures(documents).collect()
    by_id = {r.doc_id: r.simhash for r in sigs}
    want = set()
    items = sorted(by_id.items())
    for i, (ida, sa) in enumerate(items):
        for idb, sb in items[i + 1:]:
            if bin(sa ^ sb).count("1") <= 3:
                want.add((ida, idb))
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == want


def test_exact_dedup_keeps_min_id(documents):
    groups = dedup.content_dedup_groups(documents).collect()
    survivors = dedup.content_dedup(documents)
    ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    assert ids == {r.keep_id for r in groups}
    assert survivors.count() == len(groups)


def test_pq_recall_vs_exact(embeddings, exact_neighbors):
    """PQ (ADC + exact re-rank) recall >= 0.6 against brute force at the
    q_ns_ann_pq settings (m=8, 64 codes, refine=8; measured 0.86 on the
    random fixture — threshold leaves margin for KMeans init drift across
    partitionings)."""
    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    approx = similarity.pq_top_k(embeddings, q, k=K).collect()
    r = _recall(approx, exact_neighbors)
    assert r >= 0.6, f"PQ recall {r:.3f} < 0.6"


def test_ivfpq_recall_vs_exact(embeddings, exact_neighbors):
    """Composed IVF+PQ: probing half the cells (n_probe=8/16) with
    residual-encoded PQ codes (m=8, 64 codes, refine=8 — the q_ns_ann_pq
    code budget) must land within a whisker of the probed-fraction ceiling
    on the near-random fixture: candidates IVF admits should survive the
    ADC ranking (residual quantization + exact re-rank recover ordering).
    IVF-only at the same n_probe gates the same candidate set, so recall
    materially below it would mean the PQ stage is dropping true
    neighbors."""
    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    approx = similarity.ivfpq_top_k(embeddings, q, k=K).collect()
    r = _recall(approx, exact_neighbors)
    assert r >= 0.6, f"IVF+PQ recall {r:.3f} < 0.6"


def test_lloyd_quantizer_contracts():
    """Driver-local Lloyd (shared by IVF/IVF+PQ/PQ/SemDeDup): deterministic
    for a given seed, seed actually changes the init (regression for the
    old no-op seed parameter), spherical centroids are unit-norm, and
    k > n degrades gracefully to n centroids."""
    import numpy as np

    from pyspark_mllib_twitter_spark.operators.quantizer import lloyd

    rng = np.random.default_rng(0)
    x = rng.normal(size=(500, 16))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    a = lloyd(x, 8, seed=42, spherical=True)
    b = lloyd(x, 8, seed=42, spherical=True)
    assert np.array_equal(a, b)
    c = lloyd(x, 8, seed=7, spherical=True)
    assert not np.array_equal(a, c)
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0)
    assert lloyd(x, 1000, seed=1, spherical=True).shape == (500, 16)
    e = lloyd(x, 8, seed=42, spherical=False)
    assert e.shape == (8, 16) and not np.allclose(np.linalg.norm(e, axis=1), 1.0)


def test_ivfpq_index_matches_inmemory_and_prunes(spark, embeddings, tmp_path):
    """The persisted index contract: (a) probing the partitioned index
    returns BIT-IDENTICAL results to the in-memory ivfpq_top_k at the same
    parameters (same seeds + same bounded sample → same quantizers; parquet
    round-trips doubles exactly), and (b) the probed cells appear as a
    partition filter on the codes scan — unprobed cells are pruned from
    I/O, not just filtered after read."""
    path = str(tmp_path / "idx")
    similarity.build_ivfpq_index(embeddings, path, n_centroids=16)
    q = embeddings.filter(F.col("vec_id") < N_QUERIES)
    probe = similarity.probe_ivfpq_index(spark, path, q, k=K, n_probe=8)
    via_idx = sorted(map(tuple, probe.collect()))
    inmem = sorted(
        map(
            tuple,
            similarity.ivfpq_top_k(embeddings, q, k=K).collect(),
        )
    )
    assert via_idx == inmem
    # Pruning: a single query probing 2 of 16 cells must put exactly those
    # cells in the scan's partition filter — unprobed cells never read.
    import re

    narrow = similarity.probe_ivfpq_index(
        spark, path, embeddings.filter(F.col("vec_id") == 0), k=K, n_probe=2
    )
    qe = narrow._jdf.queryExecution()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # small IN-lists print as `IN (a,b)`, larger ones as `INSET a, b, ...`
    m = re.search(r"PartitionFilters: \[[^\]]*?(?:IN \(|INSET )([0-9, ]+)", plan)
    assert m, plan[:1500]
    assert len(m.group(1).split(",")) == 2, m.group(0)


def test_hll_sketch_merge_close_to_exact(spark, sf_smoke):
    """Merging per-nation HLL sketches must estimate global distinct
    custkeys within 5% of exact — the incremental path has the same
    accuracy contract as the one-shot sketch."""
    from pyspark_mllib_twitter_spark.plans import REGISTRY

    est = REGISTRY["q_a11_sketch_merge"].spark(spark, sf_smoke).first().est_distinct
    exact = (
        read_table(spark, sf_smoke, "customer")
        .select("c_custkey").distinct().count()
    )
    assert abs(est - exact) / exact <= 0.05, (est, exact)


def test_semantic_dedup_removes_planted_near_copies(spark, embeddings):
    """SemDeDup property: planting a near-copy (cosine ~0.9999) of every
    20th vector and deduplicating at cosine >= 0.99 removes exactly the
    planted copies (min-id keep-one keeps the originals); vectors without a
    planted twin all survive (near-random fixture vectors are far below the
    0.99 threshold of each other)."""
    planted = embeddings.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(1e-3)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    base = embeddings.select("vec_id", "embedding")
    corpus = base.unionByName(planted)
    survivors = {r.vec_id for r in dedup.semantic_dedup(corpus, min_cosine=0.99).collect()}
    originals = {r.vec_id for r in base.collect()}
    assert survivors == originals  # every original kept, every planted copy gone


def test_semantic_dedup_pairs_respect_threshold(spark, embeddings):
    """Every emitted pair satisfies the cosine threshold, ids are ordered,
    and a corpus with no near-duplicates yields no pairs at a high bar."""
    pairs = dedup.semantic_dedup_pairs(
        embeddings.select("vec_id", "embedding"), min_cosine=0.99
    ).collect()
    assert all(r.cos_sim >= 0.99 and r.id_a < r.id_b for r in pairs)
    assert len(pairs) == 0  # near-random fixture vectors are not near-dups


def test_minhash_portable_subset_of_exact_and_high_recall(documents):
    """Portable (md5) MinHash-LSH contract: every emitted pair really has
    exact 3-gram Jaccard >= the threshold (banding must affect recall only,
    never precision — the verify join enforces this), and recall on the
    near-identical band (J >= 0.9, where 4-row banding catches a pair with
    p ~ 0.99) is >= 0.9. Everything is md5-deterministic, so these bounds
    are stable, not flaky."""
    from pyspark_mllib_twitter_spark.functions import text as TXT

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_pairs_portable(
            documents, shingle_n=3, min_jaccard=0.5
        ).collect()
    }
    grams = documents.select(
        "doc_id",
        F.array_distinct(TXT.word_ngrams(TXT.tokens("text"), 3)).alias("g"),
    ).filter(F.size("g") > 0)
    a = grams.select(F.col("doc_id").alias("id_a"), F.col("g").alias("g_a"))
    b = grams.select(F.col("doc_id").alias("id_b"), F.col("g").alias("g_b"))
    exact = {
        (r.id_a, r.id_b): r.j
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("g_a", "g_b"))
                / F.size(F.array_union("g_a", "g_b"))
            ).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    assert set(got) <= set(exact)
    for pair, j in got.items():
        assert abs(j - exact[pair]) < 1e-9
    near = {p for p, j in exact.items() if j >= 0.9}
    if near:
        assert len(near & set(got)) / len(near) >= 0.9


def test_band_probe_of_own_band_table_equals_self_join_pairs(documents):
    """The two callers of the shared Jaccard verify step agree: probing a
    doc set against its own band table finds exactly the banded self-join's
    verified pairs (and jaccards) once the probe's self-pairs and mirrored
    pairs are dropped."""
    from pyspark_mllib_twitter_spark.operators.iterate import _release

    docs = documents.select("doc_id", "text")
    probed, pins = dedup.probe_band_table(
        docs, docs, dedup.minhash_band_table(docs)
    )
    got = {
        (r.lake_id, r.query_id): r.jaccard
        for r in probed.filter(F.col("lake_id") < F.col("query_id")).collect()
    }
    for pin in pins:
        _release(pin)
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_pairs_portable(docs).collect()
    }
    assert want
    assert got == want


def test_portable_signatures_are_full_width_quarters(documents):
    """Regression guard for the PySpark two-parameter-lambda trap: every
    signature slot must be a full 8-hex-char digest quarter (the broken
    index-bound variant produced '' slots, collapsing every band key to a
    constant and silently degrading LSH to an all-pairs join), and distinct
    documents must get distinct signatures."""
    import re

    grams = dedup.portable_shingles(documents, 3)
    rows = dedup.portable_minhash_signatures(grams).collect()
    assert rows
    pat = re.compile(r"^[0-9a-f]{8}$")
    for r in rows:
        assert len(r.sig) == 16
        assert all(pat.match(s) for s in r.sig), r.sig
    assert len({tuple(r.sig) for r in rows}) > len(rows) * 0.5


def test_robust_outliers_approx_matches_exact(spark, sf_smoke):
    """The mergeable-sketch Hampel twin (q_yn, the scale default) must agree
    with the exact percentile_disc fixture (q_yf) within sketch tolerance:
    identical group counts, medians/MADs within 1% relative, and outlier
    counts within the rows whose deviation sits inside that band."""
    from pyspark_mllib_twitter_spark.plans import REGISTRY

    exact = {
        r["l_returnflag"]: r
        for r in REGISTRY["q_yf_robust_outliers"].spark(spark, sf_smoke).collect()
    }
    approx = {
        r["l_returnflag"]: r
        for r in REGISTRY["q_yn_robust_outliers_approx"].spark(spark, sf_smoke).collect()
    }
    assert set(exact) == set(approx) and exact
    for k, e in exact.items():
        a = approx[k]
        assert a["n"] == e["n"]
        assert abs(a["median"] - e["median"]) <= 0.01 * abs(e["median"]), (k, a, e)
        assert abs(a["mad"] - e["mad"]) <= 0.01 * abs(e["mad"]), (k, a, e)
        # outlier counts may differ only by rows near the threshold; at
        # rank-error 1e-4 that's a tiny fraction of the group
        assert abs(a["n_outliers"] - e["n_outliers"]) <= max(5, 0.01 * e["n"]), (k, a, e)


def test_equidepth_approx_matches_exact(spark, sf_smoke):
    """The sketch-edged equi-depth twin (q_yo, the scale default) must put
    ~the same population in each bin as the exact fixture (q_y6): per-bin
    counts within 2% of total rows (edges differ by <= rank error)."""
    from pyspark_mllib_twitter_spark.plans import REGISTRY

    exact = {r["bin"]: r["n"] for r in REGISTRY["q_y6_equidepth_bins"].spark(spark, sf_smoke).collect()}
    approx = {r["bin"]: r["n"] for r in REGISTRY["q_yo_equidepth_approx"].spark(spark, sf_smoke).collect()}
    total = sum(exact.values())
    assert total == sum(approx.values())  # binning is a partition of rows
    assert set(exact) == set(approx)
    for b in exact:
        assert abs(exact[b] - approx[b]) <= max(2, 0.02 * total), (b, exact[b], approx[b])
