"""Image-content near-dup (dHash + banded Hamming join): golden exactness
vs a driver-side brute force through the same kernel, planted-variant
distance properties, banding recall/precision, and plan shape
(SURVEY §2.B multimodal family)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.operators import phash
from pyspark_mllib_twitter_spark.plans import REGISTRY

from .conftest import SF_SMOKE as SF


@pytest.fixture(scope="module")
def corpus(spark):
    df = phash.synthetic_png_neardup_corpus(spark).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def py_hashes(corpus):
    """Driver-side dHash of every payload through the SAME kernel the
    executors run — the golden reference for the distributed pass."""
    return {
        r["asset_id"]: phash.dhash_py(bytes(r["payload"]))
        for r in corpus.collect()
    }


def test_corpus_shape_and_determinism(spark, corpus):
    ids = [r["asset_id"] for r in corpus.select("asset_id").collect()]
    assert len(ids) == len(set(ids))
    n_base, n_bright, n_inv = 96, 96 // 4, 96 // 6
    assert len(ids) == n_base + n_bright + n_inv
    again = {
        r["asset_id"]: bytes(r["payload"])
        for r in phash.synthetic_png_neardup_corpus(spark).collect()
    }
    first = {r["asset_id"]: bytes(r["payload"]) for r in corpus.collect()}
    assert first == again


def test_distributed_hashes_match_python_kernel(spark, corpus, py_hashes):
    dist = {
        r["asset_id"]: r["dhash"]
        for r in phash.dhash_features(corpus).collect()
    }
    assert dist == py_hashes


def test_planted_variant_distances(py_hashes):
    """Brightness copies are Hamming-0; band-inverted copies land in
    (0, 8] with all flips confined to grid row 4 (one 16-bit block)."""
    for i in range(0, 96, phash.BRIGHT_MOD):
        assert py_hashes[i] == py_hashes[i + phash.BRIGHT_OFFSET]
    for i in range(0, 96, phash.INVERT_MOD):
        x = (py_hashes[i] ^ py_hashes[i + phash.INVERT_OFFSET]) & (2**64 - 1)
        ham = bin(x).count("1")
        assert 1 <= ham <= 8, (i, ham)
        # all flipped bits sit in grid row 4 (bits 32..39): the inverted
        # source band maps to exactly that sampled row
        assert x & ~(0xFF << 32) == 0, (i, hex(x))


def test_query_matches_bruteforce_golden(spark, py_hashes):
    """The registry entry's pair set equals the all-pairs brute force over
    the driver-side hashes at the same threshold — banding loses nothing
    on this corpus (every planted pair keeps >= 3 intact blocks) and
    invents nothing (exact verify)."""
    expect = set()
    for (ia, ha), (ib, hb) in itertools.combinations(
        sorted(py_hashes.items()), 2
    ):
        ham = bin((ha ^ hb) & (2**64 - 1)).count("1")
        if ham <= phash.MAX_HAMMING:
            expect.add((ia, ib, ham))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in REGISTRY["q_ej_image_phash_neardup"].spark(spark, SF).collect()
    }
    assert got == expect
    assert len(got) == 96 // 4 + 96 // 6 + 96 // 12  # planted pairs only


def test_pigeonhole_recall_guarantee(spark):
    """Hamming < n_bands is guaranteed found: flip n_bands-1 scattered
    bits (one in each of the first 3 blocks — the worst case) and the
    banded join must still pair the two rows via the untouched block."""
    base = 0x0123_4567_89AB_CDEF
    tweaked = base ^ (1 << 0) ^ (1 << 16) ^ (1 << 32)
    df = spark.createDataFrame(
        [(1, _signed(base)), (2, _signed(tweaked))], "asset_id long, dhash long"
    )
    out = phash.hamming_neardup_pairs(df, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in out] == [(1, 2, 3)]


def test_verify_kills_far_candidates(spark):
    """A pair sharing one block but far overall (shared low block, other
    48 bits inverted) must be generated as a candidate and then rejected
    by the exact bit_count verify — banding never lowers precision."""
    a = 0x0000_0000_0000_BEEF
    b = 0xFFFF_FFFF_FFFF_BEEF
    df = spark.createDataFrame(
        [(1, _signed(a)), (2, _signed(b))], "asset_id long, dhash long"
    )
    assert phash.hamming_neardup_pairs(df).collect() == []


def test_payloads_never_reach_the_join(spark, corpus):
    """Plan shape: the executed plan's join subtree sees only (id, hash,
    band, block) — the binary payload column is pruned before the
    exchange, so image bytes never shuffle."""
    pairs = phash.hamming_neardup_pairs(phash.dhash_features(corpus))
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    moving = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln or "Join" in ln or "Sort" in ln
    ]
    assert any("Join" in ln for ln in moving)
    for ln in moving:
        assert "payload" not in ln, ln


def _signed(x: int) -> int:
    return x - 2**64 if x >= 2**63 else x


def test_image_dedup_e2e_clusters_match_unionfind(spark, py_hashes):
    """The end-to-end entry's cluster partition must equal a driver-side
    union-find over the brute-force pair set: representative = min id,
    exact member lists, and the 12k bases form transitive TRIPLES."""
    parent = {i: i for i in py_hashes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (ia, ha), (ib, hb) in itertools.combinations(
        sorted(py_hashes.items()), 2
    ):
        if bin((ha ^ hb) & (2**64 - 1)).count("1") <= phash.MAX_HAMMING:
            ra, rb = find(ia), find(ib)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, list[int]] = {}
    for i in py_hashes:
        clusters.setdefault(find(i), []).append(i)
    expect = {
        rep: (len(ms), ",".join(str(m) for m in sorted(ms)))
        for rep, ms in clusters.items()
    }
    got = {
        r["rep_id"]: (r["n_members"], r["members"])
        for r in REGISTRY["q_el_image_dedup_e2e"].spark(spark, SF).collect()
    }
    assert got == expect
    # transitive triples: bases divisible by 12 cluster with BOTH variants
    for i in range(0, 96, 12):
        assert got[i][0] == 3, (i, got[i])
