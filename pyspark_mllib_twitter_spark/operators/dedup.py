"""Deduplication operators for LLM-data pipelines (north-star surface).

Five families, all shuffle-disciplined for 100 TB:

- **exact**        — hash-groupBy on content digest; one shuffle on a 128-bit
                     key, no full-text comparison.
- **MinHash+LSH**  — shingle → MinHash signature → banded bucket join; only
                     same-bucket pairs are compared (sub-quadratic).
- **SimHash**      — 64-bit signature built JVM-side from token hashes;
                     near-dup candidates via 16-bit band equi-join + hamming
                     distance filter (bit_count of XOR).
- **n-gram Jaccard** — exact pairwise similarity inside blocking keys.
- **embedding cosine** — near-dup pairs by cosine threshold (exact within a
                     broadcastable query set, LSH otherwise).

Generalizes the reference's text-vectorize-and-compare pattern
(``/root/reference/COMP5349_2.py:151-188``) from "find similar users" to
"find and remove near-duplicate documents".
"""

from __future__ import annotations

import itertools

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions import vectors
from ..sources import local_frame
from .iterate import iterate


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def content_dedup_groups(docs: DataFrame) -> DataFrame:
    """Group ``(doc_id, text)`` documents by content digest (md5 of
    normalized text); emit one row per distinct content: ``keep_id`` (min
    id — deterministic keep-one policy) and ``n_copies``. Shuffles 16-byte
    digests, never the text."""
    return (
        docs.select(F.col("doc_id"), TXT.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def content_dedup(docs: DataFrame) -> DataFrame:
    """Return the surviving rows (keep-one-per-content). Left-semi join back
    on the kept ids — no row data moves through the aggregate."""
    keep = content_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup
# ---------------------------------------------------------------------------

def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Near-duplicate candidate pairs via word-shingle MinHash LSH.

    Pipeline: tokens → 3-gram shingles → hashed sparse binary vector
    (HashingTF, 2^18 features, binary) → MinHashLSH (8 tables) →
    ``approxSimilarityJoin`` at Jaccard distance <= 0.6. Output:
    ``(id_a, id_b, jaccard_dist)`` with ``id_a < id_b``.

    Scale: LSH banding means only same-bucket pairs join — candidate count
    scales with true-duplicate density, not |docs|^2.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # token-count filter BEFORE the projection (not size(shingles) > 0
    # after): equivalent drop set, but the pushed-down predicate copy
    # evaluates only the tokenizer, not the full ngram expression — the
    # portable_shingles r14 pushdown finding applied to the MLlib path.
    toks = docs.filter(F.size(TXT.tokens("text")) >= 3).select(
        F.col("doc_id"),
        TXT.word_ngrams(TXT.tokens("text"), 3).alias("shingles"),
    )

    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    # Cached: the self-join reads the featurized side twice (datasetA and
    # datasetB) and the LSH fit scans it once more — without the cache the
    # shingling + hashing runs three times.
    feats = tf.transform(toks).cache()
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 0.6, distCol="jaccard_dist")
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            "jaccard_dist",
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


#: Round cap for :func:`keep_one_representatives` (pointer jumping
#: converges in O(log diameter) rounds) and how often it probes.
_CC_MAX_ROUNDS = 20
_CC_PROBE_EVERY = 2


def keep_one_representatives(
    pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Map every document to a duplicate-cluster representative (min id in
    its connected component), **run to fixpoint**.

    Each round combines min-label propagation (every node takes the minimum
    label over itself and its neighbors) with a **pointer-jumping** step
    (``rep(u) <- rep(rep(u))``), the path-halving idea behind
    large-star/small-star connected components (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public). Propagation
    alone needs graph-diameter rounds (a 50-doc duplicate chain = 49
    rounds); the jump step compresses label chains exponentially, so a
    component of diameter d converges in O(log d) rounds.

    Cost per round: 3 shuffles (edge join, min-agg, jump join). The
    convergence probe (inner join + limit-1 count) is a driver job, so it
    runs only every ``_CC_PROBE_EVERY`` rounds. The loop is
    ``operators.iterate``, which raises if ``_CC_MAX_ROUNDS`` pass without
    convergence. Returns ``(doc_id, rep_id)`` for every id in ``all_ids``.

    Correctness of the fixpoint: labels only decrease and never leave the
    component, so at a fixpoint every edge (u, v) has rep(u) == rep(v)
    (otherwise propagation would change one side) — labels are constant per
    component, and the constant is the component min because the min node's
    label can never drop below itself.
    """
    # Materialize the (often expensive) candidate-pair plan ONCE before the
    # symmetrize union — otherwise the union's two branches each re-evaluate
    # the upstream LSH/gram join, doubling its cost inside the checkpoint.
    pairs_ck = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    edges = (
        pairs_ck.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs_ck.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)  # reused every iteration
    )
    labels = all_ids.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("rep_id")
    ).localCheckpoint(eager=True)

    def cc_round(labels: DataFrame, _: int) -> DataFrame:
        # Min over self and neighbors' labels.
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "rep_id")
        )
        propagated = (
            labels.select("node", "rep_id")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("rep_id").alias("rep_id"))
        )
        # Pointer jump: rep(u) <- rep(rep(u)). Every rep_id is itself a node
        # (labels start as identity and min() only selects existing ids), so
        # the lookup is total; left join + coalesce keeps it robust anyway.
        lookup = propagated.select(
            F.col("node").alias("l_node"), F.col("rep_id").alias("l_rep")
        )
        return propagated.join(lookup, propagated.rep_id == lookup.l_node, "left").select(
            "node", F.coalesce("l_rep", "rep_id").alias("rep_id")
        )

    round_no = itertools.count(1)

    def settled(old: DataFrame, new: DataFrame) -> bool:
        return next(round_no) % _CC_PROBE_EVERY == 0 and (
            new.alias("n")
            .join(old.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.rep_id") != F.col("o.rep_id"))
            .limit(1)
            .count()
            == 0
        )

    labels = iterate(labels, cc_round, _CC_MAX_ROUNDS, settled)
    return labels.select(F.col("node").alias(id_col), "rep_id")


def minhash_dedup(docs: DataFrame) -> DataFrame:
    """Fuzzy dedup end-to-end: survivors after MinHash-LSH clustering."""
    pairs = minhash_candidate_pairs(docs)
    reps = keep_one_representatives(pairs, docs.select("doc_id"))
    keep = reps.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi")


def portable_shingles(docs: DataFrame, shingle_n: int) -> DataFrame:
    """(doc_id, grams): distinct word-``shingle_n``-gram set per doc, empty-gram
    docs dropped. The shared front of the portable MinHash pipeline.

    The drop predicate is ``size(tokens) >= shingle_n`` — EXACTLY
    equivalent to the previous ``size(grams) > 0`` (an n-gram array is
    non-empty iff the doc has >= n tokens; ``array_distinct`` of a
    non-empty array is non-empty) but crucially CHEAP under filter
    pushdown: Catalyst inlines a filter on the projected ``grams`` column
    and pushes it below the upstream exchange, so the full
    tokenize+ngram+distinct expression ran twice — once single-core at
    the scan just to evaluate the predicate, once after the exchange for
    the projection (r14 measured: 4.1s -> ~1s per shingle pass at sf0.1;
    every portable-MinHash entry sits on this helper)."""
    toks = TXT.tokens("text")
    return docs.filter(F.size(toks) >= max(shingle_n, 1)).select(
        F.col("doc_id"),
        F.array_distinct(
            TXT.word_ngrams(toks, shingle_n) if shingle_n > 1 else toks
        ).alias("grams"),
    )


#: The one portable-MinHash geometry: word 3-gram shingles, 16 hashes,
#: 4 bands x 4 rows, pairs kept at Jaccard >= 0.5. Every portable recipe
#: and its DuckDB oracle use it.
SHINGLE_N = 3
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
MIN_JACCARD = 0.5


def portable_minhash_signatures(grams: DataFrame) -> DataFrame:
    """(doc_id, sig): ``NUM_HASHES``-slot MinHash signature over the ``grams``
    array column, portable md5 hashing only.

    Each seed ``g`` hashes every shingle once — ``md5(g || '|' || s)`` —
    and the digest's four 8-hex-char quarters act as four independent
    32-bit hash functions (the Kirsch-Mitzenmacher observation: k hashes
    derived from few base hashes preserve MinHash accuracy), so
    ``NUM_HASHES`` signature slots cost ``NUM_HASHES/4`` md5 passes per
    shingle. A fixed-width lowercase-hex string's lexicographic order IS
    its numeric order, so ``array_min`` over quarters is a valid min-hash.
    Slot order is seed-major, quarter-minor (the oracle's ``4*seed + q``).
    """
    n_seeds = NUM_HASHES // 4

    # Closure helpers, NOT `lambda s, g=g:` — PySpark treats a two-parameter
    # callable as an (element, index) lambda and silently binds the second
    # parameter to the array index, clobbering the default (regression test:
    # test_portable_signatures_are_full_width_quarters).
    def _md5_seed(g: int):
        return lambda s: F.md5(F.concat(F.lit(f"{g}|"), s))

    def _quarter(q: int):
        return lambda x: F.substring(x, q * 8 + 1, 8)

    hashed = grams.select(
        "doc_id",
        *[
            F.transform(F.col("grams"), _md5_seed(g)).alias(f"h{g}")
            for g in range(n_seeds)
        ],
    )
    # Whole-stage codegen's subexpression elimination computes each seed's
    # md5 array once even though four mins reference it.
    return hashed.select(
        "doc_id",
        F.array(
            *[
                F.array_min(F.transform(F.col(f"h{g}"), _quarter(q)))
                for g in range(n_seeds)
                for q in range(4)
            ]
        ).alias("sig"),
    )


def portable_band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band_key): one LSH band key per (doc, band) from a portable
    MinHash signature — the band INDEX is folded into the key
    (``md5(band || '|' || slot values)``) so the banded equi-join needs a
    single column, which a hash-bucketed PERSISTED index can cluster on
    (the delta-ingest shape: ``q_ef_minhash_delta_index``). Folding is
    semantically identical to joining on (band_idx, band_key) separately —
    md5 collisions across band indexes are negligible — and portable:
    any ANSI engine reproduces the key bit-for-bit."""
    r = ROWS_PER_BAND
    return sig.select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.md5(
                    F.concat_ws("|", b.cast("string"), F.slice("sig", b * r + 1, r))
                ),
            )
        ).alias("band_key"),
    )


def _band_keys(grams: DataFrame) -> DataFrame:
    return portable_band_keys(portable_minhash_signatures(grams))


def minhash_band_table(docs: DataFrame) -> DataFrame:
    """(lake_id, band_key) for every shingled doc of ``docs``
    (``doc_id``, ``text``): the lake side of :func:`probe_band_table`,
    persisted as an index or computed on the fly."""
    grams = portable_shingles(docs, SHINGLE_N)
    return _band_keys(grams).withColumnRenamed("doc_id", "lake_id")


def _jaccard_verify(
    cand: DataFrame, grams_a: DataFrame, grams_b: DataFrame, min_jaccard: float
) -> DataFrame:
    """Candidate id pairs ``(a, b)`` -> ``(a, b, jaccard)`` at exact
    shingle-set Jaccard >= ``min_jaccard``. ``grams_a`` and ``grams_b`` are
    ``(id, grams)`` frames, joined to the candidates on ``a`` and ``b``."""
    a, b = cand.columns
    ga = grams_a.toDF(a, "g_a")
    gb = grams_b.toDF(b, "g_b")
    jac = F.size(F.array_intersect("g_a", "g_b")) / F.size(F.array_union("g_a", "g_b"))
    return (
        cand.join(ga, a)
        .join(gb, b)
        .select(a, b, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def probe_band_table(
    query: DataFrame, lake: DataFrame, lake_bands: DataFrame
) -> tuple[DataFrame, list[DataFrame]]:
    """Asymmetric near-dup probe: ``(lake_id, query_id, jaccard)`` for every
    (lake doc, query doc) pair that shares a band key and has exact
    shingle Jaccard >= ``MIN_JACCARD``. ``query`` and ``lake`` are
    ``(doc_id, text)``; ``lake_bands`` is the lake's
    :func:`minhash_band_table`, either persisted (a bucketed index) or
    computed on the fly. Returns the lazy pairs and the frames it pinned.

    Shape, sized for a small ``query`` (a crawl batch, an eval set) against
    a corpus-sized lake:

    - the query side's band keys and shingles are broadcast, so the lake
      side never shuffles;
    - the distinct candidate pairs are pinned once with an eager
      ``localCheckpoint``: both the id semi-join and the verify join read
      them, and each would otherwise re-run the lake probe;
    - only candidate lake docs are re-shingled, through a broadcast semi
      join on their ids, so nothing corpus-sized is ever pinned.

    Release the pins (``operators.iterate._release``) once the pairs have
    run; the candidate checkpoint is eager, so building the frame runs the
    probe as a job."""
    q_grams = portable_shingles(query, SHINGLE_N).localCheckpoint(eager=False)
    q_bands = _band_keys(q_grams).withColumnRenamed("doc_id", "query_id")
    cand = (
        lake_bands.join(F.broadcast(q_bands), "band_key")
        .select("lake_id", "query_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand_ids = cand.select(F.col("lake_id").alias("doc_id")).distinct()
    lake_grams = portable_shingles(
        lake.join(F.broadcast(cand_ids), "doc_id", "left_semi"), SHINGLE_N
    )
    pairs = _jaccard_verify(cand, lake_grams, F.broadcast(q_grams), MIN_JACCARD)
    return pairs, [q_grams, cand]


def minhash_pairs_portable(
    docs: DataFrame,
    shingle_n: int = SHINGLE_N,
    min_jaccard: float = MIN_JACCARD,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs with PORTABLE hashing — no MLlib,
    no Python: every step is a codegen'd JVM expression built from md5, which
    any ANSI engine reproduces bit-for-bit. Unlike
    :func:`minhash_candidate_pairs` (whose signatures depend on MLlib's
    seeded hash family), the whole pipeline is value-checkable against a SQL
    oracle — candidate generation included, not just the verify step.

    Signatures and band keys are :func:`portable_minhash_signatures` and
    :func:`portable_band_keys` at the module geometry; two docs are
    candidates iff they agree on >= 1 band key (an equi-join — shuffle
    scales with duplicate density, not ``|docs|^2``). Every candidate is
    then verified with the EXACT shingle-set Jaccard, so banding affects
    recall only, never precision.

    Scale shape: the banded self-join shuffles (id, 32-byte key) rows only;
    shingle arrays travel only for candidate ids (the two closing hash
    joins) and are cached across their three uses (signature + both verify
    sides). Output: ``(id_a, id_b, jaccard)``, id_a < id_b.
    """
    grams = portable_shingles(docs, shingle_n).cache()
    banded = _band_keys(grams)
    cand = (
        banded.toDF("id_a", "band_key")
        .join(banded.toDF("id_b", "band_key"), "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_verify(cand, grams, grams, min_jaccard)


# ---------------------------------------------------------------------------
# SimHash near-dedup (pure DataFrame ops, no MLlib)
# ---------------------------------------------------------------------------

#: SimHash width. Bit 63 is dropped so the signature reassembly (a SUM of
#: distinct powers of two) cannot overflow signed int64.
SIMHASH_BITS = 63


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """63-bit SimHash per ``(doc_id, text)`` document, entirely JVM-side.

    explode(tokens) → xxhash64(token) → per-bit +/-1 vote aggregated per
    document → signature reassembled as SUM(2^i for winning bits i).
    One shuffle (groupBy id); whole-stage codegen throughout — no Python.
    """
    tok = docs.select(
        F.col("doc_id"), F.explode(TXT.tokens("text")).alias("token")
    ).withColumn("h", F.xxhash64("token"))

    votes = [
        F.sum(
            F.when(F.shiftrightunsigned("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)

    sig = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select(F.col("doc_id"), sig.alias("simhash"))


def simhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs by SimHash banding: split the signature into 4 x 16-bit
    bands; two docs are candidates iff they agree on >= 1 band (guaranteed to
    catch all pairs with hamming distance <= 3); verify with exact hamming
    distance = bit_count(xor). The join is an equi-join on (band_idx,
    band_value) — shuffle scales with collision density, not |docs|^2.
    """
    sigs = simhash_signatures(docs)
    bands = sigs.select(
        F.col("doc_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")

    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"), "band_idx", "band_val"
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    max_block_size: int = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity >= 0.5 for all ``(doc_id, text)``
    pairs within the same ``source``.

    ``jaccard = |A ∩ B| / |A ∪ B|`` over distinct word n-grams, computed with
    JVM array functions. The self-join is an equi-join on ``source``
    (never a cross join); use MinHash LSH when no natural block exists.

    Within a block the pairing is O(block²) — a skewed block (one dominant
    ``source`` value) would dominate the job at scale. ``max_block_size``
    guards that: blocks larger than the cap fail fast with the offending
    keys instead of silently running a quadratic stage; route those blocks
    through :func:`minhash_candidate_pairs` instead.
    """
    # filter BEFORE the gram projection, on token count — equivalent to
    # the old size(grams) > 0 (an n-gram array is non-empty iff the doc
    # has >= n tokens) but cheap when Catalyst pushes the predicate below
    # an upstream exchange: a filter on the projected grams column inlines
    # the whole tokenize+ngram+distinct expression into the pushed copy
    # and re-pays it single-core at the scan (the portable_shingles r14
    # finding; same pattern here).
    g = docs.filter(F.size(TXT.tokens("text")) >= max(n, 1)).select(
        F.col("doc_id"),
        F.col("source"),
        F.array_distinct(TXT.word_ngrams(TXT.tokens("text"), n)).alias("grams"),
    )

    counts = (
        g.groupBy("source")
        .count()
        .filter(F.col("count") > max_block_size)
        .limit(5)
        .collect()
    )
    if counts:
        raise ValueError(
            f"ngram_jaccard_pairs: block(s) exceed max_block_size="
            f"{max_block_size}: {[tuple(r) for r in counts]}; "
            "use minhash_candidate_pairs for these blocks"
        )

    a = g.select("source", F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a"))
    b = g.select("source", F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b"))
    pairs = a.join(b, ["source"]).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            (inter.cast("double") / F.nullif(union, F.lit(0))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(embeddings: DataFrame) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= 0.3 via random-projection
    LSH (8 tables, bucket length 1.0) on L2-normalized vectors (unit-sphere
    euclidean distance sqrt(2-2c) <=> cosine c). Output
    ``(id_a, id_b, cos_sim)``; the threshold is wide so the near-random
    fixture yields a small, stable candidate set."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    import math

    # Cached: LSH fit + both sides of the self-join read this (3 scans).
    normed = embeddings.select(
        F.col("vec_id"),
        array_to_vector(vectors.l2_normalize("embedding")).alias("features"),
    ).cache()
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=1.0,
        numHashTables=8,
        seed=42,
    )
    model = lsh.fit(normed)
    max_dist = math.sqrt(max(0.0, 2.0 - 2.0 * 0.30))
    joined = model.approxSimilarityJoin(normed, normed, max_dist, distCol="dist")
    return (
        joined.select(
            F.col("datasetA.vec_id").alias("id_a"),
            F.col("datasetB.vec_id").alias("id_b"),
            (1 - F.col("dist") * F.col("dist") / 2).alias("cos_sim"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


# ---------------------------------------------------------------------------
# Semantic (embedding-cluster) dedup — SemDeDup-style
# ---------------------------------------------------------------------------

def semantic_dedup_pairs(embeddings: DataFrame, min_cosine: float = 0.97) -> DataFrame:
    """SemDeDup-style near-duplicate pairs (Abbas et al., "SemDeDup", 2023 —
    public): KMeans-cluster L2-normalized embeddings, then compare ONLY
    within-cluster pairs by exact cosine.

    Scale shape: the coarse quantizer fits on a bounded md5-keyed sample
    (same discipline as the IVF/PQ quantizers, ``similarity.py``); the full
    corpus is only *assigned* (one broadcast of k centroids); the pair
    search is an equi-join on cluster id — pair count scales with
    sum(cluster_size²), not |corpus|², and each cluster is its own shuffle
    partition. The recall tradeoff is pairs split across a cluster
    boundary — the same blocking tradeoff as every IVF-style index; more
    clusters (16 here) trade recall for speed.

    Output: ``(id_a, id_b, cos_sim)`` with ``id_a < id_b``.
    """
    from .quantizer import bounded_fit_sample, lloyd, nearest_centroid_udf

    norm = embeddings.select(F.col("vec_id"), vectors.l2_normalize("embedding").alias("arr"))
    fit_sample = bounded_fit_sample(norm, "vec_id")
    # The quantizer trains DRIVER-LOCAL on the bounded sample (<= 65k
    # vectors — a few MB; numpy Lloyd finishes in milliseconds). An MLlib
    # fit here costs ~15 driver jobs (k-means|| init + one job per Lloyd
    # round) of pure scheduling overhead on a sample this small — measured
    # as the dominant cost of the whole operator. Only the FIT is local:
    # assignment below is a distributed JVM expression over broadcast
    # centroid literals, so the corpus itself never reaches the driver.
    sample = [r.arr for r in fit_sample.select("arr").collect()]
    n_fit = len(sample)
    if n_fit == 0:
        id_type = dict(embeddings.dtypes)["vec_id"]
        return local_frame(
            embeddings.sparkSession,
            [],
            f"id_a {id_type}, id_b {id_type}, cos_sim double",
        )
    # A k close to n degenerates to one point per cluster (no within-cluster
    # pairs); cap at ~n/8 so clusters expect several members. k=1 means
    # all-pairs — exact and affordable at that corpus size.
    k = max(1, min(16, n_fit // 8))
    if k >= 2:
        # Shared spherical-k-means quantizer (operators.quantizer): unit
        # centroids, so the distributed assignment — an Arrow-batched
        # argmax-of-dots matmul, no shuffle, no MLlib — equals
        # nearest-centroid.
        cents_arr = lloyd(sample, k, spherical=True)
        assign = nearest_centroid_udf([[float(v) for v in c] for c in cents_arr])
        assigned = norm.select("vec_id", "arr", assign("arr").alias("cluster_id"))
    else:  # corpus too small to block — one cluster == exact all-pairs
        assigned = norm.select("vec_id", "arr", F.lit(0).alias("cluster_id"))
    # Within-cluster pair scan as ONE grouped-map pass: each cluster's
    # vectors arrive as an Arrow batch and numpy computes the (blocked)
    # gram matrix — arrs are L2-normalized above, so dot == cosine. This
    # replaces the cluster-id self-join + per-pair zip_with fold, which
    # (a) shuffles every vector twice and (b) evaluates the dot as
    # interpreted HOF lambdas, d evals per pair (~1M/s; the gram matmul
    # does the same work at memory bandwidth). Work and memory stay
    # cluster-blocked: the matmul is row-blocked so peak memory is
    # O(block × cluster), never cluster²; parallelism = one task per
    # cluster, the same ceiling the self-join had.
    id_type = dict(embeddings.dtypes)["vec_id"]
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        x = np.stack(pdf["arr"].to_numpy())[order]
        out = []
        block = 2048
        cols = np.arange(n)
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            gram = x[i0:i1] @ x.T  # (block, n)
            keep = (gram >= min_cosine) & (cols[None, :] > np.arange(i0, i1)[:, None])
            rows, js = np.nonzero(keep)
            if len(rows):
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[rows + i0],
                            "id_b": ids[js],
                            "cos_sim": gram[rows, js],
                        }
                    )
                )
        if not out:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        return pd.concat(out, ignore_index=True)

    return assigned.groupBy("cluster_id").applyInPandas(cluster_pairs, out_schema)


def semantic_dedup(embeddings: DataFrame, **kwargs) -> DataFrame:
    """Survivors after SemDeDup clustering: near-dup pairs → connected
    components (min-id representative) → keep one row per component."""
    pairs = semantic_dedup_pairs(embeddings, **kwargs)
    reps = keep_one_representatives(pairs, embeddings.select("vec_id"), "vec_id")
    keep = reps.filter(F.col("vec_id") == F.col("rep_id")).select("vec_id")
    return embeddings.join(keep, "vec_id", "left_semi")


# ---------------------------------------------------------------------------
# Incremental dedup (new batch vs existing corpus)
# ---------------------------------------------------------------------------

def dedup_against(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Incremental exact dedup: the "ingest a new crawl against an existing
    lake" shape. Drops new-batch rows whose content fingerprint already
    exists in ``corpus`` (left-anti on the md5 digest), then keep-one
    (min id) within the batch itself.

    Scale shape: both sides shuffle only 16-byte digests — the corpus text
    never moves, and the corpus side reduces to its distinct fingerprint
    set (in production that set is a materialized/bucketed table the
    ingest job joins against, not a rescan of the lake). Returns the
    surviving ``new_docs`` rows.
    """
    new_fp = new_docs.select(F.col("doc_id"), TXT.fingerprint("text").alias("fp"))
    corpus_fp = corpus.select(TXT.fingerprint("text").alias("fp"))
    fresh = new_fp.join(corpus_fp, "fp", "left_anti")
    keep = (
        fresh.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return new_docs.join(keep, "doc_id", "left_semi")
