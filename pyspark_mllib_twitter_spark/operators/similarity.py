"""Similarity search over embedding columns (``array<float>``).

North-star surface: approximate-nearest-neighbor search for LLM-data
pipelines. Two paths:

- **Exact brute-force top-k** — broadcast the (small) query set against the
  full corpus; JVM-side cosine via higher-order functions; window top-k.
  Generalizes the reference's all-pairs broadcast-dict scan
  (``/root/reference/COMP5349_2.py:29-47``) without the driver collect.
  Cost is O(|Q| x |corpus|) but embarrassingly parallel and shuffle-free
  until the final top-k — the right baseline when |Q| is small.

- **LSH-bucketed** (``BucketedRandomProjectionLSH``) — hash corpus + queries
  into buckets, join only within buckets. Sub-linear candidate sets; the
  scale path when |Q| is large. Recall < 1.0 by construction; tested as a
  property (recall >= threshold vs exact) rather than an oracle hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vectors
from ..sources import local_frame
from .quantizer import (
    bounded_fit_sample,
    fit_centroids,
    lloyd,
    nearest_centroid_udf,
    pq_encode_udf,
    pq_lut_udf,
)
from .topk import top_k_per_group

#: One quantizer geometry for the PQ and IVF+PQ operators (the q_ns_ann_*
#: entries): 16 coarse cells, 8 probed; 8 one-byte PQ codes per vector
#: over 64-code sub-space codebooks; ``k * REFINE`` ADC candidates
#: re-ranked exactly.
SEED = 42
N_CENTROIDS = 16
IVFPQ_PROBE = 8
N_SUBVECTORS = 8
N_CODES = 64
REFINE = 8


def brute_force_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k cosine neighbors in ``corpus`` for every row of ``queries``
    (``vec_id`` / ``embedding`` columns), each query excluded from its own
    neighbors.

    Returns columns: ``query_id``, ``neighbor_id``, ``sim``, ``rn`` (1-based
    rank). Ties broken by ascending neighbor id (deterministic; the W1
    reference tie-break, DESC id, lives in
    ``workloads.w1_similarity.user_similarity_top_k``).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        vectors.as_double_array("embedding").alias("q_vec"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        vectors.as_double_array("embedding").alias("c_vec"),
    )
    # Broadcast the query side: the big corpus streams, no shuffle of corpus.
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        vectors.cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"),
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    ).select("query_id", "neighbor_id", "sim", "rn")


def _to_ml_vectors(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(vectors.as_double_array(vec_col)))


def lsh_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Approximate top-k cosine neighbors via random-projection LSH.

    Vectors are L2-normalized first so Euclidean distance is monotone in
    cosine similarity (||a-b||^2 = 2 - 2*cos on the unit sphere) — this turns
    ``BucketedRandomProjectionLSH`` (Euclidean) into a cosine-ANN index.
    Output schema matches :func:`brute_force_top_k` for recall comparison.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    def prep(df: DataFrame, prefix: str) -> DataFrame:
        normed = df.select(
            F.col("vec_id").alias(f"{prefix}_id"),
            vectors.l2_normalize("embedding").alias("arr"),
        )
        return _to_ml_vectors(normed, "arr", "features").drop("arr")

    c = prep(corpus, "neighbor")
    q = prep(queries, "query")

    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=4,
        seed=SEED,
    )
    model = lsh.fit(c)
    # Wide threshold: unit-sphere euclidean distance 2.0 == cosine -1.0, so
    # candidate filtering is purely the LSH bucketing, ranking stays exact.
    joined = model.approxSimilarityJoin(q, c, 2.0, distCol="dist")
    pairs = joined.select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.neighbor_id").alias("neighbor_id"),
        # back to cosine: cos = 1 - dist^2 / 2 on unit vectors
        (1 - F.col("dist") * F.col("dist") / 2).alias("sim"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return top_k_per_group(
        pairs,
        ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    ).select("query_id", "neighbor_id", "sim", "rn")


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN: KMeans-partition the corpus into ``N_CENTROIDS`` cells,
    search only the ``n_probe`` nearest centroids per query. The coarse
    quantizer is tiny (centroids are broadcast); the fine search is an
    equi-join on centroid id — shuffle scales with corpus size /
    n_centroids * n_probe, not |Q| x |corpus|.

    Vectors are L2-normalized and the coarse quantizer is SPHERICAL k-means
    (shared helper, ``operators.quantizer``) so centroid assignment and the
    cosine probe ranking agree on the unit sphere. The fit is driver-local
    on a bounded sample (an MLlib fit on a sample this small is ~15
    scheduled jobs of pure overhead — see quantizer module docstring);
    assignment of the full corpus is one Arrow-batched matmul-argmax
    (``nearest_centroid_udf`` — see its docstring for why this beats a
    zip_with/aggregate expression). Note recall on *unstructured*
    (near-random) embeddings approaches the probed fraction n_probe /
    n_centroids by construction; IVF pays off when the corpus actually
    clusters, and n_probe is the recall/cost dial.
    """
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        vectors.l2_normalize("embedding").alias("arr"),
    )
    # Fit the coarse quantizer on a bounded sample; ASSIGN the full corpus.
    # Lloyd iterations are capped — centroid quality plateaus in a few
    # rounds and n_probe, not centroid polish, is the recall dial.
    centroids = fit_centroids(c, "neighbor_id", "arr", N_CENTROIDS)
    c_assigned = c.withColumn("centroid_id", nearest_centroid_udf(centroids)("arr"))
    cent_df = local_frame(
        corpus.sparkSession,
        list(enumerate(centroids)),
        "centroid_id int, centroid array<double>",
    )

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        vectors.l2_normalize("embedding").alias("q_vec"),
    )
    # nearest n_probe centroids per query (centroid table is tiny → broadcast)
    q_cent = top_k_per_group(
        q.crossJoin(F.broadcast(cent_df)).select(
            "query_id",
            "q_vec",
            "centroid_id",
            vectors.cosine(F.col("q_vec"), F.col("centroid")).alias("c_sim"),
        ),
        ["query_id"],
        [F.col("c_sim").desc(), F.col("centroid_id").asc()],
        n_probe,
        rank_col="c_rn",
    ).select("query_id", "q_vec", "centroid_id")

    candidates = q_cent.join(c_assigned, "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        vectors.cosine(F.col("q_vec"), F.col("arr")).alias("sim"),
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    ).select("query_id", "neighbor_id", "sim", "rn")


def pq_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance + exact re-rank.

    The 100 TB memory story: each d-dim float vector is encoded as
    m = ``N_SUBVECTORS`` one-byte codes (d*4 bytes -> m bytes), so the
    candidate scan reads codes, not vectors. Per query, a lookup table of
    subvector-to-centroid squared distances is built (m x ``N_CODES``
    floats, broadcast); approximate distance is m array lookups per
    candidate (``zip_with`` + ``aggregate``, all codegen'd JVM) instead of d
    multiplies. The top ``k*REFINE`` by approximate distance are re-ranked
    with exact cosine against the full vectors — the standard ADC+refine
    pipeline (Jegou et al., PQ for NN search; public method).

    Codebooks are per-subspace euclidean Lloyd (shared ``operators.
    quantizer`` helper, driver-local on one bounded-sample collect — the m
    MLlib fits this replaces cost m × ~15 scheduled jobs of overhead) on
    L2-normalized slices; on the unit sphere cos = 1 - ||a-b||^2 / 2, so
    euclidean PQ ranks cosine. Encoding the full corpus is one
    Arrow-batched pandas UDF (m small matmuls per batch —
    ``quantizer.pq_encode_udf``); no MLlib in the distributed path at all.
    Output schema matches :func:`brute_force_top_k` for recall comparison.
    See :func:`ivfpq_top_k` for the composed IVF coarse-pruning + PQ
    compressed-scan operator — the full 100 TB shape.
    """
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        vectors.l2_normalize("embedding").alias("arr"),
    )
    # One bounded-sample collect trains ALL m sub-space codebooks; capped
    # iterations, because quantization error plateaus after a few Lloyd
    # rounds and the exact re-rank absorbs the residual. The vector dim
    # comes from the sample itself — no separate probe job.
    sample = _fit_sample(c)
    lsub = _subvector_len(sample)
    codebooks = [
        lloyd(sample[:, s * lsub : (s + 1) * lsub], N_CODES, seed=SEED + s, spherical=False)
        for s in range(N_SUBVECTORS)
    ]
    cb_lists = [[[float(v) for v in row] for row in b] for b in codebooks]
    codes = c.select(
        "neighbor_id",
        "arr",
        pq_encode_udf(None, cb_lists)(F.col("arr"), F.lit(0)).alias("codes"),
    )

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        vectors.l2_normalize("embedding").alias("q_vec"),
    )
    # Per-query LUT matrix (subspace × code squared distances), one
    # Arrow-batched UDF over the tiny query set — replaces a
    # crossJoin-with-codebook + two groupBy shuffles.
    luts = q.select(
        "query_id",
        pq_lut_udf(None, cb_lists)(F.col("q_vec"), F.lit(0)).alias("luts"),
    )

    # ADC scan: approx sq-distance = sum over subspaces of LUT[code].
    approx = (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "arr",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.col("luts"),
                    lambda code, lut: F.element_at(lut, code.cast("int") + 1),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("approx_d2"),
        )
    )
    cand = top_k_per_group(
        approx,
        ["query_id"],
        [F.col("approx_d2").asc(), F.col("neighbor_id").asc()],
        k * REFINE,
        rank_col="cand_rn",
    )
    # Exact re-rank of the surviving candidates.
    rescored = cand.join(F.broadcast(q), "query_id").select(
        "query_id",
        "neighbor_id",
        vectors.cosine(F.col("q_vec"), F.col("arr")).alias("sim"),
    )
    return top_k_per_group(
        rescored,
        ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    ).select("query_id", "neighbor_id", "sim", "rn")


def ivfpq_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Composed IVF + PQ ANN — the full 100 TB index shape (Jegou et al.,
    "Product quantization for nearest neighbor search", 2011; public).

    IVF alone cuts the CANDIDATE COUNT (probe ``IVFPQ_PROBE`` of
    ``N_CENTROIDS`` cells) but still reads full vectors; PQ alone
    compresses the SCAN (m one-byte codes per vector) but reads every row. Composed: the
    coarse spherical quantizer routes each corpus vector to a cell, PQ
    encodes the RESIDUAL (vector − its cell centroid — residuals have far
    less variance than raw vectors, so the same code budget quantizes
    finer), and a query ADC-scans codes only inside its probed cells, then
    exactly re-ranks the top ``k*REFINE``. Cost per query: shuffle/scan
    ∝ corpus/n_centroids × n_probe rows of m bytes — both dials cut.

    Distributed shape: both quantizers fit driver-local on ONE bounded
    sample collect (``operators.quantizer``); cell assignment, residual
    computation, PQ encoding, and the ADC scan are all codegen'd JVM
    expressions over broadcast literals; the candidate join is an
    equi-join on ``centroid_id``. The exact re-rank carries the full
    vector alongside the codes here (fixture-sized corpus); at 100 TB the
    re-rank instead joins candidate ids back to the vector store.
    Output schema matches :func:`brute_force_top_k` for recall comparison.
    """
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        vectors.l2_normalize("embedding").alias("arr"),
    )
    coarse_lists, cb_lists = _fit_ivfpq(c, N_CENTROIDS)
    codes = _encode_ivfpq(c, coarse_lists, cb_lists)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        vectors.l2_normalize("embedding").alias("q_vec"),
    )
    return _rank_probed(codes, q, coarse_lists, cb_lists, k, IVFPQ_PROBE)


def _fit_sample(c: DataFrame):
    """The bounded quantizer-training sample of ``c.arr`` as a numpy matrix."""
    import numpy as np

    return np.asarray(
        [r[0] for r in bounded_fit_sample(c, "neighbor_id").select("arr").collect()],
        dtype=np.float64,
    )


def _subvector_len(sample) -> int:
    dim = sample.shape[1]
    if dim % N_SUBVECTORS != 0:
        raise ValueError(f"dim {dim} not divisible by n_subvectors {N_SUBVECTORS}")
    return dim // N_SUBVECTORS


def _fit_ivfpq(c: DataFrame, n_centroids: int):
    """Fit the coarse quantizer + residual codebooks on ONE bounded-sample
    collect (the sample is assigned/residualized in numpy with the exact
    argmax-dot / first-tie semantics of the distributed UDFs). Returns
    ``(coarse, codebooks)`` as plain float lists — json-serializable, so a
    persisted index can store them next to the codes."""
    sample = _fit_sample(c)
    lsub = _subvector_len(sample)
    coarse = lloyd(sample, n_centroids, seed=SEED, spherical=True)
    labels = (sample @ coarse.T).argmax(axis=1)
    res_sample = sample - coarse[labels]
    codebooks = [
        lloyd(
            res_sample[:, s * lsub : (s + 1) * lsub], N_CODES,
            seed=SEED + 1 + s, spherical=False,
        )
        for s in range(N_SUBVECTORS)
    ]
    coarse_lists = [[float(v) for v in row] for row in coarse]
    cb_lists = [[[float(v) for v in row] for row in b] for b in codebooks]
    return coarse_lists, cb_lists


def _encode_ivfpq(c: DataFrame, coarse_lists: list, cb_lists: list) -> DataFrame:
    """Corpus → (centroid_id, neighbor_id, arr, codes): two Arrow-batched
    passes (assignment matmul, then residualize+encode inside the encoder
    UDF — the residual never materializes as a column)."""
    assigned = c.withColumn("centroid_id", nearest_centroid_udf(coarse_lists)("arr"))
    return assigned.select(
        "centroid_id",
        "neighbor_id",
        "arr",
        pq_encode_udf(coarse_lists, cb_lists)(
            F.col("arr"), F.col("centroid_id")
        ).alias("codes"),
    )


def _rank_probed(
    codes: DataFrame,
    q: DataFrame,
    coarse_lists: list,
    cb_lists: list,
    k: int,
    n_probe: int,
    prune_scan: bool = False,
) -> DataFrame:
    """Shared IVF+PQ search over an encoded corpus: probe the ``n_probe``
    nearest cells per query, ADC-scan codes inside those cells, exact
    re-rank of the top ``k*REFINE``. The per-(query, cell) lookup table is
    one Arrow-batched UDF over the tiny probe set, because PQ codes
    residuals: ||q − x||² ≈ Σ_s ||(q − c)_s − codebook_s[code_s]||².

    ``prune_scan`` additionally collects the probed cell ids (≤ |Q| ×
    n_probe ints — bounded, driver-side by design) and filters the codes
    scan with a literal IN predicate. For a PERSISTED index partitioned by
    ``centroid_id`` that predicate becomes a partition filter: unprobed
    cells are never read — the candidate cut becomes an I/O cut."""
    spark = codes.sparkSession
    cent_df = local_frame(
        spark, list(enumerate(coarse_lists)), "centroid_id int, centroid array<double>"
    )
    q_cent = top_k_per_group(
        q.crossJoin(F.broadcast(cent_df)).select(
            "query_id",
            "q_vec",
            "centroid_id",
            vectors.cosine(F.col("q_vec"), F.col("centroid")).alias("c_sim"),
        ),
        ["query_id"],
        [F.col("c_sim").desc(), F.col("centroid_id").asc()],
        n_probe,
        rank_col="c_rn",
    ).select("query_id", "q_vec", "centroid_id")
    if prune_scan:
        cells = [r.centroid_id for r in q_cent.select("centroid_id").distinct().collect()]
        codes = codes.filter(F.col("centroid_id").isin(cells))
    probes = q_cent.select(
        "query_id",
        "q_vec",
        "centroid_id",
        pq_lut_udf(coarse_lists, cb_lists)(
            F.col("q_vec"), F.col("centroid_id")
        ).alias("luts"),
    )

    # ADC scan inside probed cells only: equi-join on centroid_id, approx
    # sq-distance = Σ_s LUT_s[code_s] — m array lookups per candidate.
    approx = (
        codes.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "arr",
            "q_vec",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.col("luts"),
                    lambda code, lut: F.element_at(lut, code.cast("int") + 1),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("approx_d2"),
        )
    )
    cand = top_k_per_group(
        approx,
        ["query_id"],
        [F.col("approx_d2").asc(), F.col("neighbor_id").asc()],
        k * REFINE,
        rank_col="cand_rn",
    )
    rescored = cand.select(
        "query_id",
        "neighbor_id",
        vectors.cosine(F.col("q_vec"), F.col("arr")).alias("sim"),
    )
    return top_k_per_group(
        rescored,
        ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    ).select("query_id", "neighbor_id", "sim", "rn")


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
) -> None:
    """Persist an IVF+PQ index: the encoded corpus as parquet PARTITIONED
    BY ``centroid_id`` (probing n_probe cells later reads only those
    directories — partition pruning, plan-asserted in
    tests/test_properties.py) plus the fitted quantizers as a JSON
    sidecar. Encode-once-probe-many is the production retrieval shape: the
    fit + encode cost amortizes over every later query batch, exactly like
    the bucketed chunk-fingerprint index amortizes its distinct shuffle."""
    import json
    import os

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        vectors.l2_normalize("embedding").alias("arr"),
    )
    coarse_lists, cb_lists = _fit_ivfpq(c, n_centroids)
    codes = _encode_ivfpq(c, coarse_lists, cb_lists)
    codes.write.mode("overwrite").partitionBy("centroid_id").parquet(
        os.path.join(path, "codes")
    )
    with open(os.path.join(path, "quantizer.json"), "w") as f:
        json.dump({"coarse": coarse_lists, "codebooks": cb_lists}, f)


def probe_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
) -> DataFrame:
    """Search a persisted IVF+PQ index (see :func:`build_ivfpq_index`).
    The probed cell ids become a literal IN filter on the partitioned
    codes scan, so unprobed cells are never read from storage."""
    import json
    import os

    with open(os.path.join(path, "quantizer.json")) as f:
        quant = json.load(f)
    codes = spark.read.parquet(os.path.join(path, "codes"))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        vectors.l2_normalize("embedding").alias("q_vec"),
    )
    return _rank_probed(
        codes, q, quant["coarse"], quant["codebooks"], k, n_probe,
        prune_scan=True,
    )
