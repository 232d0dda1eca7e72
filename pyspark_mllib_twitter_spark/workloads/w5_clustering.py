"""Workload 5 — MLlib KMeans clustering over embeddings (∅-ref).

Completes the estimator families the engine exercises (featurizers, ALS,
LogisticRegression, Word2Vec, LSH) with MLlib's distributed KMeans — the
clustering API users reach for before the engine's own bounded-sample
quantizer (``operators/quantizer.py``) exists in their codebase. The two
solve the same problem at different contracts: MLlib KMeans is the
full-data distributed fit (one Spark job per iteration); the quantizer is
a driver-local fit on a bounded sample for when scheduling overhead
dominates (measured in round 4 — see ``operators/dedup.py``). This
workload pins the MLlib side.

Scale: k-means|| init and per-iteration assignment are MLlib's distributed
implementations — no driver-side data beyond the k centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vectors
from ..sources import local_frame


def cluster_embeddings(emb: DataFrame) -> DataFrame:
    """KMeans (k=8, 10 rounds, seed 42) over L2-normalized ``embedding``
    vectors; returns per-row assignments
    ``(vec_id, cluster, dist)`` where ``dist`` is the euclidean distance to
    the assigned centroid. Deterministic for a fixed seed and input
    partitioning (k-means|| sampling is seeded)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = emb.select(
        "vec_id",
        array_to_vector(vectors.l2_normalize("embedding")).alias("features"),
    )
    model = KMeans(
        k=8, seed=42, maxIter=10, featuresCol="features",
        predictionCol="cluster",
    ).fit(feats)
    assigned = model.transform(feats)
    cents = model.clusterCenters()
    cent_df = local_frame(
        assigned.sparkSession,
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "cluster int, centroid array<double>",
    )
    return (
        assigned.join(F.broadcast(cent_df), "cluster")
        .select(
            "vec_id",
            "cluster",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        vector_to_array("features"),
                        F.col("centroid"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("dist"),
        )
    )


def cluster_profile(assignments: DataFrame) -> DataFrame:
    """Per-cluster size and mean centroid distance — the summary a corpus
    pipeline logs after clustering (cluster ids are seed-deterministic but
    arbitrary labels; the PROFILE is the meaningful output)."""
    return (
        assignments.groupBy("cluster")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("dist"), 6).alias("mean_dist"),
        )
        .orderBy("cluster")
    )
