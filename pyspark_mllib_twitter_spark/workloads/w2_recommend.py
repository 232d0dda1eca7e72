"""Workload 2 — collaborative-filtering mention recommendation (ALS).

Reference semantics (``/root/reference/COMP5349_2.py:191-211``): explode
``user_mentions``, drop null users, count (user, mention) pairs as implicit
ratings, fit ALS(rank=10, seed=0, maxIter=5, regParam=0.1,
implicitPrefs=True, alpha=1.0), emit top-5 recommended mention targets per
user, mapped back to original IDs.

Two deliberate fixes over the reference (SURVEY §7):

- **ID dictionary instead of f.hash**: the reference squeezes 64-bit IDs
  through 32-bit murmur (COMP5349_2.py:197) — birthday-bound collisions from
  ~77k users silently merge people. We build a dense-rank dictionary:
  collision-free, and the int IDs ALS needs stay int.
- **Join-based back-mapping instead of broadcast linear scans**: the
  reference's U4-U7 UDFs scan a collected Python list per lookup
  (COMP5349_2.py:79-116) and swallow all exceptions. We explode the
  recommendations and inner-join the (broadcastable) dictionary back,
  preserving rank order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

#: Reference ALS hyperparameters (COMP5349_2.py:204).
ALS_RANK = 10
ALS_SEED = 0
ALS_MAX_ITER = 5
ALS_REG_PARAM = 0.1
ALS_ALPHA = 1.0
#: ALS user/item block count. Factor initialization is seeded per block, so
#: a fixed seed reproduces only under a fixed block count: a constant keeps
#: the output the same on every host (a parallelism-derived count would
#: not), and 8 is the count the committed goldens were generated with.
#: ALS's own default is a fixed 10.
ALS_NUM_BLOCKS = 8


def build_mention_pairs(tweets: DataFrame) -> DataFrame:
    """F5 + P2 + A2 (COMP5349_2.py:196-197): (user_id, mention_id, y) implicit
    ratings, y = mention count."""
    return (
        tweets.select("user_id", F.explode("user_mentions").alias("mention"))
        .filter("user_id IS NOT NULL")
        .select("user_id", F.col("mention")["id"].alias("mention_id"))
        .groupBy("user_id", "mention_id")
        .agg(F.count("*").alias("y"))
    )


def dense_id_dictionary(df: DataFrame, id_cols: list[str]) -> DataFrame:
    """Collision-free long→int dictionaries for several id columns in one
    pass: ``(id_col string, id bigint, dense_id int)``, where each column's
    ids get 1..N in ascending-id order (per column, the contract of
    ``DENSE_RANK() OVER (ORDER BY id)``), built WITHOUT a global window.
    Select one column's dictionary with ``id_col = <name>``.

    Replaces F3 ``f.hash`` (COMP5349_2.py:197) — 32-bit murmur over 64-bit
    Twitter IDs silently merges users from ~77k ids (birthday bound). A
    naive dense_rank fix would funnel every distinct id through ONE
    partition (no-partition window = single-partition sort) — the W2
    scale-killer at ~10^8+ ids. Distributed recipe instead:

    1. the columns' ids stacked as ``(id_col, id)`` rows by one explode
       (one scan of ``df``, not a union of one scan per column), distinct,
       range-repartitioned by ``(id_col, id)`` → globally ordered across
       partitions, sorted within each (one shuffle);
    2. per-(column, partition) counts → driver (at most columns ×
       numPartitions rows, one collect) → cumulative offsets per column,
       broadcast back;
    3. dense id = the column's offset for the partition + row_number within
       the (column, partition) — the window is partitioned by
       ``spark_partition_id()``, so every partition ranks locally in
       parallel.
    """
    stacked = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(c).alias("id_col"), F.col(c).alias("id"))
                        for c in id_cols
                    ]
                )
            ).alias("e")
        )
        .select("e.*")
        .where(F.col("id").isNotNull())
        .distinct()
    )
    parts = stacked.repartitionByRange("id_col", "id").sortWithinPartitions("id_col", "id")
    with_pid = parts.withColumn("_pid", F.spark_partition_id())

    counts = sorted(
        tuple(r) for r in with_pid.groupBy("id_col", "_pid").count().collect()
    )
    offsets, acc = [], {}
    for col, pid, cnt in counts:
        offsets.append((col, pid, acc.get(col, 0)))
        acc[col] = acc.get(col, 0) + cnt
    offsets_df = df.sparkSession.createDataFrame(
        offsets or [(id_cols[0], 0, 0)], "id_col string, _pid int, _offset long"
    )

    local_rank = F.row_number().over(W.partitionBy("id_col", "_pid").orderBy("id"))
    return (
        with_pid.join(F.broadcast(offsets_df), ["id_col", "_pid"])
        .select(
            "id_col",
            "id",
            (F.col("_offset") + local_rank).cast("int").alias("dense_id"),
        )
    )


def implicit_als_recommend(pairs: DataFrame, k: int = 5) -> DataFrame:
    """Fit implicit-feedback ALS with the reference's hyperparameters
    (COMP5349_2.py:204) on ``(user_id, mention_id, y)`` pairs and return
    top-``k`` recommendations per user mapped back to original IDs.

    Output: ``(user_id, rec_rank int 1..k, rec_item_id, rating float)``,
    rank order preserved from ALS. The fit uses ``ALS_NUM_BLOCKS`` user and
    item blocks. ``pairs`` is cached for the fit and released after it.
    """
    from pyspark.ml.recommendation import ALS

    # pairs feeds both the dictionaries and the ALS input: computed once.
    pairs = pairs.cache()
    dicts = dense_id_dictionary(pairs, ["user_id", "mention_id"]).cache()

    def column_dict(id_col: str, out_col: str) -> DataFrame:
        return dicts.where(F.col("id_col") == id_col).select(
            F.col("id").alias(id_col), F.col("dense_id").alias(out_col)
        )

    user_dict = column_dict("user_id", "u")
    item_dict = column_dict("mention_id", "i")

    encoded = (
        pairs.join(F.broadcast(user_dict), "user_id")
        .join(F.broadcast(item_dict), "mention_id")
        .select("u", "i", F.col("y").cast("float").alias("y"))
        .cache()  # ALS reads its input many times (O4: load-bearing cache)
    )

    als = ALS(
        rank=ALS_RANK,
        seed=ALS_SEED,
        maxIter=ALS_MAX_ITER,
        regParam=ALS_REG_PARAM,
        implicitPrefs=True,
        alpha=ALS_ALPHA,
        userCol="u",
        itemCol="i",
        ratingCol="y",
        coldStartStrategy="drop",
        numUserBlocks=ALS_NUM_BLOCKS,
        numItemBlocks=ALS_NUM_BLOCKS,
    )
    model = als.fit(encoded)
    # The fit input is spent; the dictionaries stay cached because the
    # returned frame joins them back.
    encoded.unpersist()
    pairs.unpersist()

    recs = model.recommendForAllUsers(k)

    # U4-U7 replaced: posexplode keeps ALS's rank order; dictionary joins
    # (broadcast) map dense ids back to originals — no silent empty tuples.
    exploded = recs.select(
        "u", F.posexplode("recommendations").alias("pos", "rec")
    ).select(
        "u",
        (F.col("pos") + 1).alias("rec_rank"),
        F.col("rec.i").alias("i"),
        F.col("rec.rating").alias("rating"),
    )
    return (
        exploded.join(F.broadcast(user_dict), "u")
        .join(F.broadcast(item_dict.withColumnRenamed("mention_id", "rec_item_id")), "i")
        .select("user_id", "rec_rank", "rec_item_id", "rating")
    )
