"""Bucketed tables: pre-shuffled storage for co-located joins/aggs.

At 100 TB the dominant cost of a fact⋈fact join is shuffling both sides on
the key. Bucketing pays that shuffle ONCE at write time: both tables are
hash-partitioned into the same number of buckets on the join key and each
bucket is sorted, so a later join reads matching buckets pairwise —
SortMergeJoin with NO Exchange on either side (verified by plan assertion
in tests/test_bucketing.py). The same property removes the shuffle from
groupBy on the bucket key.

Bucketed data lives in the session catalog (``saveAsTable`` — plain
``.parquet(path)`` cannot carry bucket metadata). Bucket count is a layout
decision: aim for buckets of 100-500 MB at target scale, and keep it equal
across tables you intend to join.
"""

from __future__ import annotations

import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame, table: str, bucket_cols: list[str], n_buckets: int
) -> DataFrame:
    """Write ``df`` as a bucketed (and bucket-sorted) managed parquet table,
    replacing any table of that name, and return the table."""
    spark = df.sparkSession
    # Table names are deterministic, so a previous SESSION may have left its
    # warehouse directory behind while this session's in-memory catalog has
    # never heard of the table — saveAsTable then refuses with
    # LOCATION_ALREADY_EXISTS. Drop the catalog entry AND any orphaned
    # location (local-mode warehouse is a file: path; with a real metastore
    # the DROP alone is sufficient and the rmtree is a no-op).
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if warehouse.startswith("file:"):
        shutil.rmtree(f"{urlparse(warehouse).path}/{table}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )
    return spark.table(table)

