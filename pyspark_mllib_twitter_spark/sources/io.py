"""Schema'd sources.

The reference reads ONE multiline JSON file with inferred schema
(``COMP5349_2.py:138``). That is a non-starter at 100 TB:
multiline JSON is unsplittable (one task parses the whole file) and schema
inference costs an extra full scan. The new engine declares explicit
``StructType`` schemas and reads splittable formats (JSONL, Parquet).
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: Tables materialized by the test-data generator (TESTDATA.md / FIXTURES.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Explicit schema for the tweets table — the fields the reference touches
#: (COMP5349_2.py:138,146,196) declared instead of inferred.
TWEETS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("replyto_id", T.LongType(), True),
        T.StructField("retweet_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField(
            "user_mentions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.LongType(), True),
                        T.StructField("indices", T.ArrayType(T.IntegerType()), True),
                    ]
                )
            ),
            True,
        ),
    ]
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → columnar, vectorized, with
    predicate pushdown and column pruning for free.

    ``events.ts`` handling depends on the file's physical type:

    - parquet TIMESTAMP(MICROS, ntz) (current fixture generator): read
      natively as ``timestamp_ntz`` — no projection, full pushdown, and the
      semantics match DuckDB's TIMESTAMP (which is wall-clock, no zone)
      exactly, with no dependence on the session/container time zone.
    - parquet TIMESTAMP(NANOS) (older generators): Spark has no native type;
      with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a
      nanosecond-epoch long and is converted to a microsecond timestamp
      (``ts DIV 1000`` — exact integer division, truncation matches DuckDB's
      CAST(ns AS TIMESTAMP)).

    The nanos conf is set HERE, at runtime, not only in ``session.get_spark``:
    it is a runtime-settable SQL conf, and setting it on the read path makes
    ``read_table`` work on ANY session — including externally-built vanilla
    ``SparkSession``s (e.g. a test harness that calls
    ``SparkSession.builder.getOrCreate()`` without our builder confs)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Legacy TIMESTAMP(NANOS) file surfaced as a long — convert once.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to session default parallelism — ONLY when
    the input plan yields fewer partitions than that.

    The local fixture tables arrive as ONE scan partition (single parquet
    file, single row group), which serializes every CPU-heavy downstream
    pipeline stage (tokenize/explode/ngram/codec) onto one core; the
    explicit exchange costs one small shuffle of the pruned input columns
    and unlocks full-core parallelism. At warehouse scale the same scan
    already splits across thousands of row groups, so the partition-count
    check makes this a NO-OP there — an unconditional repartition would
    force a pointless full shuffle of the corpus. Explicit numPartitions so
    AQE's partition coalescing (which targets ~64 MB partitions and would
    merge small-but-compute-heavy text right back onto one core) leaves the
    exchange alone. Catalyst still pushes filters and column pruning
    through the repartition to the scan.

    SCAN-ROOTED INPUTS ONLY: the ``df.rdd`` partition probe finalizes the
    physical plan, and that is side-effect-free only for exchange-free
    plans — under AQE, a plan with an upstream shuffle materializes query
    stages (i.e. RUNS JOBS) to resolve partitioning. Call this on a raw
    ``read_table``/scan DataFrame (optionally filtered/projected), never
    on the output of a join/groupBy/repartition."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str, sql: str) -> None:
    """Register, as temp views for ``spark.sql``, the fixture tables whose
    names appear as words in ``sql``. Each read runs one job, so a text that
    names two tables reads two, not all ten."""
    for name in FIXTURE_TABLES:
        if re.search(rf"\b{name}\b", sql):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run ``sql`` on Spark over the fixture tables it names."""
    register_views(spark, sf_dir, sql)
    return spark.sql(sql)


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``ddl``'s column order) as a frame
    whose plan leaf is a JVM ``LocalRelation``.

    ``createDataFrame`` of a Python list parallelizes pickled rows through a
    Python RDD, so every job that reads the frame starts Python workers. An
    Arrow table typed by ``ddl`` is handed to the JVM whole instead: no
    Python runs, and the schema is exactly ``ddl``'s (nullable columns).
    Empty ``rows`` give an empty frame of that schema."""
    schema = T.StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def read_tweets_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Splittable JSON-lines tweets source with declared schema.

    This is the scale path: line-delimited JSON splits into one task per
    HDFS/S3 block, and the declared schema skips the inference scan.
    """
    return spark.read.schema(TWEETS_SCHEMA).json(path)
