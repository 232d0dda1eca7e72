"""SparkSession factory.

The reference configures only the Kryo serializer
(``/root/reference/COMP5349_2.py:121``). The new engine pins the configs that
matter for correctness (UTC session timezone for oracle comparison, Arrow for
vectorized Python interop) and for scale (AQE with partition coalescing and
skew-join handling, shuffle partitions sized to the local core count; on a
real cluster these come from the submit config instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_ram() -> str:
    """Half of physical RAM as a JVM size string."""
    return f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2 >> 20}m"


def get_spark(
    app_name: str = "spark-twitter-engine",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]`` (default all cores). On a
    real cluster the master/executor topology comes from spark-submit and
    everything here remains valid.
    """
    # NOTE: protobuf fallback wiring is LAZY — only the TWS operator
    # constructors (streaming/streams.py tws_*) call ensure_protobuf();
    # workers of an already-running session get the shim via
    # sc.environment (_wire_worker_pythonpath). Session creation mutates
    # no environment (round-9 A/B measured ~15% Python-worker tax from
    # unconditional PYTHONPATH wiring here; see BENCHNOTES round 10).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    try:
        shuffle_partitions = max(int(cpus), 8)
    except ValueError:
        shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
        # runtime conversion to broadcast join — core of the 100 TB story.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas_udf / mapInPandas / toPandas — the only sanctioned
        # Python boundary (reference used pickled RDD rows instead).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics for the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) columns (events.ts) are not a Spark SQL
        # type; read them as raw nanosecond longs and let read_table convert
        # to a real timestamp (micros) — see sources/io.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Kryo kept for RDD-path parity with the reference
        # (COMP5349_2.py:121); Tungsten encoders dominate the DataFrame path.
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Default: half of physical RAM, so the heap never outgrows the
        # host (an oversized heap gets the JVM OOM-killed instead of
        # collected). The single-JVM local session holds every executor's
        # shuffle/broadcast blocks in ONE heap, and a 160+-query suite
        # accumulates them (ContextCleaner frees on GC only): on a 128 GiB
        # box the suite ran 423s at 32g with late-suite GC thrash and
        # 360s at 64g, the half-RAM value. SPARK_GRAFT_DRIVER_MEM wins.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _half_ram(),
        )
        # Whole-stage codegen emits one or more classes per query plan; a
        # 110-query suite fills the JVM's default code cache, after which
        # the JIT disables itself and iterative ML (ALS) runs interpreted
        # — measured 9s isolated vs 25s late in the suite at 240m, and
        # late-suite queries still ran 3-4x their isolated-warm time at
        # 512m (q_x5: 5.9s in-suite vs 1.4s warm isolated).
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes `size(arr) > 0 AND
        # isnotnull(arr)` above every explode/posexplode. For a STORED
        # array column that can prune rows at the scan; for the COMPUTED
        # arrays every text/minhash pipeline here explodes (tokenize →
        # ngram → array_distinct chains), the inferred predicate inlines
        # the whole expression tree and Catalyst then pushes it below the
        # scan-fanout exchange — the full shingle front re-evaluated,
        # INTERPRETED (lambda HOFs never reach codegen) and single-core at
        # the 1-partition scan, per enclosing subexpression (r15 measured:
        # a bare explode(grams)→groupBy over 5k docs ran 6.8s with the
        # rule, 0.8s without; q_b3_containment_join 13.0s → 3.2s,
        # q_yr_setsim_prefix_join 11.0s → 5.6s warm solo). Exclusion is
        # semantics-free: non-outer explode already emits nothing for
        # empty/null arrays, so the filter only ever pruned rows the
        # Generate would drop anyway. The r14 shingle fix removed the
        # same duplication for EXPLICIT filters; this closes the
        # optimizer-inferred instance (guide §4.4: stop the optimizer
        # duplicating expensive expressions). Plan-shape regression test:
        # tests/test_plan_shape.py::test_no_inferred_generate_filter_pushdown.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Stream checkpoints (offset/commit logs, state-store delta files)
        # go through the FileSystem-based manager rather than the default
        # FileContext one. Without native libhadoop, FileContext's
        # create/rename on the local file system shells out (`readlink`,
        # link-status lookups) for every file: on a 4-core host a 10-batch
        # dedup replay forked ~4.3k processes and spent most of its
        # trigger time in state-store commit. The FileSystem manager
        # writes a temp file and renames it, which is safe because every
        # checkpoint dir here has a single writer: no two queries ever run
        # against the same dir at once. Applies to every stream,
        # HDFS-backed and RocksDB state stores alike.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # NOT set: spark.cleaner.periodicGC.interval. Forcing frequent GC
        # to flush ContextCleaner-tracked broadcasts was measured WORSE —
        # the full-GC pauses land on whichever query is running (suite
        # 296s -> 322s, with +5-6s spikes on mid-suite queries). The
        # single-JVM suite tolerates block accumulation better than pauses.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
