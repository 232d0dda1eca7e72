#!/usr/bin/env python
"""Bench harness — times every registry query and prints ONE JSON line.

Contract (BASELINE.md): run the declared query suite at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``; output is a single JSON line::

    {"metric": "suite_seconds", "value": <total>, "unit": "sec",
     "queries": {"q_a1_collect_list": 0.41, ...}, "sf": 0.1}

One timing rule holds for every entry, in suite and ``--only`` mode alike:

1. reset the session (stop streams, drop caches, persisted RDDs and
   memory-sink views) and force one driver-JVM GC, outside the timed region;
2. run the entry ``--runs`` times and report the median. A run is
   wall-clock around a full plan execution into Spark's ``noop`` sink:
   every row and column is computed and nothing is collected to the driver;
3. record the host's steal and busy share over the entry's timed runs
   (``perfbench/host.py``) under ``host_cpu_per_query``; every run time,
   in order, goes under ``query_runs``; the classes Janino compiled during
   those runs go under ``codegen_compiles``.

Batch entries run first, then the streaming entries, each block sorted.
One-time session costs (JIT of the estimator fits, the Python/Arrow workers,
the stream replay dirs, the first streaming state-store init) are paid once
before the loop, untimed, and reported as ``session_warmup_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from perfbench import host  # noqa: E402


def is_streaming(spec) -> bool:
    """True for the micro-batch replay entries."""
    return spec.spark.__module__.endswith(".streaming_queries")


def _suite_order(registry) -> list[str]:
    """Batch entries first, then streaming entries, each block sorted: a
    streaming entry leaves state stores and micro-batch threads behind, so
    no batch entry runs after one."""
    return sorted(registry, key=lambda n: (is_streaming(registry[n]), n))


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _execute(df) -> None:
    """Force full computation of every row/column without driver collect."""
    df.write.format("noop").mode("overwrite").save()


def _weather(before: list[int]) -> dict:
    return {k: round(v, 2) for k, v in host.weather(before, host.cpu_times()).items()}


def _codegen_compiles(spark) -> int:
    """Generated classes compiled so far in this JVM (Spark's
    ``CodegenMetrics``); a class found in the codegen cache is not counted."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _metaspace_mb(spark) -> float:
    """JVM Metaspace in use, where the compiled generated classes live."""
    for pool in spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return round(pool.getUsage().getUsed() / 2**20, 1)
    return -1.0


def _reset_session_state(spark) -> None:
    """Return the session to a cold-cache state between entries.

    ``clearCache()`` alone is not enough: MLlib (ALS) and workload code
    persist RDDs that the catalog doesn't track, and leftover blocks create
    heap pressure that GC-thrashes later queries (measured: ALS 9s isolated
    vs 53s after the full suite ran before it). Streaming queries are
    stopped defensively — availableNow runs terminate themselves, but a
    failed one must not keep a micro-batch thread alive into the next
    entry. The closing driver-JVM GC lets the ContextCleaner release dead
    broadcasts and shuffle state now, not inside the next entry's timing."""
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:
            pass
    spark.catalog.clearCache()
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist()
    except Exception:
        pass  # py4j internals shifted — stale RDD blocks only cost memory
    # Streaming memory sinks pin their batches in the driver until the view
    # is dropped; a full suite accumulates dozens.
    for table in spark.catalog.listTables():
        if table.isTemporary and table.name.startswith("mem_"):
            spark.catalog.dropTempView(table.name)
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _warmup_failed(block: str, e: Exception) -> None:
    print(f"# session warm-up of {block} failed: {type(e).__name__}: {e}", file=sys.stderr)


def _warm_session(spark, sf_dir: str, streaming: bool) -> None:
    """Pay the session's one-time costs, so that none of them lands on
    whichever entry happens to run first. Each block is best-effort: a
    failed warm-up leaves the numbers valid, only order-sensitive."""
    from pyspark_mllib_twitter_spark.plans import REGISTRY

    # JVM/codegen/parquet-footer caches: one tiny query.
    _execute(REGISTRY["q_s1_scan"].spark(spark, sf_dir))
    # The first fit of each estimator family pays seconds of JIT (Breeze,
    # codegen for the fit paths): tiny fits of every family the suite uses.
    try:
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.feature import Word2Vec
        from pyspark.ml.fpm import FPGrowth
        from pyspark.ml.linalg import Vectors
        from pyspark.ml.recommendation import ALS

        from pyspark_mllib_twitter_spark.workloads.w1_similarity import (
            vectorize_documents,
        )

        tiny = spark.createDataFrame(
            [(1, ["a", "b"]), (2, ["b", "c"])], ["user_id", "tokens"]
        )
        vectorize_documents(tiny).collect()
        vecs = spark.createDataFrame(
            [(Vectors.dense([0.0, 1.0]), 0.0), (Vectors.dense([1.0, 0.0]), 1.0)],
            ["features", "label"],
        )
        KMeans(k=2, seed=1, maxIter=1).fit(vecs)
        LogisticRegression(maxIter=1).fit(vecs)
        ALS(rank=2, maxIter=1, seed=0).fit(
            spark.createDataFrame(
                [(0, 0, 1.0), (0, 1, 2.0), (1, 0, 2.0), (1, 1, 1.0)],
                ["user", "item", "rating"],
            )
        )
        FPGrowth(itemsCol="items", minSupport=0.5).fit(
            spark.createDataFrame([(0, ["a", "b"]), (1, ["a"])], ["id", "items"])
        )
        Word2Vec(
            vectorSize=4, minCount=0, maxIter=1, seed=0, inputCol="t", outputCol="v"
        ).fit(spark.createDataFrame([(["a", "b", "c"],), (["b", "c", "a"],)], ["t"]))
    except Exception as e:
        _warmup_failed("estimator fits", e)
    # The first pandas-UDF / applyInPandas exec forks the Python daemon and
    # workers and initializes the Arrow serializer.
    try:
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        def _warm_fn(v):
            # workers are reused, so each pays the numpy import here once
            import numpy  # noqa: F401

            return v * 1.0

        # real annotation objects — module-level `from __future__ import
        # annotations` would stringify inline hints and break inference
        _warm_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
        _warm = pandas_udf(_warm_fn, "double")

        spark.range(32).select(_warm(F.col("id").cast("double"))).collect()
        # grouping expressions are not part of the input pdf — group on a
        # real column or the identity fn fails RESULT_COLUMN_NAMES_MISMATCH
        spark.range(32).withColumn("g", F.col("id") % 4).groupBy("g").applyInPandas(
            lambda pdf: pdf, "id long, g long"
        ).collect()
    except Exception as e:
        _warmup_failed("Python workers", e)
    if not streaming:
        return
    # The replay dirs are a disk-keyed one-time build (driver-side toPandas
    # + parquet writes): build every config the streaming entries use. The
    # cache key covers all kwargs, so each config is listed.
    try:
        from pyspark_mllib_twitter_spark.plans.streaming_queries import (
            _delta_docs_replay_dir,
            _replay_dir,
        )

        for kwargs in (
            {},
            {"duplicate_every": 20},
            {"late_fraction_pct": 0},
            {"late_fraction_pct": 0, "n_batches": 2},
        ):
            _replay_dir(spark, sf_dir, **kwargs)
        _delta_docs_replay_dir(spark, sf_dir)
        # The first transformWithState stream pays the RocksDB, Arrow and
        # protobuf state-server init; not registered where TWS is gated off.
        if "q_stream_tws" in REGISTRY:
            _execute(REGISTRY["q_stream_tws"].spark(spark, sf_dir))
    except Exception as e:
        _warmup_failed("streaming", e)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2, help="timed runs per query (median)")
    ap.add_argument("--only", nargs="*", default=None, help="subset of query names")
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args()

    from pyspark_mllib_twitter_spark.operators.iterate import ROUNDS as ITERATE_ROUNDS
    from pyspark_mllib_twitter_spark.plans import REGISTRY
    from pyspark_mllib_twitter_spark.plans.registry import base_name
    from pyspark_mllib_twitter_spark.session import get_spark
    from pyspark_mllib_twitter_spark.streaming.streams import LAST_RUN_STATS

    spark = get_spark("bench")
    sf_dir = args.sf_dir

    names = _suite_order(REGISTRY)
    if args.only:
        only = set(args.only)
        names = [n for n in names if n in only or base_name(n) in only]

    session_warmup_t0 = time.perf_counter()
    _warm_session(spark, sf_dir, any(is_streaming(REGISTRY[n]) for n in names))
    session_warmup_seconds = time.perf_counter() - session_warmup_t0

    suite_cpu0 = host.cpu_times()
    per_query: dict[str, float] = {}
    query_runs: dict[str, list[float]] = {}
    failures: dict[str, str] = {}
    streaming_stats: dict[str, dict] = {}
    iterate_rounds: dict[str, list] = {}
    query_weather: dict[str, dict] = {}
    codegen_compiles: dict[str, int] = {}

    for name in names:
        spec = REGISTRY[name]
        _reset_session_state(spark)
        samples = []
        cpu0 = host.cpu_times()
        compiles0 = _codegen_compiles(spark)
        try:
            for _ in range(args.runs):
                # keep the last run's reports only
                ITERATE_ROUNDS.clear()
                LAST_RUN_STATS.clear()
                t0 = time.perf_counter()
                _execute(spec.spark(spark, sf_dir))
                samples.append(time.perf_counter() - t0)
        except Exception as e:  # keep benching; a broken query is reported, not fatal
            failures[name] = f"{type(e).__name__}: {e}"
            if args.verbose:
                print(f"# FAIL {name}: {failures[name]}", file=sys.stderr)
            continue
        per_query[name] = round(statistics.median(samples), 3)
        query_runs[name] = [round(s, 3) for s in samples]
        query_weather[name] = _weather(cpu0)
        codegen_compiles[name] = _codegen_compiles(spark) - compiles0
        if ITERATE_ROUNDS:
            iterate_rounds[name] = list(ITERATE_ROUNDS)
        if LAST_RUN_STATS:
            # The non-addBatch part of each trigger (offset/plan/commit) is
            # a fixed per-batch cost of the replay, not of the operator.
            overhead = LAST_RUN_STATS["trigger_s"] - LAST_RUN_STATS["add_batch_s"]
            streaming_stats[name] = {
                **LAST_RUN_STATS,
                "net_of_replay_s": round(max(0.0, samples[-1] - overhead), 3),
            }
        if args.verbose:
            print(
                f"# {name}: {per_query[name]}s runs={query_runs[name]} {query_weather[name]}",
                file=sys.stderr,
            )

    detail = {
        "metric": "suite_seconds",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        # every timed run in order (the first is the entry's cold run)
        "query_runs": query_runs,
        "sf": _sf_from_dir(sf_dir),
        # CHECK_WINDOW rotation renames public names; base names are stable,
        # so histories join on this map.
        "base_names": {n: base_name(n) for n in per_query if base_name(n) != n},
        # one-time session costs, in no per-query number (see _warm_session)
        "session_warmup_seconds": round(session_warmup_seconds, 3),
        # steal: CPU the hypervisor never gave this guest; busy excludes it
        "host_cpu": _weather(suite_cpu0),
        "host_cpu_per_query": query_weather,
        # Janino compiles per entry, over its timed runs
        "codegen_compiles": codegen_compiles,
        "jvm_metaspace_mb": _metaspace_mb(spark),
    }
    if streaming_stats:
        detail["streaming"] = streaming_stats
    if iterate_rounds:
        # (round step, rounds run) per operators.iterate call of the entry
        detail["iterate_rounds"] = iterate_rounds
    if failures:
        detail["failures"] = failures
    # Full per-query map: to a file and an EARLIER stdout line. The FINAL
    # line is a compact summary (<2 kB) because tail-capture harnesses keep
    # only the last ~2 kB of stdout — a single long line gets decapitated
    # from the front and becomes unparseable. Each run writes its own file,
    # named by core count and UTC time, so no run overwrites another.
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    detail_path = os.path.join(
        _REPO_DIR,
        f"bench_detail_{spark.sparkContext.defaultParallelism}c_{stamp}.json",
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        detail_path = None
    print(json.dumps(detail))
    summary = {
        "metric": "suite_seconds",
        "value": detail["value"],
        "unit": "sec",
        "sf": detail["sf"],
        "n_queries": len(per_query),
        "n_failures": len(failures),
        "detail_file": detail_path,
    }
    print(json.dumps(summary))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
