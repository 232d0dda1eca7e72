#!/usr/bin/env python
"""Bench harness — times every registry query and prints ONE JSON line.

Contract (BASELINE.md): run the declared query suite at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``; per-query seconds are the median of
``--runs`` warm runs (default 2, after 1 untimed warm-up of the session);
output is a single JSON line::

    {"metric": "suite_seconds", "value": <total>, "unit": "sec",
     "queries": {"q_a1_collect_list": 0.41, ...}, "sf": 0.1}

Timing is wall-clock around a full plan execution. Queries are *executed*
via a cheap but complete action (``df.foreach(noop)``-equivalent
``count()`` on the already-ordered result would skip column evaluation, so
we use ``df.write.format("noop")`` — Spark's measurement sink: every row is
fully computed and serialized, nothing is collected to the driver).

Heavy ML/iterative entries (ALS, MinHash label propagation) run once
instead of ``--runs`` times — flagged in ``--verbose`` output; medians of
one run are that run.

METHODOLOGY NOTE for cross-round comparisons: since round 6 the harness
forces one driver-JVM GC every 10 queries (see ``_reset_session_state``)
to keep ContextCleaner current; suite totals from rounds <= 5 were
measured without it and are not directly comparable. Independently,
identical back-to-back suite runs vary ±50% from GC timing alone —
``--only <q> --runs 3`` is the authoritative per-query instrument.
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

#: Queries that fit ALS / run iterative jobs — timed with a single run so the
#: whole suite stays within the driver's per-round budget.
SINGLE_RUN = {
    "q_w1_user_similarity",
    "q_w2_als_recommend",
    "q_ns_dedup_minhash",
    "q_ns_emb_neardup",
    "q_ns_minhash_dedup_e2e",
    "q_x6_cc_clusters",
    "q_xc_semantic_dedup",
    "q_ns_ann_ivf",
    "q_ns_ann_pq",
    "q_ns_ann_ivfpq",
    "q_ns_ann_ivfpq_idx",
    "q_ml_quality_clf",
    "q_ml_kmeans",
    "q_ml_tuning",
    "q_stream_window_counts",
    "q_stream_session",
    "q_stream_dedup",
    "q_stream_sliding",
    "q_stream_stateful",
    "q_stream_join",
    "q_stream_join_outer",
    "q_stream_static_join",
    "q_stream_foreach_sink",
    "q_stream_state_reader",
    "q_stream_ohlc",
    "q_stream_dedup_lake",
    "q_stream_attribution",
    "q_s3_pystream",
    "q_s5_pystream_sink",
    "q_stream_topk",
    "q_stream_hll",
    "q_stream_kmv",
    "q_stream_lateness",
    "q_stream_tdigest",
    "q_stream_tws",
    "q_stream_tws_timers",
    "q_stream_minhash_delta",
    "q_ml_fpgrowth",
    "q_ml_word2vec",
    "q_yc_bfs_sssp",
    "q_yd_bpe_train",
    "q_xl2_pagerank_converged",
    "q_yr_setsim_prefix_join",
}

#: Heavy batch entries whose in-suite numbers historically swing 2-3.4x from
#: suite-position/GC noise (r10 driver detail: q_yr 38.5s in-suite vs 17.2s
#: solo --runs 3, code unchanged). Each runs in a leading quiet slot (see
#: _suite_order) with ONE untimed warm-up execution, then a forced
#: driver-JVM GC (collecting the warm-up's own dead broadcasts), then the
#: single timed run — the same steady state the solo instrument measures
#: (round-10 verdict task #3). Suite cost is neutral: these were already
#: 1-2 runs; warm-up + 1 timed ~= the old 2 timed.
WARMED_SINGLE_RUN = {
    "q_yr_setsim_prefix_join",
    "q_bf_itemcf",
    "q_b3_containment_join",
    "q_dg_price_index",
    "q_dd_silhouette",
    # 3 in-suite spikes across 5 rounds (r7 15.3s, r9 25.2s, r11 21.6s) vs
    # 3.2s solo --runs 3 on unchanged code — a pattern, not noise to keep
    # re-triaging (round-11 verdict task #2a).
    "q_ns_emb_neardup",
}


#: MLlib-estimator / ANN entries (iterative JVM-heavy fits: Breeze + codegen
#: heavy paths). Across three same-tree full runs (r13: builder gate 723.3s,
#: builder rerun 876.3s, driver 1006.0s) these were the biggest movers —
#: q_ml_tuning 5.7->16.4, q_ml_kmeans 8.9->16.1, q_ns_ann_ivf 3.5->11.5,
#: q_ns_ann_ivfpq 4.6->12.5, q_ns_ann_ivfpq_idx 5.3->12.0 on UNTOUCHED code,
#: while solo receipts stayed flat — the late-suite heap/GC-debris tax
#: hitting whichever JVM-heavy entries run after ~150 queries of block
#: accumulation. Structural fix (round-13 verdict task 2b, the quiet-slot
#: recipe that already pinned the WARMED_SINGLE_RUN five): run the whole
#: block EARLY — right after the warmed block, before the heap fills —
#: with one forced GC ahead of each entry (the gc_before protocol, part of
#: the solo instrument since round 6). Suite mode only; --only keeps the
#: historical solo protocol. A/B receipt in BENCHNOTES round 14.
ML_ANN_QUIET = {
    "q_ml_kmeans",
    "q_ml_tuning",
    "q_ml_quality_clf",
    "q_ml_fpgrowth",
    "q_ml_word2vec",
    "q_ns_ann_lsh",
    "q_ns_ann_ivf",
    "q_ns_ann_pq",
    "q_ns_ann_ivfpq",
    "q_ns_ann_ivfpq_idx",
    "q_w1_user_similarity",
    "q_w2_als_recommend",
}


def _suite_order(names: list[str], base_name) -> list[str]:
    """Warmed heavy entries first (sorted), then the ML/ANN quiet block
    (sorted), then the batch block (sorted), streaming entries last
    (sorted).

    Plain ``sorted(REGISTRY)`` interleaves the streaming block into the
    middle of the batch alphabet (q_stream_* sorts before q_udf/q_w/q_x/
    q_y/q_z), so every heavy batch entry after 's' ran with RocksDB state
    stores, micro-batch threads, and memory-sink residue on the heap —
    the main source of the 2-3.4x in-suite swings on q_yr/q_bf/q_b3
    (round-10 verdict task #3). Streaming last keeps the batch numbers
    clean and the streaming numbers unchanged (they are protocol-bound,
    not heap-bound). The WARMED_SINGLE_RUN entries additionally run
    FIRST, on a quiet post-warm-up heap: measured round 11, warm-up +
    GC alone left q_b3_containment_join at 35s in its alphabetical slot
    (behind the iterative/applyInPandas heavies) vs 11.7-14.5s solo —
    a quiet deterministic slot is the fix the in-place GC isn't."""

    def is_streaming(n: str) -> bool:
        b = base_name(n)
        return b.startswith("q_stream_") or b in ("q_s3_pystream", "q_s5_pystream_sink")

    def is_warmed(n: str) -> bool:
        return base_name(n) in WARMED_SINGLE_RUN

    def warmed_key(n: str) -> tuple[int, str]:
        # q_b3_containment_join is the heaviest warmed entry and the one
        # still reading 1.3-1.7x solo in the r11 driver run; it sorts FIRST
        # alphabetically so it was paying the freshest-JVM slot. Run it
        # last among the warmed block, after the lighter entries have
        # settled codegen/broadcast paths (round-11 verdict task #6).
        return (1 if base_name(n) == "q_b3_containment_join" else 0, n)

    def is_quiet_ml(n: str) -> bool:
        return base_name(n) in ML_ANN_QUIET

    return (
        sorted([n for n in names if is_warmed(n)], key=warmed_key)
        + [n for n in names if is_quiet_ml(n) and not is_warmed(n)]
        + [
            n
            for n in names
            if not is_warmed(n) and not is_streaming(n) and not is_quiet_ml(n)
        ]
        + [n for n in names if is_streaming(n) and not is_quiet_ml(n)]
    )


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _cpu_ticks() -> dict[str, int] | None:
    """Aggregate /proc/stat cpu ticks — the run's WEATHER instrument.

    r14 finding: identical trees measured 723/876/1006/1020s across four
    full runs, and a mid-run spot check caught 2-4% CPU STEAL (shared
    virtualization host) alongside 5-10x inflation on the iterative
    entries — the suite spread is substantially infrastructure weather,
    not engine or JVM state. Recording the steal/busy tick deltas with
    every run makes cross-run comparisons attributable: a high-steal
    sample indicts the host, a clean one the code."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts and parts[0] == "cpu":
            keys = (
                "user", "nice", "system", "idle", "iowait",
                "irq", "softirq", "steal",
            )
            return dict(zip(keys, (int(x) for x in parts[1:9])))
    except (OSError, ValueError):
        pass
    return None


def _execute(df) -> None:
    """Force full computation of every row/column without driver collect."""
    df.write.format("noop").mode("overwrite").save()


def _reset_session_state(spark) -> None:
    """Return the session to a cold-cache state between timed queries.

    ``clearCache()`` alone is not enough: MLlib (ALS) and workload code
    persist RDDs that the catalog doesn't track, and leftover blocks create
    heap pressure that GC-thrashes later queries (measured: ALS 9s isolated
    vs 53s after the full suite ran before it). Streaming queries are
    stopped defensively — availableNow runs terminate themselves, but a
    failed one must not keep a micro-batch thread alive into the next
    timing."""
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
    # is dropped; a full suite accumulates dozens. (No per-query System.gc()
    # — measured: ~73 full GCs on a 16g heap cost more than they save.)
    for table in spark.catalog.listTables():
        if table.isTemporary and table.name.startswith("mem_"):
            spark.catalog.dropTempView(table.name)
    # AMORTIZED full GC: ContextCleaner only releases dead broadcasts /
    # shuffle state when the driver JVM actually collects, and a 64g heap
    # goes a long time between full GCs — by query ~120 of a 160+-query
    # suite the block manager is thrashing (measured: q_ns_dedup_minhash
    # 11.7s isolated vs 77s late-suite). One forced GC every 10 queries
    # keeps the cleaner current at ~17 collections per full run.
    _reset_session_state.calls = getattr(_reset_session_state, "calls", 0) + 1
    if _reset_session_state.calls % 10 == 0:
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass


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

    spark = get_spark("bench")
    sf_dir = args.sf_dir

    names = _suite_order(sorted(REGISTRY), base_name)
    if args.only:
        only = set(args.only)
        names = [n for n in names if n in only or base_name(n) in only]

    # Session warm-up cost is timed into `session_warmup_seconds` (detail
    # JSON) so suite_seconds + warmup_seconds + session_warmup_seconds
    # decompose the wall clock (r14 advice #3: this block used to be
    # reported in no field at all).
    session_warmup_t0 = time.perf_counter()
    # Session warm-up: JVM/codegen/parquet-footer caches, one tiny query.
    _execute(REGISTRY["q_s1_scan"].spark(spark, sf_dir))
    # MLlib warm-up: the first estimator fit in a session pays ~4-5 s of JIT
    # (Breeze/netlib init, codegen for the fit paths). Without this, that
    # one-time cost lands on whichever MLlib query happens to run first and
    # its per-query number becomes an ordering artifact (measured: the same
    # query is 8-10 s first, 4 s steady-state).
    try:
        from pyspark_mllib_twitter_spark.workloads.w1_similarity import (
            vectorize_documents,
        )

        tiny = spark.createDataFrame(
            [(1, ["a", "b"]), (2, ["b", "c"])], ["user_id", "tokens"]
        )
        vectorize_documents(tiny, vocab_size=4, num_features=4).collect()
        # The CV/IDF fit above does NOT warm the KMeans / LogisticRegression
        # fit paths (different Breeze kernels + codegen): measured r14, the
        # first KMeans-fitting entry of a session pays 2-7x its steady-state
        # (q_ns_ann_ivfpq 79.8s cold-solo outlier vs 11.0s on the very next
        # fresh session, vs ~5s in-suite warm). Two tiny fits pin that JIT
        # cost here, in the untimed warm-up, instead of on whichever ML/ANN
        # entry runs first (same discipline as the existing estimator
        # warm-up line above).
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.linalg import Vectors

        vecs = spark.createDataFrame(
            [(Vectors.dense([0.0, 1.0]), 0.0), (Vectors.dense([1.0, 0.0]), 1.0)],
            ["features", "label"],
        )
        KMeans(k=2, seed=1, maxIter=1).fit(vecs)
        LogisticRegression(maxIter=1).fit(vecs)
        # Same one-time-JIT story for the other estimator families the
        # quiet block runs (ALS normal-equation solver, FP-tree mining,
        # Word2Vec skip-gram kernels): tiny fits, untimed, so the block's
        # first entries measure the operator, not Breeze/codegen warm-up
        # (r14 A/B: early-slot q_ml_kmeans read 9.7s cold vs 6.5s warm on
        # the same tree/box; session_warmup_seconds carries the cost).
        from pyspark.ml.fpm import FPGrowth
        from pyspark.ml.recommendation import ALS

        ALS(rank=2, maxIter=1, seed=0).fit(
            spark.createDataFrame(
                [(0, 0, 1.0), (0, 1, 2.0), (1, 0, 2.0), (1, 1, 1.0)],
                ["user", "item", "rating"],
            )
        )
        FPGrowth(itemsCol="items", minSupport=0.5).fit(
            spark.createDataFrame([(0, ["a", "b"]), (1, ["a"])], ["id", "items"])
        )
        from pyspark.ml.feature import Word2Vec

        Word2Vec(
            vectorSize=4, minCount=0, maxIter=1, seed=0, inputCol="t", outputCol="v"
        ).fit(spark.createDataFrame([(["a", "b", "c"],), (["b", "c", "a"],)], ["t"]))
    except Exception:
        pass  # bench numbers still valid, just order-sensitive for MLlib
    finally:
        # reset even when a warm-up fit throws — a partial warm-up must not
        # leak persisted MLlib RDDs into the first timed query (same
        # discipline as the replay prewarm's finally below).
        _reset_session_state(spark)
    # Arrow/Python-worker warm-up: the first pandas-UDF/applyInPandas exec in
    # a session forks the python daemon + workers and initializes the Arrow
    # serializer (~1 s). Window renumbering decides which query runs first,
    # so without this the penalty lands on an arbitrary first-slot query and
    # reads as a regression (r3: q_j_asof; r4: q_x2/q_x7).
    try:
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        def _warm_fn(v):
            # Import the heavy scientific stack INSIDE the UDF: workers are
            # long-lived (spark.python.worker.reuse), so paying the numpy
            # import here — once per worker, 32 in parallel — means no later
            # Arrow-UDF query absorbs it into its own number.
            import numpy  # noqa: F401

            return v * 1.0

        # real annotation objects — module-level `from __future__ import
        # annotations` would stringify inline hints and break inference
        _warm_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
        _warm = pandas_udf(_warm_fn, "double")

        spark.range(32).select(_warm(F.col("id").cast("double"))).collect()
        # grouping expressions are NOT part of the input pdf — group on a
        # real column or the identity fn fails RESULT_COLUMN_NAMES_MISMATCH
        # (and the except-pass below silently skips this warm-up)
        spark.range(32).withColumn("g", F.col("id") % 4).groupBy("g").applyInPandas(
            lambda pdf: pdf, "id long, g long"
        ).collect()
    except Exception:
        pass  # bench numbers still valid, just order-sensitive for Arrow
    # Replay-dir warm-up: the micro-batch replay parquet chunks are a
    # disk-keyed one-time build (driver-side toPandas + ~10 writes, a few
    # seconds at sf0.1) — pre-build every config the streaming entries use
    # so whichever stream query runs FIRST doesn't absorb the replayer's
    # cost into its own number.
    try:
        from pyspark_mllib_twitter_spark.plans.streaming_queries import _replay_dir

        # The TWS pair replays (late_fraction_pct=0, n_batches=2) — the
        # cache dir is keyed on ALL kwargs incl. n_batches, so the plain
        # late_fraction_pct=0 build does NOT cover it, and the r11 window
        # prefix sorts q_stream_tws first in the streaming tail where it
        # would absorb the build into its single timed run.
        for kwargs in (
            {},
            {"duplicate_every": 20},
            {"late_fraction_pct": 0},
            {"late_fraction_pct": 0, "n_batches": 2},
        ):
            _replay_dir(spark, sf_dir, **kwargs)
        # The document-batch replay used by the streaming MinHash probe —
        # same one-time disk-keyed build, same reason to pre-pay it.
        from pyspark_mllib_twitter_spark.plans.streaming_queries import (
            _delta_docs_replay_dir,
        )

        _delta_docs_replay_dir(spark, sf_dir)
    except Exception:
        pass
    finally:
        # ALWAYS reset before the timed loop: a prewarm failure must not
        # leak cached/persisted state into the first timed query (r13
        # advice — the reset used to sit inside the try, so any replay
        # exception skipped it entirely).
        _reset_session_state(spark)

    # Iterative/chained-job entries are the most GC-position-sensitive: a
    # late-suite ContextCleaner backlog turns their many short jobs into
    # pause-dominated runs (measured: q_x6_cc_clusters 9.5s solo vs 45.8s at
    # position ~150 of the 192-query suite; with this pre-GC the next full
    # run put it back under 7.6s). One forced GC immediately before each
    # such entry pins its number to the operator, not the heap.
    gc_before = {
        "q_x6_cc_clusters",
        "q_ns_minhash_dedup_e2e",
        "q_yc_bfs_sssp",
        "q_yd_bpe_train",
        "q_xl2_pagerank_converged",
        "q_w2_als_recommend",
    }

    session_warmup_seconds = time.perf_counter() - session_warmup_t0

    ticks0 = _cpu_ticks()
    per_query: dict[str, float] = {}
    failures: dict[str, str] = {}
    streaming_stats: dict[str, dict] = {}
    iterate_rounds: dict[str, list] = {}
    query_weather: dict[str, dict] = {}
    warmup_seconds = 0.0
    streaming_boundary_done = False

    def is_streaming_entry(n: str) -> bool:
        b = base_name(n)
        return b.startswith("q_stream_") or b in ("q_s3_pystream", "q_s5_pystream_sink")

    for name in names:
        spec = REGISTRY[name]
        # WARMED warm-ups apply to SUITE runs only: under --only the
        # instrument is the historical solo protocol (no untimed warm-up,
        # SINGLE_RUN honored, median of --runs) so solo numbers stay
        # comparable across rounds (round-11 advice — r11 briefly let
        # --only override both). The gc_before pre-GC is NOT suite-gated:
        # it has been part of the solo protocol since round 6.
        warmed = base_name(name) in WARMED_SINGLE_RUN and not args.only
        # Quiet-block GC (suite mode only): the ML/ANN entries run early by
        # _suite_order; one forced GC ahead of each pins their numbers to
        # the fit/probe, not whatever the previous entry left on the heap.
        # Solo (--only) keeps the r12+ protocol so receipts stay comparable.
        quiet_gc = not args.only and base_name(name) in ML_ANN_QUIET
        if quiet_gc:
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        if not warmed and not quiet_gc and base_name(name) in gc_before:
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        # Batch -> streaming boundary (suite mode): the heap carries ~380
        # batch queries of debris here, and the FIRST TWS entry additionally
        # pays one-time RocksDB/Arrow/protobuf state-server init — r11
        # driver read 37.3s net_of_replay on q_stream_tws with FLAT
        # trigger_s. One forced GC + one untimed execution of the first TWS
        # entry pins the timed numbers to the operators (r11 verdict #2c).
        if not args.only and not streaming_boundary_done and is_streaming_entry(name):
            streaming_boundary_done = True
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            first_tws = next(
                (
                    n
                    for n in names
                    if base_name(n) in ("q_stream_tws", "q_stream_tws_timers")
                ),
                None,
            )
            if first_tws is not None:
                t0 = time.perf_counter()
                try:
                    _execute(REGISTRY[first_tws].spark(spark, sf_dir))
                except Exception:
                    pass  # the timed run will report the failure properly
                warmup_seconds += time.perf_counter() - t0
                _reset_session_state(spark)
        runs = 1 if (warmed or base_name(name) in SINGLE_RUN) else args.runs
        samples = []
        q_ticks0 = _cpu_ticks()
        try:
            if warmed:
                # Untimed steady-state run, then a forced GC so the timed
                # run doesn't pay to collect the warm-up's own dead
                # broadcasts/shuffle state (q_b3 read 43s in-suite with the
                # GC before the warm-up; see WARMED_SINGLE_RUN).
                t0 = time.perf_counter()
                _execute(spec.spark(spark, sf_dir))
                warmup_seconds += time.perf_counter() - t0
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:
                    pass
            for _ in range(runs):
                ITERATE_ROUNDS.clear()  # keep the last run's rounds only
                t0 = time.perf_counter()
                _execute(spec.spark(spark, sf_dir))
                samples.append(time.perf_counter() - t0)
            if ITERATE_ROUNDS:
                iterate_rounds[name] = list(ITERATE_ROUNDS)
        except Exception as e:  # keep benching; a broken query is reported, not fatal
            failures[name] = f"{type(e).__name__}: {e}"
            if args.verbose:
                print(f"# FAIL {name}: {failures[name]}", file=sys.stderr)
            continue
        per_query[name] = round(statistics.median(samples), 3)
        # Per-entry weather for the heavies (r14 verdict task 7): a suite-
        # level steal_pct cannot tell WHICH entries a steal storm hit; the
        # per-entry tick delta (spanning the entry's warm-up + timed runs)
        # lets the next cross-round comparison discard individual
        # steal-window entries instead of whole runs.
        q_ticks1 = _cpu_ticks()
        if q_ticks0 and q_ticks1 and per_query[name] >= 5.0:
            qd = {k: q_ticks1[k] - q_ticks0[k] for k in q_ticks0}
            q_total = sum(qd.values())
            if q_total > 0:
                query_weather[name] = {
                    "steal_pct": round(100.0 * qd["steal"] / q_total, 2),
                    "busy_pct": round(
                        100.0 * (q_total - qd["idle"] - qd["iowait"] - qd["steal"]) / q_total, 2
                    ),
                }
        if base_name(name).startswith("q_stream_"):
            # Attribute replay-harness cadence vs data-plane work: the
            # non-addBatch part of each trigger (offset/plan/commit) is a
            # fixed per-batch cost of the replay, not of the operator.
            from pyspark_mllib_twitter_spark.streaming.streams import LAST_RUN_STATS

            if LAST_RUN_STATS:
                overhead = LAST_RUN_STATS["trigger_s"] - LAST_RUN_STATS["add_batch_s"]
                streaming_stats[name] = {
                    **LAST_RUN_STATS,
                    "net_of_replay_s": round(max(0.0, samples[-1] - overhead), 3),
                }
        if args.verbose:
            print(f"# {name}: {per_query[name]}s ({runs} run(s))", file=sys.stderr)
        _reset_session_state(spark)

    detail = {
        "metric": "suite_seconds",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": _sf_from_dir(sf_dir),
        # CHECK_WINDOW rotation renames public names each round; base names
        # are stable, so cross-round history joins on this map.
        "base_names": {n: base_name(n) for n in per_query if base_name(n) != n},
        # Untimed warm-up executions (WARMED_SINGLE_RUN + the first-TWS
        # boundary run) land in the suite WALL-CLOCK but in no per-query
        # number; this field makes suite_seconds + warmup_seconds decompose
        # round-over-round comparisons (r11 verdict #5 / advice #4). The
        # "warmed" list tags which per-query medians use the warmed
        # single-run protocol (suite mode only; --only never warms).
        "warmup_seconds": round(warmup_seconds, 3),
        # One-time session warm-up (tiny estimator fits, Arrow worker fork,
        # replay-dir prebuilds) — untimed by any per-query number; reported
        # so the wall clock decomposes (r14 advice #3).
        "session_warmup_seconds": round(session_warmup_seconds, 3),
        "warmed": sorted(
            n for n in per_query if base_name(n) in WARMED_SINGLE_RUN
        )
        if not args.only
        else [],
    }
    ticks1 = _cpu_ticks()
    if ticks0 and ticks1:
        d = {k: ticks1[k] - ticks0[k] for k in ticks0}
        total_ticks = sum(d.values())
        if total_ticks > 0:
            # Host-weather evidence for this sample (see _cpu_ticks): the
            # steal share is CPU the hypervisor never gave this guest —
            # wall-clock numbers from a high-steal run are not comparable
            # to a clean run's.
            detail["host_cpu"] = {
                "steal_pct": round(100.0 * d["steal"] / total_ticks, 2),
                "busy_pct": round(
                    100.0 * (total_ticks - d["idle"] - d["iowait"] - d["steal"]) / total_ticks, 2
                ),
            }
    if streaming_stats:
        detail["streaming"] = streaming_stats
    if iterate_rounds:
        # (round step, rounds run) per operators.iterate call of the entry
        detail["iterate_rounds"] = iterate_rounds
    if query_weather:
        # Weather per >=5s entry (r14 verdict task 7) — see _cpu_ticks.
        detail["host_cpu_per_query"] = query_weather
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
