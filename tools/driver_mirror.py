#!/usr/bin/env python
"""Mirror of the external correctness gate, run locally before a snapshot.

The external harness constructs a VANILLA ``SparkSession.builder
.getOrCreate()`` — none of the confs in ``session.get_spark`` exist there —
then, per registry query, runs the Spark recipe and (where an oracle is
declared) the DuckDB SQL, canonicalizes both sides with a pandas
``sort_values`` over every column, and compares row count / schema / 6dp
value hash. Two past failure classes motivated this mirror:

1. "works under get_spark only" — a conf set in the builder (e.g. the
   parquet nanos flag) silently fixed the repo's own sessions while every
   externally-built session kept failing;
2. non-scalar output columns — pandas cannot sort/hash ``array<...>``
   cells, so a query can be value-correct yet unscorable.

This script fails on BOTH: every query runs on a vanilla session, every
output column is checked to be pandas-sortable, and oracle queries are
value-compared. Exit 0 = all registered queries pass the gate shape.

Usage::

    python tools/driver_mirror.py [--sf-dir /root/testdata/sf0.01] \
        [--only name ...] [--skip-slow]

``--skip-slow`` drops the streaming/ML/ANN entries (several minutes of
micro-batch replays) for a fast relational sweep.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: Streaming replays / iterative ML — minutes, not seconds, per query.
SLOW = {
    "q_w1_user_similarity",
    "q_w2_als_recommend",
    "q_stream_window_counts",
    "q_stream_sliding",
    "q_stream_join",
    "q_stream_dedup",
    "q_stream_session",
    "q_stream_stateful",
    "q_ml_quality_clf",
    "q_ns_ann_ivf",
    "q_ns_ann_pq",
    "q_ns_dedup_minhash",
    "q_xc_semantic_dedup",
}


def canon(df):
    """The external checker's canonicalization: column-name sort, 6dp float
    rounding, whole-frame sort_values. Raises TypeError on unhashable
    (non-scalar) cells — exactly the failure we want to surface early."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == float:
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True).astype(str)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--skip-slow", action="store_true")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    from pyspark_mllib_twitter_spark.plans import REGISTRY
    from pyspark_mllib_twitter_spark.plans.registry import base_name
    from pyspark_mllib_twitter_spark.sources.io import FIXTURE_TABLES

    # Vanilla on purpose — do NOT route through session.get_spark. Only the
    # master/parallelism knobs a harness would also set, no repo confs.
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    names = sorted(REGISTRY)
    if args.only:
        only = set(args.only)
        names = [n for n in names if n in only or base_name(n) in only]
    if args.skip_slow:
        names = [n for n in names if base_name(n) not in SLOW]

    # Harness hygiene between queries (NOT a session conf — the session
    # stays vanilla): a full-registry sweep accumulates cached RDDs,
    # memory-sink views, and dead broadcasts that a default-heap vanilla
    # driver cannot absorb for 380+ queries — round 11 measured a
    # Java-heap OOM at query ~377 (the pair-heavy Theil-Sen) that then
    # failed the 11 queries behind it on a dead gateway. Reuse bench's
    # _reset_session_state (same measured rationale, incl. the forced
    # driver GC after each sweep) rather than re-implementing it here.
    from bench import _reset_session_state as reset_session

    failures: list[str] = []
    for name in names:
        spec = REGISTRY[name]
        t0 = time.perf_counter()
        try:
            sdf = canon(spec.spark(spark, args.sf_dir).toPandas())
            if spec.oracle is None:
                status = f"rows-only ({len(sdf)} rows)"
            else:
                odf = canon(con.execute(spec.oracle).df())
                if list(sdf.columns) != list(odf.columns):
                    raise AssertionError(
                        f"schema mismatch: {list(sdf.columns)} vs {list(odf.columns)}"
                    )
                if len(sdf) != len(odf):
                    raise AssertionError(f"row count {len(sdf)} vs {len(odf)}")
                if not sdf.equals(odf):
                    diff = (sdf != odf).any(axis=1)
                    raise AssertionError(
                        f"value mismatch on {int(diff.sum())} rows; first:\n"
                        f"spark={sdf[diff].head(2).to_dict('records')}\n"
                        f"oracle={odf[diff].head(2).to_dict('records')}"
                    )
                status = f"MATCH ({len(sdf)} rows)"
        except Exception:
            failures.append(name)
            print(f"FAIL {name}\n{traceback.format_exc()}", flush=True)
            reset_session(spark)
            continue
        reset_session(spark)
        base = base_name(name)
        alias = f" ({base})" if base != name else ""
        print(
            f"ok   {name}{alias}: {status} [{time.perf_counter() - t0:.1f}s]",
            flush=True,
        )

    print(f"\n{len(names) - len(failures)}/{len(names)} passed", flush=True)
    if failures:
        print("failed:", ", ".join(failures), flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
