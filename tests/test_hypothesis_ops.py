"""Randomized equivalence properties (hypothesis) for the custom join
operators: whatever intervals/points/timestamps are thrown at them, the
bin-recipe joins must equal the naive O(n*m) definitions and the as-of
join must equal its per-row Python specification. Catches the failure
class example-based tests miss: bin-boundary alignment, negative
coordinates, zero-width intervals, duplicate timestamps.

Examples are kept small (driver-local createDataFrame, two jobs each) so
the whole module stays in tens of seconds on local[32].
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark_mllib_twitter_spark.operators.asof import as_of_join
from pyspark_mllib_twitter_spark.operators.rangejoin import (
    interval_join,
    interval_overlap_join,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    pts=st.lists(st.integers(-50, 50), min_size=1, max_size=30),
    ivs=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 25)), min_size=1, max_size=8
    ),
    width=st.sampled_from([1.0, 3.0, 7.5, 40.0]),
)
def test_interval_join_equals_naive(spark, pts, ivs, width):
    points = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(pts)], "pid int, v double"
    )
    intervals = spark.createDataFrame(
        [(i, float(lo), float(lo + w)) for i, (lo, w) in enumerate(ivs)],
        "iv_id int, lo double, hi double",
    )
    got = sorted(
        (r.pid, r.iv_id)
        for r in interval_join(
            points, intervals, "v", "lo", "hi", bin_width=width
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, v in enumerate(pts)
        for j, (lo, w) in enumerate(ivs)
        if lo <= v <= lo + w
    )
    assert got == want


@settings(**_SETTINGS)
@given(
    a=st.lists(st.tuples(st.integers(-40, 40), st.integers(0, 20)), min_size=1, max_size=8),
    b=st.lists(st.tuples(st.integers(-40, 40), st.integers(0, 20)), min_size=1, max_size=8),
    width=st.sampled_from([1.0, 5.0, 16.0]),
)
def test_overlap_join_equals_naive(spark, a, b, width):
    left = spark.createDataFrame(
        [(i, float(lo), float(lo + w)) for i, (lo, w) in enumerate(a)],
        "a_id int, a_lo double, a_hi double",
    )
    right = spark.createDataFrame(
        [(i, float(lo), float(lo + w)) for i, (lo, w) in enumerate(b)],
        "b_id int, b_lo double, b_hi double",
    )
    got = sorted(
        (r.a_id, r.b_id)
        for r in interval_overlap_join(
            left, right, "a_lo", "a_hi", "b_lo", "b_hi", bin_width=width
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (alo, aw) in enumerate(a)
        for j, (blo, bw) in enumerate(b)
        if alo <= blo + bw and blo <= alo + aw
    )
    assert got == want


@settings(**_SETTINGS)
@given(
    probes=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=1, max_size=12),
    updates=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=1, max_size=12),
)
def test_as_of_join_equals_spec(spark, probes, updates):
    """as_of value = the right row with the LARGEST ts <= probe ts per key
    (ties on right ts broken by the larger payload, matching the
    operator's deterministic last-wins ordering)."""
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(probes)], "k int, t long, pid int"
    )
    right = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(updates)], "k int, t long, val int"
    )
    got = {
        r.pid: r.asof_val
        for r in as_of_join(
            left, right, on=["k"], left_ts="t", right_ts="t", payload_cols=["val"]
        ).collect()
    }
    want = {}
    for i, (k, t) in enumerate(probes):
        cands = [(rt, v) for v, (rk, rt) in enumerate(updates) if rk == k and rt <= t]
        want[i] = max(cands)[1] if cands else None
    assert got == want


_WORDS = ["alpha", "bravo", "cat", "dog", "echo", "fox", "golf", "hat"]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=12,
    ),
    n=st.sampled_from([1, 2, 3]),
)
def test_minhash_portable_equals_naive_on_candidates(spark, docs, n):
    """Randomized contract for the portable MinHash-LSH: against arbitrary
    tiny corpora (tiny vocab → heavy collisions, empty docs, duplicate
    docs), every emitted pair must carry the exact n-gram-set Jaccard of
    its documents and clear the threshold — i.e. LSH banding may only
    LOSE pairs relative to the naive all-pairs definition, never invent
    or mis-score one."""
    from pyspark_mllib_twitter_spark.operators.dedup import minhash_pairs_portable

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id int, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_pairs_portable(df, shingle_n=n, min_jaccard=0.4).collect()
    }

    def grams(t):
        toks = [w for w in t.lower().strip().split() if w]
        if n == 1:
            return set(toks)
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    gs = {i: grams(t) for i, t in enumerate(docs) if grams(t)}
    want = {}
    for a in gs:
        for b in gs:
            if a < b:
                j = len(gs[a] & gs[b]) / len(gs[a] | gs[b])
                if j >= 0.4:
                    want[(a, b)] = j
    assert set(got) <= set(want)
    for p, j in got.items():
        assert abs(j - want[p]) < 1e-9
    # identical documents always share every band key: zero-loss recall
    # on exact duplicates is a hard guarantee, not a probability
    for (a, b), j in want.items():
        if j == 1.0:
            assert (a, b) in got


@settings(**_SETTINGS)
@given(
    series=st.lists(
        st.tuples(
            st.integers(0, 3),            # user
            st.integers(0, 10_000_000),   # microsecond offset
            st.integers(-1000, 1000),     # value
        ),
        min_size=2,
        max_size=40,
    )
)
def test_time_weighted_avg_equals_spec(spark, series):
    """TWA over random irregular (possibly same-timestamp) series equals
    the per-row LOCF specification computed in Python."""
    import datetime as dt

    from pyspark_mllib_twitter_spark.plans.corpus_ops import time_weighted_avg

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, base + dt.timedelta(microseconds=off), float(v))
        for i, (u, off, v) in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    got = {
        r.user_id: (r.n_intervals, r.twa)
        for r in time_weighted_avg(df).collect()
    }

    expect = {}
    by_user = {}
    for i, u, ts, v in rows:
        # ordering key: (ts, event_id) — same collapsed-integer semantics
        by_user.setdefault(u, []).append((ts, i, v))
    for u, evs in by_user.items():
        evs.sort()
        num = den = 0.0
        n_iv = 0
        for (t0, _, v0), (t1, _, _) in zip(evs, evs[1:]):
            d = (t1 - t0).total_seconds() * 1e6
            num += v0 * d
            den += d
            n_iv += 1
        if n_iv:
            expect[u] = (n_iv, num / den if den > 0 else None)

    assert set(got) == set(expect)
    for u in got:
        assert got[u][0] == expect[u][0]
        if expect[u][1] is None:
            assert got[u][1] is None  # all-simultaneous: TWA undefined
        else:
            assert abs(got[u][1] - expect[u][1]) < 1e-9


@settings(**_SETTINGS)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=50,
    )
)
def test_zorder_matches_python_interleave(spark, pts):
    """The codegen'd Morton expression equals bit interleaving computed in
    Python, for arbitrary 8-bit coordinates (bijectivity follows)."""
    from pyspark_mllib_twitter_spark.plans.corpus_ops import ZBITS, _zorder
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "i int, x long, y long"
    )
    got = {
        r.i: r.z
        for r in df.select("i", _zorder(F.col("x"), F.col("y")).alias("z")).collect()
    }

    def interleave(x: int, y: int) -> int:
        z = 0
        for b in range(ZBITS):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for i, (x, y) in enumerate(pts):
        assert got[i] == interleave(x, y)


@settings(**_SETTINGS)
@given(
    baskets=st.lists(
        st.sets(st.integers(0, 9), min_size=1, max_size=5),
        min_size=4,
        max_size=25,
    )
)
def test_assoc_rule_math_equals_naive(spark, baskets):
    """Confidence/lift computed by the q_yh shape on arbitrary baskets
    equal the naive definitions (floor lowered to 1 so tiny random baskets
    still produce rules)."""
    import itertools

    import pyspark.sql.functions as F

    rows = [(bid, item) for bid, items in enumerate(baskets) for item in items]
    b = spark.createDataFrame(rows, "k long, item long").distinct()
    n_baskets = len(baskets)
    item_c = {}
    pair_c = {}
    for items in baskets:
        for it in items:
            item_c[it] = item_c.get(it, 0) + 1
        for x, y in itertools.permutations(items, 2):
            pair_c[(x, y)] = pair_c.get((x, y), 0) + 1

    b2 = b.select(F.col("k").alias("k2"), F.col("item").alias("y_item"))
    item_df = b.groupBy("item").agg(F.count("*").alias("c"))
    pair = (
        b.join(b2, (b.k == b2.k2) & (b.item != b2.y_item))
        .groupBy(F.col("item").alias("x"), F.col("y_item").alias("y"))
        .agg(F.count("*").alias("c_xy"))
    )
    ix = item_df.select(F.col("item").alias("x"), F.col("c").alias("c_x"))
    iy = item_df.select(F.col("item").alias("y"), F.col("c").alias("c_y"))
    out = (
        pair.join(ix, "x")
        .join(iy, "y")
        .select(
            "x",
            "y",
            "c_xy",
            (F.col("c_xy") / F.col("c_x")).alias("conf"),
            ((F.col("c_xy") / F.col("c_x")) / (F.col("c_y") / F.lit(n_baskets))).alias(
                "lift"
            ),
        )
        .collect()
    )
    got = {(r.x, r.y): (r.c_xy, r.conf, r.lift) for r in out}
    assert set(got) == set(pair_c)
    for (x, y), c in pair_c.items():
        c_got, conf, lift = got[(x, y)]
        assert c_got == c
        assert abs(conf - c / item_c[x]) < 1e-12
        assert abs(lift - (c / item_c[x]) / (item_c[y] / n_baskets)) < 1e-12


# ---------------------------------------------------------------------------
# Batch sessionization (q_dq) vs its per-event Python specification
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    # (user, minutes-offset) events; offsets cluster around the 30-min
    # boundary so exact-gap (==1800s must MERGE, >1800s must split),
    # duplicate-timestamp, and single-event cases all occur.
    ev=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 120)),
        min_size=1,
        max_size=40,
    ),
)
def test_sessionize_equals_python_spec(spark, tmp_path_factory, ev):
    """q_dq_sessionize == the per-event Python gap specification on
    arbitrary small event sets, including ties and exact-gap boundaries
    (a gap of exactly SESSION_GAP_US merges; strictly greater splits)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_mllib_twitter_spark.plans import REGISTRY
    from pyspark_mllib_twitter_spark.plans.behavior_ops import SESSION_GAP_US

    d = str(tmp_path_factory.mktemp("sess_sf"))
    base = 1_700_000_000_000_000  # epoch us
    rows = [
        (i, base + mins * 60_000_000, uid, "view", 0.0, None)
        for i, (uid, mins) in enumerate(ev)
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ),
        f"{d}/events.parquet",
    )

    got = {
        r.user_id: (r.n_sessions, r.n_events, r.max_events, r.avg_session_us)
        for r in REGISTRY["q_dq_sessionize"].spark(spark, d).collect()
    }

    by_user = {}
    for uid, mins in sorted(ev, key=lambda t: (t[0], t[1])):
        us = base + mins * 60_000_000
        sess = by_user.setdefault(uid, [])
        if sess and us - sess[-1][1] <= SESSION_GAP_US:
            s, l, n = sess[-1]
            sess[-1] = (s, max(l, us), n + 1)
        else:
            sess.append((us, us, 1))
    want = {
        uid: (
            len(ss),
            sum(n for _, _, n in ss),
            max(n for _, _, n in ss),
            round(sum(l - s for s, l, _ in ss) / len(ss), 6),
        )
        for uid, ss in by_user.items()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    xs=st.lists(st.integers(min_value=0, max_value=5), min_size=2, max_size=40)
)
def test_pettitt_midrank_identity_any_series(spark, xs):
    """q_ed's U_t identity — U_t = t(n+1) - sum of doubled midranks up to
    t — must equal the definitional double sum sgn(x_j - x_i) on ANY
    integer series, including heavy ties and constant runs (the value
    range [0,5] forces ties constantly). Pure column algebra, evaluated
    through the same Spark expressions the query uses."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n = len(xs)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(xs)], "t_idx long, v long"
    )
    by_t = Window.orderBy("t_idx")
    by_v = Window.orderBy("v")
    ranked = df.select(
        "t_idx",
        (F.row_number().over(by_t)).alias("t"),
        (
            2 * F.rank().over(by_v)
            + F.count("*").over(Window.partitionBy("v"))
            - 1
        ).alias("dr"),
    )
    got = {
        r["t"]: r["u"]
        for r in ranked.select(
            "t",
            (
                F.col("t") * (n + 1)
                - F.sum("dr").over(
                    by_t.rowsBetween(Window.unboundedPreceding, 0)
                )
            ).alias("u"),
        ).collect()
        if r["t"] < n
    }
    for t in range(1, n):
        expect = sum(
            (xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(t)
            for j in range(t, n)
        )
        assert got[t] == expect, (t, xs)
