"""Output checks for the benchmark's untimed passes.

Every check takes the op's collected pandas result and raises
``CheckFailed`` when it is wrong. Oracle-checked entries are compared with
their DuckDB twin under the external checker's canonicalization
(``tools/driver_mirror.canon``: sorted columns, 6dp floats, whole-frame
sort). Entries without an oracle report a canonical hash of that same form,
so a parent and a change can be compared.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from tools.driver_mirror import canon


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def canonical_hash(df: pd.DataFrame) -> str:
    return hashlib.sha1(canon(df).to_csv(index=False).encode()).hexdigest()[:16]


def oracle_match(got: pd.DataFrame, want: pd.DataFrame) -> None:
    g, w = canon(got), canon(want)
    _require(list(g.columns) == list(w.columns), f"columns {list(g.columns)} vs {list(w.columns)}")
    _require(len(g) == len(w), f"row count {len(g)} vs oracle {len(w)}")
    _require(g.equals(w), f"{int((g != w).any(axis=1).sum())} rows differ from the oracle")


def w1_neighbours(df: pd.DataFrame, query_users: list[int], k: int) -> None:
    """k neighbours per (query, vectorizer), never the query itself, ranks
    1..k, ``sim`` non-increasing and equal ``sim`` ordered by higher id."""
    expected = {(q, v) for q in query_users for v in ("tfidf", "cv")}
    groups = dict(tuple(df.groupby(["query_id", "vectorizer"])))
    _require(set(groups) == expected, f"{len(groups)} (query, vectorizer) groups, want {len(expected)}")
    for (q, _), g in groups.items():
        g = g.sort_values("rn")
        _require(list(g["rn"]) == list(range(1, k + 1)), f"ranks {list(g['rn'])} for query {q}")
        _require(not (g["neighbor_id"] == q).any(), f"query {q} is its own neighbour")
        sims, ids = list(g["sim"]), list(g["neighbor_id"])
        for i in range(k - 1):
            _require(sims[i] >= sims[i + 1], f"sim increases at rank {i + 2} for query {q}")
            if sims[i] == sims[i + 1]:
                _require(ids[i] > ids[i + 1], f"tie at rank {i + 2} for query {q} not broken by higher id")


def w2_recommendations(df: pd.DataFrame, mention_ids: set[int], n_users: int, k: int) -> None:
    """Every mentioning user gets ranks 1..k, finite non-increasing
    ratings, and items drawn from the mention set."""
    _require(df["user_id"].nunique() == n_users, f"{df['user_id'].nunique()} users, want {n_users}")
    _require(set(df["rec_item_id"]) <= mention_ids, "recommended item outside the mention set")
    _require(all(math.isfinite(r) for r in df["rating"]), "non-finite rating")
    for u, g in df.groupby("user_id"):
        g = g.sort_values("rec_rank")
        _require(list(g["rec_rank"]) == list(range(1, k + 1)), f"ranks {list(g['rec_rank'])} for user {u}")
        r = list(g["rating"])
        _require(all(r[i] >= r[i + 1] for i in range(k - 1)), f"rating increases for user {u}")


def each_event_once(df: pd.DataFrame, n_events: int) -> None:
    """Streaming dedup output: every event id exactly once."""
    _require(len(df) == n_events, f"{len(df)} event ids, want {n_events}")
    _require(bool((df["n_copies"] == 1).all()), "an event id survived dedup twice")
