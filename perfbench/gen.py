"""Seeded input generators for the benchmark.

Two input sets, both a pure function of the seed:

- ``write_tweets``: a tweets corpus in the FIXTURES.md section B shape,
  written as JSON lines for ``sources.io.read_tweets_jsonl``;
- ``write_tables``: the star schema plus ``events``, ``documents`` and
  ``embeddings`` that
  the registry entries read, in the column types and value domains of
  FIXTURES.md section A, one parquet file per table.

All randomness is drawn with numpy from one ``Generator`` per input set, so
the same seed gives byte-identical files and another seed gives other files.
``ensure_inputs`` caches the files per seed under the benchmark's work
directory, outside every timed region.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

#: Bump when the generated data changes, so stale caches are not reused.
GEN_VERSION = 2

#: Tweets corpus size. The paper-scale shape (200k tweets, 20k users) runs a
#: W1+W2 pass in about 25 s warm on 4 cores, longer than a benchmark run can
#: afford; this keeps the same ratios at a twentieth of the size.
N_TWEETS = 10_000
N_USERS = 1_000
N_TARGETS = 1_000
N_QUERY_USERS = 32

#: Scale of the star schema, in TPC-H scale-factor units (lineitem ~ 6M * sf).
TABLE_SF = 0.01

BASE_TWEET_ID = 1_000_000_000_000
BASE_USER_ID = 20_000_000
BASE_TARGET_ID = BASE_TWEET_ID + 500_000_000

TWEET_WORDS = (
    "spark catalyst shuffle broadcast window partition codegen arrow "
    "parquet stream state watermark join agg scan sink"
).split()
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")


def zipf_draw(rng: np.random.Generator, n: int, size: int, s: float = 1.0) -> np.ndarray:
    """``size`` indices in ``[0, n)`` with P(i) proportional to 1/(i+1)^s,
    over a seed-shuffled pool so the heavy indices differ per seed."""
    p = 1.0 / np.arange(1, n + 1) ** s
    ranks = rng.choice(n, size=size, p=p / p.sum())
    return rng.permutation(n)[ranks]


# ---------------------------------------------------------------------------
# Tweets (FIXTURES.md section B)
# ---------------------------------------------------------------------------


def tweet_columns(seed: int, n_tweets: int = N_TWEETS, n_users: int = N_USERS,
                  n_targets: int = N_TARGETS) -> dict[str, np.ndarray]:
    """Column arrays of the corpus. ``user_id`` uses -1 for null,
    ``replyto_id``/``retweet_id`` use 0 for null, ``n_mentions`` uses -1 for
    a null ``user_mentions`` and 0 for an empty one."""
    rng = np.random.default_rng([seed, 1])
    users = BASE_USER_ID + np.arange(n_users, dtype=np.int64)
    targets = BASE_TARGET_ID + np.arange(n_targets, dtype=np.int64)

    user_id = users[zipf_draw(rng, n_users, n_tweets, s=0.8)]
    user_id[rng.random(n_tweets) < 0.02] = -1  # ~2% null authors

    kind = rng.random(n_tweets)  # reply / retweet / neither, never both
    target = targets[zipf_draw(rng, n_targets, n_tweets)]
    replyto_id = np.where(kind < 0.35, target, 0)
    retweet_id = np.where((kind >= 0.35) & (kind < 0.70), target, 0)

    # None, [], 1..4 mentions; mention targets follow a Zipf over users.
    n_mentions = rng.choice(
        np.array([-1, 0, 1, 2, 3, 4]), size=n_tweets,
        p=np.array([8, 12, 40, 25, 10, 5]) / 100.0,
    )
    mentions = users[zipf_draw(rng, n_users, n_tweets * 4)].reshape(n_tweets, 4)

    n_words = rng.integers(3, 13, size=n_tweets)
    words = rng.integers(0, len(TWEET_WORDS), size=(n_tweets, 12))
    return {
        "id": BASE_TWEET_ID + np.arange(n_tweets, dtype=np.int64),
        "user_id": user_id,
        "replyto_id": replyto_id,
        "retweet_id": retweet_id,
        "n_mentions": n_mentions,
        "mentions": mentions,
        "n_words": n_words,
        "words": words,
    }


def tweet_lines(cols: dict[str, np.ndarray]) -> list[str]:
    """One JSON object per tweet, keys sorted, nulls written as ``null``."""
    vocab = np.array(TWEET_WORDS)
    lines = []
    for i in range(len(cols["id"])):
        n_m = int(cols["n_mentions"][i])
        if n_m < 0:
            mentions = None
        else:
            mentions = [
                {"id": int(m), "indices": [3 * j, 3 * j + 2]}
                for j, m in enumerate(cols["mentions"][i, :n_m])
            ]
        uid = int(cols["user_id"][i])
        rep = int(cols["replyto_id"][i])
        ret = int(cols["retweet_id"][i])
        row = {
            "id": int(cols["id"][i]),
            "replyto_id": rep or None,
            "retweet_id": ret or None,
            "text": " ".join(vocab[cols["words"][i, : cols["n_words"][i]]]),
            "user_id": uid if uid >= 0 else None,
            "user_mentions": mentions,
        }
        lines.append(json.dumps(row, separators=(",", ":")))
    return lines


def query_users(seed: int, cols: dict[str, np.ndarray], n: int = N_QUERY_USERS) -> list[int]:
    """W1 query users: seed-chosen authors that have at least one
    interaction, so each has a document and five neighbours exist."""
    interacting = (cols["replyto_id"] > 0) | (cols["retweet_id"] > 0)
    authors = np.unique(cols["user_id"][interacting & (cols["user_id"] >= 0)])
    rng = np.random.default_rng([seed, 2])
    return sorted(int(u) for u in rng.choice(authors, size=min(n, len(authors)), replace=False))


def mention_ids(cols: dict[str, np.ndarray]) -> set[int]:
    """Every mention target of a tweet with a non-null author: the item set
    W2 may recommend from."""
    has = (cols["n_mentions"] > 0) & (cols["user_id"] >= 0)
    keep = np.arange(4)[None, :] < cols["n_mentions"][:, None]
    return set(np.unique(cols["mentions"][has][keep[has]]).tolist())


def write_tweets(seed: int, path: str) -> dict:
    """Write the corpus to ``path`` (JSON lines); return the facts the
    output checks need."""
    cols = tweet_columns(seed)
    with open(path, "w") as f:
        f.write("\n".join(tweet_lines(cols)) + "\n")
    mentioners = np.unique(cols["user_id"][(cols["n_mentions"] > 0) & (cols["user_id"] >= 0)])
    return {
        "query_users": query_users(seed, cols),
        "mention_ids": sorted(mention_ids(cols)),
        "n_mention_users": int(len(mentioners)),
    }


# ---------------------------------------------------------------------------
# Star schema + events + documents (FIXTURES.md section A)
# ---------------------------------------------------------------------------


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, n_days, n).astype("timedelta64[D]")


def table_frames(seed: int, sf: float = TABLE_SF) -> dict:
    """All tables as pyarrow Tables, keyed by table name."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def names(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5), i32),
                            "r_name": pa.array(REGIONS, s)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array(names("Customer", n_cust), s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], s),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array(names("Supplier", n_supp), s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    retail = 900.0 + (np.arange(n_part) % 1000) / 10.0
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(retail, 2), f64),
    })
    order_date = _days(rng, "1995-01-01", 2400, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(order_date, ts),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], s),
    })
    lines_per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per_order)
    n_li = len(l_order)
    l_line = np.arange(n_li) - np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order) + 1
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(l_line, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * retail[l_part], 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(order_date[l_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]"), ts),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n_ev), 490.0) + 0.01, 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    })
    vocab = np.array(DOC_WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in rng.integers(10, 100, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):  # near-duplicates
        if i > 0:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts[i] = " ".join(src)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_doc)], s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    n_emb, dim = int(50_000 * sf), 64
    label = rng.integers(0, 10, n_emb)
    vec = rng.normal(size=(10, dim))[label] + 0.5 * rng.normal(size=(n_emb, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    return t


def write_tables(seed: int, out_dir: str) -> None:
    import pyarrow.parquet as pq

    for name, table in table_frames(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Per-seed cache
# ---------------------------------------------------------------------------

#: How many seeds' inputs stay cached; older ones are removed.
KEEP_SEEDS = 4


def ensure_inputs(work_dir: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs for ``seed``. Returns the input
    directory (``tweets.jsonl`` plus one parquet file per table) and the
    facts recorded with the tweets corpus."""
    root = os.path.join(work_dir, "inputs")
    final = os.path.join(root, f"v{GEN_VERSION}-seed{seed}")
    marker = os.path.join(final, "facts.json")
    if not os.path.exists(marker):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        facts = write_tweets(seed, os.path.join(tmp, "tweets.jsonl"))
        write_tables(seed, tmp)
        facts["n_events"] = int(1_000_000 * TABLE_SF)
        with open(os.path.join(tmp, "facts.json"), "w") as f:
            json.dump(facts, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    os.utime(final)
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime, reverse=True,
    )
    for stale in entries[KEEP_SEEDS:]:
        shutil.rmtree(stale, ignore_errors=True)
    with open(marker) as f:
        return final, json.load(f)
