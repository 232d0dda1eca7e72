"""Query registry: every engine capability is declared here as a named query.

An entry is registered one of two ways:

- ``sql_query(name, sql)``: one SQL text serves both engines. The Spark
  recipe is ``sources.run_sql``, which registers the fixture tables the text
  names as temp views and runs it through ``spark.sql``; the DuckDB oracle
  runs the same text. Use it whenever the SQL is the whole recipe.
  The text must parse on DuckDB 1.0 and Spark 4.1 alike; these spellings
  are common to both:

  - day difference: ``CAST(CAST(b AS DATE) - CAST(a AS DATE) AS BIGINT)``,
    not ``date_diff('day', a, b)``;
  - integer division: ``CAST(floor(a / b) AS BIGINT)``, not ``a // b``
    (exact for non-negative integers below 2^53; a DOUBLE -> BIGINT cast
    alone rounds on DuckDB and truncates on Spark);
  - strings: ``STRING`` / ``::STRING``, not ``VARCHAR``;
  - quantiles: ``percentile_cont(q) WITHIN GROUP (ORDER BY x)`` and
    ``percentile_disc``, not ``quantile_cont(x, q)`` / ``quantile_disc``.
- ``@query(name, oracle=...)`` on a recipe ``(spark, sf_dir) -> DataFrame``:
  for entries whose Spark side claims more than the SQL (a physical plan
  shape, a Python data source, a stream, a UDF, an iterative operator).
  ``oracle`` is the DuckDB SQL, or None for a rows-only check.

The driver compares row count + schema + order-insensitive value hash, so
every computed column is aliased to the SAME name on both sides, floats are
left for the driver to round (6dp), and every query has a total ORDER BY.

Naming: registrations use stable descriptive *base* names (``q_j_asof``,
``q_stream_window_counts`` …). External checkers process the registry
alphabetically under a bounded budget (first 50 sorted names), so
``CHECK_WINDOW`` pins the 50 entries that most need a fresh external
correctness row: the registered public name becomes ``q_{idx:03d}_{base}``
for window members (digits sort before letters, so exactly the window lands
in the checked slots) while everything else keeps its base name. Rotating
the window is a one-list edit here (``python tools/ledger.py --window``
proposes one) — no registration or test changes. Lookup by base name always
resolves regardless of the current window.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..sources.io import run_sql

SparkQuery = Callable[[SparkSession, str], DataFrame]

# Base names (in prefix order) pinned into the externally-checked window this
# round. Must name registered entries; length <= 50 asserted at import.
CHECK_WINDOW: list[str] = [
    # -- stalest-evidence rotation (tools/ledger.py --window, r13): the 45
    # entries with the oldest last driver row --
    "q_xc_semantic_dedup",
    "q_ml_word2vec",
    "q_ml_quality_clf",
    "q_s2_pysource",
    "q_w7_range_frame",
    "q_w8_session_window",
    "q_udf_grouped_agg",
    "q_xn_funnel",
    "q_xo_cohort_retention",
    "q_xp_gapfill",
    "q_xq_editdist_join",
    "q_sql_recursive",
    "q_f_variant",
    "q_xt_profile",
    "q_xu_drift_psi",
    "q_sql_q10",
    "q_sql_q18",
    "q_f_try",
    "q_ns_minhash_portable",
    "q_ns_minhash_dedup_e2e",
    "q_xv_domain_quota",
    "q_xw_inverted_index",
    "q_xx_cms_heavy_hitters",
    "q_xy_emb_centroids",
    "q_xz_zorder_layout",
    "q_y1_rank_metrics",
    "q_y2_bpe_merge_step",
    "q_y3_pmi_cooccur",
    "q_y4_expectations",
    "q_y5_mix_temperature",
    "q_y6_equidepth_bins",
    "q_y7_time_weighted_avg",
    "q_y8_ohlc",
    "q_stream_ohlc",
    "q_stream_join_outer",
    "q_stream_static_join",
    "q_stream_foreach_sink",
    "q_stream_state_reader",
    "q_s3_pystream",
    "q_xe_cdc_chunks",
    "q_xf_chunk_dedup",
    "q_xg_chunk_dedup_bucketed",
    "q_xh_para_dedup",
    "q_xi_span_dedup",
    "q_xj_merge_upsert",
    # round-13 additions (cap <= 5), checked same-round:
    "q_ej_image_phash_neardup",
    "q_ek_bpe_apply",
    "q_stream_minhash_delta",
    "q_el_image_dedup_e2e",
    "q_em_fuzzy_decontaminate",
]

# Hard errors, not asserts: these guards must survive python -O (a typo'd
# window silently wastes externally-checked slots otherwise).
if len(CHECK_WINDOW) > 50:
    raise ValueError("CHECK_WINDOW exceeds the external checker's 50 slots")
if len(set(CHECK_WINDOW)) != len(CHECK_WINDOW):
    raise ValueError("duplicate CHECK_WINDOW entry")

_PREFIX_RE = re.compile(r"^q_\d{3}_")


def base_name(name: str) -> str:
    """Stable base name for a registered (possibly window-prefixed) name."""
    return _PREFIX_RE.sub("q_", name)


def public_name(base: str) -> str:
    """Registered (externally visible) name for a base query name."""
    try:
        idx = CHECK_WINDOW.index(base)
    except ValueError:
        return base
    return f"q_{idx + 1:03d}_{base[2:]}"


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check


class _Registry(dict):
    """Dict keyed by public name; lookup by base name always resolves, and
    lookup by a stale ``q_NNN_``-prefixed name falls back to its base."""

    def __missing__(self, key: str) -> QuerySpec:
        pub = public_name(key)
        if pub != key and dict.__contains__(self, pub):
            return dict.__getitem__(self, pub)
        base = _PREFIX_RE.sub("q_", key)
        if base != key:
            return self[base]  # may recurse once into public_name branch
        raise KeyError(key)

    def __contains__(self, key: object) -> bool:  # keep `in` consistent
        try:
            self[key]  # type: ignore[index]
        except KeyError:
            return False
        return True


REGISTRY: _Registry = _Registry()


def query(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query recipe under base name ``name``; the
    public name gains a check-priority prefix while ``name`` is in
    ``CHECK_WINDOW``. ``oracle`` is the DuckDB twin SQL (None → rows-only)."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        pub = public_name(name)
        if dict.__contains__(REGISTRY, pub):
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[pub] = QuerySpec(name=pub, spark=fn, oracle=oracle)
        return fn

    return wrap


def sql_query(name: str, sql: str) -> None:
    """Register ``sql`` under base name ``name`` as both the Spark recipe
    (``run_sql`` over the fixture tables it names) and the DuckDB oracle."""
    query(name, sql)(partial(run_sql, sql=sql))
