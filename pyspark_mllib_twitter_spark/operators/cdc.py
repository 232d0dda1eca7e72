"""Content-defined chunking (CDC) — edit-stable chunk boundaries.

Fixed-offset chunking (``q_x1_chunk_docs``) moves EVERY boundary when a
single character is inserted upstream, so chunk-level dedup between two
corpus versions finds nothing. CDC places boundaries where a rolling hash
of the local content hits a condition (Rabin-fingerprint family; public —
e.g. Muthitacharoen et al., "A Low-Bandwidth Network File System",
SOSP'01), so an edit only perturbs boundaries inside its own neighborhood
and identical tails re-chunk identically — the property chunk-level dedup
and delta storage depend on.

The rolling hash runs over Unicode CODE POINTS, not UTF-8 bytes: every
boundary is then a valid string position, so chunks are always
well-formed strings (byte-level boundaries can split a multi-byte UTF-8
sequence, producing chunks Arrow cannot serialize), and the DuckDB oracle
— whose ``ord(text[i])`` is codepoint-based — replays the exact same hash.
``n_bytes`` still reports the chunk's true UTF-8 byte length.

Spark shape: one Arrow-batched ``mapInPandas`` over documents (the rolling
hash is inherently sequential per-position work — the sanctioned Python
escape hatch), map-only, no shuffle; numpy computes all window hashes in
O(w) vectorized passes, and boundary *selection* touches only candidate
positions (``np.searchsorted`` over the precomputed candidate ends — a few
dozen loop iterations per document, one per emitted chunk).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: Rolling-hash window width (code points) and polynomial base/modulus.
_WINDOW = 8
_BASE = 257
_MOD = (1 << 31) - 1  # Mersenne prime — cheap reduction, no sign issues

#: CDC geometry (average / min / max chunk size in code points), sized to
#: the ~150-550-char fixture docs (production would run e.g.
#: 2048/512/8192 bytes).
CDC_AVG = 64
CDC_MIN = 16
CDC_MAX = 192

CDC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_id", T.LongType()),
        T.StructField("chunk", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _window_hashes(cps):
    """Hash of every ``_WINDOW``-codepoint window, vectorized: O(_WINDOW)
    numpy passes instead of an O(n * _WINDOW) Python loop."""
    import numpy as np

    n = len(cps) - _WINDOW + 1
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    h = np.zeros(n, dtype=np.int64)
    p = 1
    for j in range(_WINDOW):
        # cps < 2^21 and p < 2^31, so each product stays well inside int64.
        h = (h + cps[j : j + n] * p) % _MOD
        p = (p * _BASE) % _MOD
    return h


def _boundaries(text: str, avg_size: int, min_size: int, max_size: int) -> list[int]:
    """Boundary offsets (exclusive chunk ends, in code points) for one doc.

    A position is a CANDIDATE boundary when its window hash ``% avg_size``
    equals ``avg_size - 1`` (expected gap = avg_size). From a cut at
    ``last``, the next cut is whichever comes first of (a) the first
    candidate end ≥ ``last + max(min_size, _WINDOW)`` (windows overlapping
    a cut can't re-fire, hence the ``_WINDOW`` floor) and (b) the forced
    cut at ``last + max_size``. The final character is always a boundary.
    Only candidate ends are visited — one ``searchsorted`` per emitted
    chunk, never a scan over every position."""
    import numpy as np

    n = len(text)
    if n == 0:
        return [0]
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    h = _window_hashes(cps)
    # Exclusive chunk-end positions whose trailing window satisfies the rule.
    cand_ends = np.flatnonzero((h % avg_size) == (avg_size - 1)) + _WINDOW
    out: list[int] = []
    last = 0
    gap = max(min_size, _WINDOW)
    while True:
        j = int(np.searchsorted(cand_ends, last + gap))
        e_cand = int(cand_ends[j]) if j < len(cand_ends) else n
        e_max = last + max_size if last + max_size <= n else n
        nxt = min(e_cand, e_max)
        if nxt >= n:
            out.append(n)
            return out
        out.append(nxt)
        last = nxt


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """Split every ``(doc_id, text)`` document into content-defined chunks.

    Output: ``(doc_id, chunk_id, chunk, n_bytes)`` where chunks concatenate
    exactly back to the document (lossless; property-tested), boundaries
    are a pure function of local content — inserting a prefix shifts only
    the first chunk(s), identical suffixes re-chunk identically — and
    ``n_bytes`` is the chunk's UTF-8 byte length. Sizes (``CDC_AVG`` /
    ``CDC_MIN`` / ``CDC_MAX``) are in code points, so multi-byte text
    never splits mid-character.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                text = text or ""
                prev = 0
                for k, end in enumerate(_boundaries(text, CDC_AVG, CDC_MIN, CDC_MAX)):
                    piece = text[prev:end]
                    rows.append(
                        {
                            "doc_id": int(did),
                            "chunk_id": k,
                            "chunk": piece,
                            "n_bytes": len(piece.encode("utf-8")),
                        }
                    )
                    prev = end
            yield pd.DataFrame(
                rows, columns=["doc_id", "chunk_id", "chunk", "n_bytes"]
            )

    return docs.select("doc_id", "text").mapInPandas(run, CDC_SCHEMA)
