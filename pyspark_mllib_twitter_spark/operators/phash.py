"""Image-content near-duplicate detection: perceptual hash + banded Hamming join.

Closes the multimodal family's content-dedup gap: until now image assets
deduped only byte-exact (md5 over the payload), so a re-encoded or
brightness-shifted copy of the same picture survived. This module computes
a 64-bit difference hash (dHash — adjacent-pixel gradient signs over a
9x8 grayscale downsample; public recipe, e.g. the widely documented
aHash/dHash family) over REAL decoded pixels (``functions.png`` pure-Python
codec) and finds near-duplicate pairs with the SimHash-style banded
equi-join (Manku et al., WWW 2007 — split the fingerprint into k bit
blocks; any pair within Hamming distance < k shares at least one block by
pigeonhole). Candidate generation is therefore an equi-join on
(band, 16-bit block), never an all-pairs comparison, and verification is
a JVM-side ``bit_count(a XOR b)`` on two 8-byte longs.

Scale shape (100 TB of images):
- the decode+hash pass is one Arrow-batched ``mapInPandas`` over the asset
  table — payload bytes never shuffle; what leaves the scan stage is
  (asset_id, 8-byte hash);
- banding shuffles 4 rows of (16-bit block, id) per image — bytes moved are
  independent of image size;
- the pigeonhole guarantee is exact for Hamming distance < ``N_BANDS``;
  larger radii need multiple permuted band tables (Manku's rotation
  scheme).

Reference parity note: the reference engine (COMP5349_2.py) has no image
surface at all — this extends the north-star multimodal family
(SURVEY.md §2.B) alongside q_ns_multimodal's decode/resize plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: dHash grid: 9 columns x 8 rows of grayscale -> 8 comparisons per row.
DHASH_W, DHASH_H = 9, 8

#: Banding: 4 x 16-bit blocks over the 64-bit hash. Pigeonhole:
#: any pair with Hamming distance <= 3 is guaranteed a shared block.
N_BANDS = 4

#: Default near-dup acceptance radius (verified exactly after banding, so
#: it affects which candidates SURVIVE, never which are generated).
MAX_HAMMING = 10


def _murmur_mix(x):
    """Murmur3 finalizer over a uint64 numpy array — decorrelates the
    linear pixel index so synthetic pixels are pseudo-random, not a ramp
    (a ramp makes every image's gradient signs identical)."""
    import numpy as np

    x = x.astype(np.uint64)
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xFF51AFD7ED558CCD)
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xC4CEB9FE1A85EC53)
    x ^= x >> np.uint64(33)
    return x


#: Variant id offsets in the synthetic near-dup corpus.
BRIGHT_OFFSET = 10_000
INVERT_OFFSET = 20_000
BRIGHT_MOD, INVERT_MOD = 4, 6


#: Base-image count and pixel seed of the synthetic near-dup corpus.
N_BASE = 96
CORPUS_SEED = 7


def synthetic_png_neardup_corpus(spark) -> DataFrame:
    """Deterministic PNG corpus with planted near-duplicates, generated
    DISTRIBUTED (``spark.range`` + ``mapInPandas``, no driver rows):

    - ``N_BASE`` base images, 32x24 RGB, murmur-mixed pseudo-random pixels
      in [0, 250] (so the brightness variant below can never clip);
    - every ``BRIGHT_MOD``-th base gains a ``+3``-brightness copy at
      ``id + BRIGHT_OFFSET`` — every pixel comparison is preserved, so its
      dHash distance to the base is exactly 0 (a re-encode/levels tweak);
    - every ``INVERT_MOD``-th base gains a copy with one horizontal band
      (source rows h/2 .. h/2+h/8) inverted at ``id + INVERT_OFFSET`` —
      the 9x8 downsample samples exactly one grid row from that band, so
      at most 8 hash bits flip: a small-but-nonzero Hamming distance that
      still leaves 3 of 4 blocks intact (found by banding, by pigeonhole).

    Unrelated base pairs sit at expected Hamming distance 32 (binomial
    n=64, p=1/2) — astronomically outside ``MAX_HAMMING``.
    """
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType(), False),
            T.StructField("mime", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    width, height = 32, 24

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import png as _png

        n_px = width * height * 3
        idx = np.arange(n_px, dtype=np.uint64)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                base = (
                    _murmur_mix(
                        np.uint64(i) * np.uint64(0x9E3779B97F4A7C15)
                        + idx
                        + np.uint64(CORPUS_SEED)
                    )
                    % np.uint64(251)
                ).astype(np.uint8)
                rows.append(
                    {
                        "asset_id": i,
                        "mime": "image/png",
                        "payload": _png.encode_png(width, height, base.tobytes(), 3),
                    }
                )
                if i % BRIGHT_MOD == 0:
                    rows.append(
                        {
                            "asset_id": i + BRIGHT_OFFSET,
                            "mime": "image/png",
                            "payload": _png.encode_png(
                                width, height, (base + 3).tobytes(), 3
                            ),
                        }
                    )
                if i % INVERT_MOD == 0:
                    px = base.reshape(height, width, 3).copy()
                    px[height // 2 : height // 2 + height // 8] = (
                        255 - px[height // 2 : height // 2 + height // 8]
                    )
                    rows.append(
                        {
                            "asset_id": i + INVERT_OFFSET,
                            "mime": "image/png",
                            "payload": _png.encode_png(
                                width, height, px.tobytes(), 3
                            ),
                        }
                    )
            yield pd.DataFrame(rows)

    return spark.range(0, N_BASE, 1, 8).mapInPandas(gen, schema)


def dhash_py(payload: bytes) -> int:
    """dHash of one PNG payload (driver/worker-shared kernel): decode,
    integer grayscale ((r+g+b)//3 — no float rounding ambiguity),
    nearest-neighbor downsample to 9x8, then bit (y*8+x) = 1 iff
    g[y][x] > g[y][x+1]. Returned as a SIGNED 64-bit int (two's
    complement) so it round-trips through Spark's LongType exactly."""
    import numpy as np

    from ..functions import png as _png

    w, h, ch, pixels = _png.decode_png(bytes(payload))
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch)
    gray = arr.astype(np.uint32).sum(axis=2) // ch
    ys = (np.arange(DHASH_H) * h) // DHASH_H
    xs = (np.arange(DHASH_W) * w) // DHASH_W
    g = gray[ys][:, xs]
    bits = (g[:, :-1] > g[:, 1:]).astype(np.uint64)  # 8x8
    weights = np.uint64(1) << (
        np.arange(DHASH_H, dtype=np.uint64)[:, None] * np.uint64(8)
        + np.arange(DHASH_W - 1, dtype=np.uint64)[None, :]
    )
    return int((bits * weights).sum(dtype=np.uint64).astype(np.int64))


def dhash_features(assets: DataFrame) -> DataFrame:
    """(asset_id, dhash bigint) for every ``image/png`` asset, via one
    Arrow-batched ``mapInPandas`` — the only Python in the pipeline, and
    the step a real deployment swaps for a GPU/SIMD decoder. Non-PNG
    assets are filtered out BEFORE the Python stage so codec-less formats
    never reach the worker."""
    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "dhash": [dhash_py(p) for p in pdf["payload"]],
                }
            )

    return (
        assets.filter(F.col("mime") == "image/png")
        .select("asset_id", "payload")
        .mapInPandas(batches, out_schema)
    )


def hamming_neardup_pairs(
    hashes: DataFrame,
    max_hamming: int = MAX_HAMMING,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, hamming <= max_hamming) from a
    (asset_id, dhash) table.

    Candidates: explode each hash into ``N_BANDS`` (band, block) keys —
    block = 16-bit slice via ``shiftrightunsigned`` + mask, all JVM — and
    self-equi-join on the key. Verification: ``bit_count(XOR)`` on the
    joined longs, exact. Banding affects recall only (guaranteed complete
    for hamming < N_BANDS by pigeonhole), never precision."""
    bits_per = 64 // N_BANDS
    mask = (1 << bits_per) - 1
    # shiftrightunsigned takes a literal shift, so the (band, block) pairs
    # are built as an array of structs and exploded — still one projection.
    bands = hashes.select(
        "asset_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("dhash"), b * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("block"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(
        "asset_id",
        "dhash",
        F.col("bb.band").alias("band"),
        F.col("bb.block").alias("block"),
    )
    left = bands.select(
        F.col("asset_id").alias("id_a"),
        F.col("dhash").alias("hash_a"),
        "band",
        "block",
    )
    right = bands.select(
        F.col("asset_id").alias("id_b"),
        F.col("dhash").alias("hash_b"),
        "band",
        "block",
    )
    cand = (
        left.join(right, ["band", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hash_a", "hash_b")
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
