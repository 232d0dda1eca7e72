"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side machinery is real and tested — schema, partition-friendly
batch processing via ``mapInPandas`` (Arrow batches, never per-row Python),
typed metadata structs. The actual codec work is stubbed behind
``DecoderNotAvailable`` / deterministic fakes because the image/audio
libraries are not in this container; swapping in a real decoder is a
one-function change that does not touch the distribution strategy.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: Canonical multimodal asset schema: payload is opaque bytes; typed metadata
#: travels alongside so planning (filtering, routing by mime/size) never
#: touches the payload.
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


class DecoderNotAvailable(NotImplementedError):
    """Raised by the real-decoder path for formats whose codec libraries are
    not installed in this environment (JPEG, WAV). PNG has a real pure-Python
    codec (``functions.png`` — zlib+struct per the public PNG spec), so
    ``image/png`` assets decode for real; the deterministic fake path keeps
    the rest of the distributed plumbing testable."""


#: Size and payload seed of the synthetic asset table.
N_ASSETS = 256
ASSET_SEED = 42


def synthetic_assets(spark) -> DataFrame:
    """Deterministic ``N_ASSETS``-row asset table: ``image/png`` payloads
    are REAL PNG files (id-derived pixels encoded with ``functions.png``),
    other mimes carry id-derived opaque bytes; metadata is consistent with
    the payload.

    Generated DISTRIBUTED: ``spark.range`` partitions the id space and an
    Arrow-batched ``mapInPandas`` materializes payloads on executors — no
    driver-side row building, so the same generator scales to millions of
    fake assets for load tests."""
    mimes = ["image/png", "image/jpeg", "audio/wav"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import png as _png

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                mime = mimes[i % 3]
                width, height = 64 + i % 32, 48 + i % 24
                if mime == "image/png":
                    # Real PNG: deterministic (id, seed)-derived ramp,
                    # numpy-vectorized (a Python per-pixel loop dominates
                    # the whole query's runtime at w*h*3 bytes per asset).
                    n_px = width * height * 3
                    pixels = (
                        (
                            i * 2654435761
                            + (ASSET_SEED + 1) * 7919
                            + np.arange(n_px, dtype=np.int64)
                        )
                        % 251
                    ).astype(np.uint8).tobytes()
                    payload = _png.encode_png(width, height, pixels, 3)
                else:
                    n_b = 64 + i % 64
                    payload = (
                        (i * 2654435761 + np.arange(n_b, dtype=np.int64) * (ASSET_SEED + 1))
                        % 251
                    ).astype(np.uint8).tobytes()
                rows.append(
                    {
                        "asset_id": i,
                        "mime": mime,
                        "payload": payload,
                        "meta": {
                            "width": width,
                            "height": height,
                            "duration_ms": 1000 * (i % 30),
                            "n_bytes": len(payload),
                        },
                    }
                )
            yield pd.DataFrame(rows)

    # Bounded partition count: the default 1-task-per-core range split gives
    # ~4-asset batches whose per-task Python-worker round trips dominate the
    # actual codec work. 8 partitions keeps the generation distributed (and
    # the downstream mapInPandas stages inherit the layout) without paying
    # 64 task launches per stage for a few MB of assets.
    return spark.range(0, N_ASSETS, 1, 8).mapInPandas(gen, ASSET_SCHEMA)


def _fake_decode(payload: bytes, width: int, height: int) -> list[float]:
    """Deterministic stand-in for image decode + feature extraction: a fixed
    8-dim byte-histogram feature. Replace with a real codec when available."""
    import numpy as np

    if payload is None:
        return [0.0] * 8
    if len(payload) == 0:
        return [0.0] * 8
    hist = np.bincount(np.frombuffer(payload, dtype=np.uint8) % 8, minlength=8)
    return (hist / len(payload)).tolist()


def _audio_features(payload: bytes) -> list[float]:
    """Audio feature extraction with REAL DSP math on the (fake-decoded)
    waveform: payload bytes → centered unit waveform → rFFT → 8-band mean
    magnitude, L1-normalized. Only the codec step (bytes → samples) is the
    deterministic stand-in; the spectral pipeline is exactly what a real
    log-mel front-end does before the filterbank."""
    import numpy as np

    if payload is None or len(payload) == 0:
        return [0.0] * 8
    wave = (np.frombuffer(payload, dtype=np.uint8).astype("float64") - 127.5) / 127.5
    mag = np.abs(np.fft.rfft(wave))
    bands = [float(c.mean()) for c in np.array_split(mag, 8)]
    total = sum(bands) or 1.0
    return [b / total for b in bands]


def extract_features(
    assets: DataFrame,
    use_real_decoder: "bool | str" = False,
) -> DataFrame:
    """Decode + feature-extract every asset via ``mapInPandas``.

    Arrow-batched: each Python call sees a whole record batch (thousands of
    assets), so per-row overhead amortizes — the same shape a real
    torchvision/PIL decode pipeline would use. Output: asset_id, mime,
    ``features array<double>`` (8-dim), n_bytes.

    ``use_real_decoder=True`` routes ``image/png`` through the REAL pure-
    Python PNG codec (``functions.png``): the container is parsed, scanlines
    unfiltered, and the histogram computed over DECODED PIXELS instead of
    container bytes. Formats without an installed codec (JPEG, WAV) raise
    ``DecoderNotAvailable`` from the worker — a typed capability error, not
    a silent fallback. ``use_real_decoder="auto"`` is the mixed-corpus mode:
    real codec where one exists (PNG), deterministic fake elsewhere — one
    pass over a mixed-mime table, no mime pre-splitting (and so no double
    evaluation of the upstream generation/decode pipeline).
    """
    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("mime", T.StringType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def _real_features(payload, mime):
        from ..functions import png as _png

        if payload is None:
            return [0.0] * 8
        if mime == "image/png":
            _, _, _, pixels = _png.decode_png(bytes(payload))
            return _fake_decode(pixels, 0, 0)  # histogram over real pixels
        raise DecoderNotAvailable(
            f"no real codec installed for {mime}; PNG is the only format "
            "with a real decoder in this environment"
        )

    def _route(p, m, w, h):
        if use_real_decoder is True:
            return _real_features(p, m)  # raises for codec-less formats
        if use_real_decoder == "auto" and m == "image/png":
            return _real_features(p, m)
        if isinstance(m, str) and m.startswith("audio/"):
            return _audio_features(p)
        return _fake_decode(p, w, h)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # Mime routing happens per row inside the batch, not as a plan
            # branch: PNG → real codec ("auto"/True), audio → spectral
            # path, the rest → byte-histogram fake.
            feats = [
                _route(p, m, w, h)
                for p, m, w, h in zip(
                    pdf["payload"],
                    pdf["mime"],
                    pdf["meta"].map(lambda m: m["width"] if m else 0),
                    pdf["meta"].map(lambda m: m["height"] if m else 0),
                )
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "mime": pdf["mime"],
                    "features": feats,
                    "n_bytes": pdf["payload"].map(lambda p: len(p) if p is not None else 0),
                }
            )

    return assets.mapInPandas(batches, out_schema)


def resize_assets(
    assets: DataFrame,
    target_width: int,
    target_height: int,
    use_real_decoder: "bool | str" = False,
) -> DataFrame:
    """Resize every image asset to ``target_width x target_height`` via
    ``mapInPandas`` — binary in, binary out, metadata updated in the same
    batch. Non-image assets pass through untouched (single branch-free plan;
    the mime routing is a batch-level mask, not a per-row Python branch).

    With ``use_real_decoder=True``, ``image/png`` payloads go through the
    REAL pipeline: PNG decode (``functions.png``) → nearest-neighbor
    resample (numpy gather) → PNG re-encode; image formats without a codec
    (JPEG) raise ``DecoderNotAvailable`` from the worker. ``"auto"`` routes
    per mime in one pass: real codec for PNG, the deterministic fake
    transcode for codec-less image formats — the mixed-corpus mode that
    avoids mime pre-splitting (and double evaluation of the generation
    upstream). The default fake path keeps a deterministic payload
    transform sized to the target dims.
    Either way the Spark side — binary columns through Arrow both
    directions, struct metadata rewrite, pass-through routing — is the real
    100 TB shape: payload bytes only ever move executor-local, one Python
    batch per Arrow record batch.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import png as _png

        # fake transcode: output size scales with target pixel count so
        # downstream size accounting stays consistent with the metadata
        out_len = max(16, (target_width * target_height) // 64)
        for pdf in it:
            is_img = pdf["mime"].str.startswith("image/")
            payloads, metas = [], []
            for p, m, mime, img in zip(pdf["payload"], pdf["meta"], pdf["mime"], is_img):
                if not img or not p:  # None AND zero-length payloads pass through
                    payloads.append(p)
                    metas.append(m)
                    continue
                real = use_real_decoder is True or (
                    use_real_decoder == "auto" and mime == "image/png"
                )
                if use_real_decoder is True and mime != "image/png":
                    raise DecoderNotAvailable(
                        f"no real codec installed for {mime}; PNG is the "
                        "only format with a real decoder here"
                    )
                if real:
                    w0, h0, ch, pixels = _png.decode_png(bytes(p))
                    resized = _png.resize_nearest(
                        w0, h0, ch, pixels, target_width, target_height
                    )
                    stretched = _png.encode_png(
                        target_width, target_height, resized, ch
                    )
                else:
                    stretched = bytes(p[i % len(p)] for i in range(out_len))
                payloads.append(stretched)
                metas.append(
                    {
                        "width": target_width,
                        "height": target_height,
                        "duration_ms": m["duration_ms"] if m else None,
                        "n_bytes": len(stretched),
                    }
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "mime": pdf["mime"],
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return assets.mapInPandas(batches, ASSET_SCHEMA)
