"""Multimodal plumbing: distributed generation, Arrow batch shape,
deterministic features, frame-sampling plan (SURVEY §2.B north star)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_mllib_twitter_spark.operators import multimodal


@pytest.fixture(scope="module")
def assets(spark):
    df = multimodal.synthetic_assets(spark).cache()
    yield df
    df.unpersist()  # don't leak the cache into later modules


def test_assets_schema_and_determinism(spark, assets):
    assert assets.schema == multimodal.ASSET_SCHEMA
    assert assets.count() == 256
    # regenerating yields byte-identical payloads (seeded, id-derived)
    again = multimodal.synthetic_assets(spark)
    a = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    b = {r.asset_id: bytes(r.payload) for r in again.collect()}
    assert a == b
    # metadata consistent with payload
    bad = assets.filter(F.length("payload") != F.col("meta.n_bytes")).count()
    assert bad == 0


def test_generation_is_distributed(assets):
    """The generator must not funnel through one task: with spark.range's
    default parallelism the asset table spans multiple partitions."""
    assert assets.rdd.getNumPartitions() > 1


def test_extract_features_deterministic_and_normalized(assets):
    feats = multimodal.extract_features(assets)
    rows = {r.asset_id: r for r in feats.collect()}
    assert len(rows) == 256
    for r in rows.values():
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-9  # histogram sums to 1
    # pure function of payload: re-running matches
    again = {r.asset_id: r.features for r in multimodal.extract_features(assets).collect()}
    assert {k: v.features for k, v in rows.items()} == again


def test_real_decoder_png_works_others_clearly_stubbed(assets):
    """The real-decoder path actually decodes PNG (pure-Python codec): the
    PNG container parses, and features are computed over decoded PIXELS — so
    they differ from the fake path's container-byte histogram. Formats with
    no installed codec (JPEG) raise the typed capability error from the
    worker instead of silently falling back."""
    pngs = assets.filter(F.col("mime") == "image/png")
    real = {r.asset_id: r.features for r in
            multimodal.extract_features(pngs, use_real_decoder=True).collect()}
    fake = {r.asset_id: r.features for r in
            multimodal.extract_features(pngs).collect()}
    assert real.keys() == fake.keys() and len(real) > 0
    for feats in real.values():
        assert len(feats) == 8 and abs(sum(feats) - 1.0) < 1e-9
    assert any(real[k] != fake[k] for k in real)  # pixels != container bytes
    jpegs = assets.filter(F.col("mime") == "image/jpeg")
    with pytest.raises(Exception, match="DecoderNotAvailable|no real codec"):
        multimodal.extract_features(jpegs, use_real_decoder=True).collect()


def test_real_resize_roundtrips_png(assets):
    """Real-codec resize: decode → nearest-neighbor resample → re-encode.
    The output payload must be a valid PNG with the target dimensions."""
    from pyspark_mllib_twitter_spark.functions import png as pngc

    pngs = assets.filter(F.col("mime") == "image/png").limit(8)
    out = multimodal.resize_assets(pngs, 16, 12, use_real_decoder=True).collect()
    assert len(out) == 8
    for r in out:
        w, h, ch, pixels = pngc.decode_png(bytes(r.payload))
        assert (w, h, ch) == (16, 12, 3)
        assert len(pixels) == 16 * 12 * 3
        assert r.meta.width == 16 and r.meta.height == 12
        assert r.meta.n_bytes == len(r.payload)


def test_resize_updates_images_passes_through_rest(assets):
    out = multimodal.resize_assets(assets, 32, 32)
    assert out.schema == multimodal.ASSET_SCHEMA
    rows = {r.asset_id: r for r in out.collect()}
    orig = {r.asset_id: r for r in assets.collect()}
    assert rows.keys() == orig.keys()
    for aid, r in rows.items():
        if r.mime.startswith("image/"):
            assert r.meta.width == 32 and r.meta.height == 32
            assert len(r.payload) == r.meta.n_bytes == max(16, 32 * 32 // 64)
        else:  # non-image passes through byte-identical
            assert bytes(r.payload) == bytes(orig[aid].payload)
            assert r.meta == orig[aid].meta
    # deterministic: re-running produces identical payloads
    again = {r.asset_id: bytes(r.payload) for r in multimodal.resize_assets(assets, 32, 32).collect()}
    assert {k: bytes(v.payload) for k, v in rows.items()} == again
    # real-decoder mode on a mix that includes JPEG raises the typed
    # capability error from the worker (only PNG has a real codec here)
    with pytest.raises(Exception, match="DecoderNotAvailable|no real codec"):
        multimodal.resize_assets(
            assets.filter(F.col("mime") == "image/jpeg"), 32, 32, use_real_decoder=True
        ).collect()


def test_audio_features_are_spectral(spark, assets):
    """Audio assets must go through the FFT band path: L1-normalized 8-dim
    features (sum to 1), deterministic across runs, and distinct from the
    byte-histogram path the same payload would produce as an image."""
    from pyspark.sql import functions as F

    feats = multimodal.extract_features(assets)
    audio = feats.filter(F.col("mime").startswith("audio/")).collect()
    assert audio, "fixture generator must emit audio assets"
    for r in audio:
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-9
    again = {
        r.asset_id: r.features
        for r in multimodal.extract_features(assets)
        .filter(F.col("mime").startswith("audio/"))
        .collect()
    }
    assert {r.asset_id: r.features for r in audio} == again


def test_resize_passes_through_empty_and_null_payloads(spark):
    """A zero-length (but non-null) image payload must pass through the fake
    transcode untouched instead of dividing by len(payload)==0 — same
    pass-through contract as a NULL payload (ADVICE multimodal.py:204)."""
    rows = [
        (1, "image/png", b"", {"width": 1, "height": 1, "duration_ms": None, "n_bytes": 0}),
        (2, "image/png", None, None),
        (3, "image/png", b"\x07", {"width": 1, "height": 1, "duration_ms": None, "n_bytes": 1}),
    ]
    df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    out = {r.asset_id: r for r in multimodal.resize_assets(df, 32, 32).collect()}
    assert bytes(out[1].payload) == b""          # empty: untouched
    assert out[2].payload is None                # null: untouched
    assert len(out[3].payload) == max(16, 32 * 32 // 64)  # real payload: transcoded


def test_auto_mode_single_pass_mixed_mimes(assets):
    """use_real_decoder="auto" processes a mixed-mime table in ONE pass:
    PNG through the real codec (pixel-histogram features == the True-mode
    result), JPEG/WAV through the fake paths (== the False-mode result) —
    no mime pre-split, no DecoderNotAvailable."""
    auto = {r.asset_id: (r.mime, r.features) for r in
            multimodal.extract_features(assets, use_real_decoder="auto").collect()}
    assert len(auto) == 256
    pngs = assets.filter(F.col("mime") == "image/png")
    real = {r.asset_id: r.features for r in
            multimodal.extract_features(pngs, use_real_decoder=True).collect()}
    fake = {r.asset_id: r.features for r in
            multimodal.extract_features(assets).collect()}
    for aid, (mime, feats) in auto.items():
        want = real[aid] if mime == "image/png" else fake[aid]
        assert feats == want, (aid, mime)
    # resize in auto mode: PNGs really resampled, others fake-transcoded
    out = {r.asset_id: r for r in
           multimodal.resize_assets(assets, 16, 12, use_real_decoder="auto").collect()}
    from pyspark_mllib_twitter_spark.functions import png as pngc

    for aid, r in out.items():
        if r.mime == "image/png":
            w, h, ch, _ = pngc.decode_png(bytes(r.payload))
            assert (w, h, ch) == (16, 12, 3)
        elif r.mime.startswith("image/"):
            assert len(r.payload) == max(16, 16 * 12 // 64)
