"""Byte-level tests for the dependency-free BMP/PPM codecs and the
multimodal kernels' decode="real" branch.

The decode fixtures are HAND-CRAFTED byte strings (not produced by
this repo's encoders), so decode correctness is proven independently
of encode; round-trips then pin encode against the proven decoder.
The Spark tests prove the real branch's schema/batch-shape parity
with the deterministic stub — the contract that lets a PIL/ffmpeg
kernel swap in later without touching any plan.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import multimodal
from bigdata_commerce_spark.operators.codecs import (
    CodecError,
    decode_bmp,
    decode_image,
    decode_ppm,
    encode_bmp,
    encode_ppm,
    iter_ppm_frames,
    resize_nearest,
)

# Slow tier (VERDICT r12 item 2 / r13 suite tiering): codec kernel
# end-to-end suites (~40 s).
pytestmark = pytest.mark.slow

# -------------------------------------------------- decode fixtures

# 2x1 P6: left pixel pure red, right pure green
PPM_2X1 = b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0])

# P6 with a header comment and multi-space separators (netpbm grammar)
PPM_COMMENTED = b"P6\n# a comment\n 1  1\n255\n" + bytes([7, 8, 9])


def _hand_bmp(top_down: bool = False) -> bytes:
    """2x2 24-bit BMP built field by field from the spec (NOT via
    encode_bmp). Pixels (RGB): top row red, green; bottom row blue,
    white. Row stride 8 (6 data + 2 pad)."""
    top = bytes([0, 0, 255]) + bytes([0, 255, 0]) + b"\x00\x00"  # BGR + pad
    bottom = bytes([255, 0, 0]) + bytes([255, 255, 255]) + b"\x00\x00"
    raster = (top + bottom) if top_down else (bottom + top)
    h = -2 if top_down else 2
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    return header + dib + raster


EXPECTED_2X2 = np.array(
    [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
)


def test_decode_ppm_hand_fixture():
    rgb, end = decode_ppm(PPM_2X1)
    assert end == len(PPM_2X1)
    assert rgb.shape == (1, 2, 3)
    assert rgb[0, 0].tolist() == [255, 0, 0]
    assert rgb[0, 1].tolist() == [0, 255, 0]


def test_decode_ppm_comments_and_whitespace():
    rgb, _ = decode_ppm(PPM_COMMENTED)
    assert rgb.shape == (1, 1, 3)
    assert rgb[0, 0].tolist() == [7, 8, 9]


def test_decode_bmp_hand_fixture_bottom_up_and_top_down():
    for td in (False, True):
        rgb = decode_bmp(_hand_bmp(top_down=td))
        assert rgb.shape == (2, 2, 3)
        np.testing.assert_array_equal(rgb, EXPECTED_2X2)


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"not media at all",
        b"P6\n2 1\n255\n\xff",  # truncated raster
        PPM_2X1[:8],  # truncated header
        _hand_bmp()[:30],  # truncated BMP
        b"P6\n2 1\n65535\n" + b"\x00" * 12,  # unsupported maxval
    ],
)
def test_decoders_reject_corrupt_payloads(payload):
    with pytest.raises(CodecError):
        decode_image(payload)


def test_round_trips_against_proven_decoders():
    rng = np.random.default_rng(7)
    # odd width exercises BMP row padding
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_bmp(encode_bmp(img)), img)
    rgb, end = decode_ppm(encode_ppm(img))
    np.testing.assert_array_equal(rgb, img)


def test_iter_ppm_frames_concatenated_stream():
    frames = [
        np.full((2, 2, 3), v, dtype=np.uint8) for v in (0, 60, 120, 180)
    ]
    stream = b"".join(encode_ppm(f) for f in frames)
    got = list(iter_ppm_frames(stream))
    assert len(got) == 4
    for g, f in zip(got, frames):
        np.testing.assert_array_equal(g, f)


def test_resize_nearest_known_grid():
    # 4x4 quadrant image -> 2x2 must pick one pixel per quadrant
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[:2, 2:] = [10, 10, 10]
    img[2:, :2] = [20, 20, 20]
    img[2:, 2:] = [30, 30, 30]
    small = resize_nearest(img, 2, 2)
    assert small[0, 0].tolist() == [0, 0, 0]
    assert small[0, 1].tolist() == [10, 10, 10]
    assert small[1, 0].tolist() == [20, 20, 20]
    assert small[1, 1].tolist() == [30, 30, 30]
    # upscale keeps only original values
    big = resize_nearest(img, 8, 8)
    assert set(np.unique(big)) <= {0, 10, 20, 30}
    assert big.shape == (8, 8, 3)


# ---------------------------------------------- Spark real branch


def _media_df(spark, payloads: list[bytes], durations=None):
    rows = [
        (
            i,
            bytearray(p),
            ("image/x-ppm" if p[:2] == b"P6" else "image/bmp", None, None,
             durations[i] if durations else None),
        )
        for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_real_features_solid_color_image(spark):
    """decode='real' computes ACTUAL image statistics: a solid
    (128,64,32) image must yield exactly those channel means/255 and
    zero gray spread — and the output schema/dtype is identical to the
    stub branch's."""
    img = np.zeros((4, 6, 3), dtype=np.uint8)
    img[:, :] = [128, 64, 32]
    payloads = [encode_bmp(img), encode_ppm(img)]
    media = _media_df(spark, payloads)
    real = multimodal.extract_features(media, decode="real")
    stub = multimodal.extract_features(media)
    assert real.schema == stub.schema
    rows = {r.media_id: r for r in real.collect()}
    assert len(rows) == 2
    for i, p in enumerate(payloads):
        r = rows[i]
        assert r.n_bytes == len(p)
        assert r.content_sha == hashlib.sha256(p).hexdigest()[:16]
        assert len(r.features) == multimodal.FEATURE_DIM
        np.testing.assert_allclose(
            r.features[2:5], [128 / 255, 64 / 255, 32 / 255], atol=1e-6
        )
        assert r.features[5] == 0.0  # zero gray std on a solid image
        assert r.features[6] == pytest.approx(r.features[7])  # min == max gray


def test_real_resize_fingerprints_actual_resample(spark):
    """decode='real' resize: the emitted sha must equal the sha of the
    independently computed decode->resample->re-encode bytes, per
    container."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    bmp, ppm = encode_bmp(img), encode_ppm(img)
    media = _media_df(spark, [bmp, ppm])
    got = {
        r.media_id: r
        for r in multimodal.resize_media(media, 4, 4, decode="real").collect()
    }
    expected_small = resize_nearest(img, 4, 4)
    assert got[0].resized_sha == hashlib.sha256(
        encode_bmp(expected_small)
    ).hexdigest()[:16]
    assert got[1].resized_sha == hashlib.sha256(
        encode_ppm(expected_small)
    ).hexdigest()[:16]
    assert (got[0].width, got[0].height) == (4, 4)


def test_real_frame_sample_even_spacing(spark):
    """A 6-frame stream sampled at n_frames=3 picks actual frames
    0, 2, 4 (fingerprint-verified) with offsets spreading duration
    across the real frame indices; a single image is a 1-frame video
    (all samples hit frame 0)."""
    frames = [np.full((2, 2, 3), 40 * v, dtype=np.uint8) for v in range(6)]
    stream = b"".join(encode_ppm(f) for f in frames)
    single = encode_bmp(frames[3])
    media = _media_df(spark, [stream, single], durations=[6000, 1000])
    out = multimodal.frame_sample(media, n_frames=3, decode="real").collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    vid = sorted(by_id[0], key=lambda r: r.frame_no)
    assert [r.offset_ms for r in vid] == [0, 2000, 4000]
    for r, idx in zip(vid, (0, 2, 4)):
        assert r.frame_sha == hashlib.sha256(
            encode_ppm(frames[idx])
        ).hexdigest()[:16]
    img = by_id[1]
    assert len(img) == 3
    # one-frame video: every sample is frame 0 re-encoded as PPM
    want = hashlib.sha256(encode_ppm(frames[3])).hexdigest()[:16]
    assert {r.frame_sha for r in img} == {want}
    assert {r.offset_ms for r in img} == {0}


# ------------------------------------- real-decode perceptual hash


def test_phash_words_rejects_unaligned_bands():
    import pytest

    from bigdata_commerce_spark.operators.multimodal import phash_words_hamming_pairs

    with pytest.raises(ValueError, match="divide"):
        phash_words_hamming_pairs(None, n_words=4, max_hamming=2)


def test_banded_pair_ops_cache_is_bounded(spark):
    """VERDICT r11 hygiene item: the pair ops' built-in persist()
    must not accumulate one cache entry per call for the session
    lifetime — repeated calls (the 147-query suite, a notebook) keep
    at most PERSIST_BOUND inputs live, the oldest unpersisted on
    eviction. Counts live cache entries via the JVM's persistent-RDD
    registry; runs BOTH kernels interleaved so the shared bound is
    the thing pinned."""
    from bigdata_commerce_spark.operators import cache_util
    from bigdata_commerce_spark.operators import multimodal as mm

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def det_hash(seed: int):
        df = spark.createDataFrame(
            [(i, bytearray(f"payload-{seed}-{i}".encode())) for i in range(8)],
            "media_id long, content binary",
        )
        return mm.media_phash(df).where(F.col("phash").isNotNull())

    base = n_persistent()
    for k in range(6):
        mm.phash_hamming_pairs(det_hash(k), mm.FEATURE_DIM, max_hamming=1).collect()
        mm.phash_words_hamming_pairs(
            mm.media_phash_wide_det(
                spark.createDataFrame(
                    [(i, bytearray(f"wide-{k}-{i}".encode())) for i in range(8)],
                    "media_id long, content binary",
                )
            ),
            n_words=4,
            max_hamming=3,
        ).collect()
    # 12 calls happened; live entries grew by at most the bound (other
    # suite fixtures may hold their own caches — measure the delta)
    assert n_persistent() - base <= cache_util.PERSIST_BOUND
    assert len(cache_util._REGISTRY) <= cache_util.PERSIST_BOUND


# ---------------------------------------------- scene changes


# ---------------------------------------------- audio segments
