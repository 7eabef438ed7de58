"""Multimodal plumbing: schema, Arrow batch shapes, and the real
pure-Python decoders (BMP/PPM/PGM, WAV, Y4M) against fixtures encoded
here; codecs without a pure-Python decoder take the checksum fallback."""

from __future__ import annotations

import pytest

from spark_hudi_etl_pipeline_spark.operators import multimodal as mm


@pytest.fixture()
def media_df(spark):
    rows = [(i, bytes([i % 251] * (100 + i))) for i in range(20)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    return mm.attach_metadata(df, media_type="image")


def test_metadata_struct(spark, media_df):
    row = media_df.filter("media_id = 3").collect()[0]
    assert row["meta"]["media_type"] == "image"
    assert row["meta"]["n_bytes"] == 103
    # metadata filters never touch payload bytes (column pruning)
    assert media_df.filter("meta.n_bytes > 110").count() == 9


def test_decode_features_deterministic(spark, media_df):
    out1 = {r["media_id"]: r["feature_checksum"] for r in mm.decode_features(media_df).collect()}
    out2 = {r["media_id"]: r["feature_checksum"] for r in mm.decode_features(media_df).collect()}
    assert out1 == out2
    assert len(out1) == 20
    assert len(set(out1.values())) > 1  # features actually vary by payload


def test_decode_features_schema(spark, media_df):
    out = mm.decode_features(media_df)
    assert out.schema == mm.FEATURE_SCHEMA


def test_sample_frames_one_to_n(spark):
    """Frame sampling is a 1→N mapInPandas expansion with deterministic
    stub frames."""
    from spark_hudi_etl_pipeline_spark.operators.multimodal import (
        attach_metadata,
        sample_frames,
    )

    rows = [(1, b"0123456789abcdef"), (2, b"xy")]
    media = attach_metadata(
        spark.createDataFrame(rows, "media_id long, payload binary"),
        media_type="video",
    )
    out = sample_frames(media, n_frames=4).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[1]) == 4
    assert [r["frame_idx"] for r in sorted(by_id[1], key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
    assert bytes(sorted(by_id[1], key=lambda r: r["frame_idx"])[0]["frame_payload"]) == b"0123"
    assert len(by_id[2]) == 2  # shorter payload → fewer frames


# ---------------------------------------------------------------------------
# REAL decode path: BMP / PPM / PGM — pure-Python decoders, exact
# pixel-derived features.
# ---------------------------------------------------------------------------

import numpy as np


def encode_ppm(pixels):
    """Encode H×W×3 uint8 pixels as binary PPM (P6)."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def encode_bmp(pixels):
    """Encode H×W×3 uint8 RGB pixels as an uncompressed 24-bit BMP
    (bottom-up, BGR, rows padded to 4 bytes)."""
    import struct

    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # flip + RGB→BGR
    data = raster.tobytes()
    return (
        struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        + data
    )


def encode_y4m(frames, *, fps):
    """YUV4MPEG2 (Y4M) payload of uint8 luma planes, shape
    (n_frames, h, w), with neutral (128) chroma; h and w even (C420)."""
    f = np.asarray(frames, dtype=np.uint8)
    n, h, w = f.shape
    out = [f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode()]
    chroma = np.full((h // 2) * (w // 2), 128, dtype=np.uint8).tobytes()
    for i in range(n):
        out += [b"FRAME\n", f[i].tobytes(), chroma, chroma]
    return b"".join(out)


def _gradient_px(w, h):
    """Deterministic RGB test image."""
    px = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            px[y, x] = ((x * 17 + y * 3) % 256, (y * 29) % 256, (x * 5) % 256)
    return px


def _expected_grid_features(px):
    """Independent reference: exact integer 8x8 mean-pool, written as
    plain Python loops (no shared code with the operator)."""
    h, w, _ = px.shape
    feats = []
    for gy in range(8):
        y0, y1 = gy * h // 8, (gy + 1) * h // 8
        if y0 < h:
            y1 = max(y1, y0 + 1)
        for gx in range(8):
            x0, x1 = gx * w // 8, (gx + 1) * w // 8
            if x0 < w:
                x1 = max(x1, x0 + 1)
            total, count = 0, 0
            for y in range(min(y0, h - 1), y1):
                for x in range(min(x0, w - 1), x1):
                    total += int(px[y, x, 0]) + int(px[y, x, 1]) + int(px[y, x, 2])
                    count += 1
            feats.append(total * 1000 // (3 * count))
    return feats


def test_bmp_roundtrip_odd_width():
    """5x3 exercises BMP's 4-byte row padding, bottom-up rows, BGR order."""
    px = _gradient_px(5, 3)
    codec, w, h, out = mm.decode_bmp(encode_bmp(px))
    assert (codec, w, h) == ("bmp", 5, 3)
    assert np.array_equal(out, px)


def test_ppm_roundtrip_and_comment_header():
    px = _gradient_px(16, 16)
    codec, w, h, out = mm.decode_ppm(encode_ppm(px))
    assert (codec, w, h) == ("ppm", 16, 16)
    assert np.array_equal(out, px)
    # comment lines in the header are legal PNM
    raw = b"P6\n# a comment\n2 1\n255\n" + bytes([1, 2, 3, 4, 5, 6])
    codec, w, h, out = mm.decode_ppm(raw)
    assert (w, h) == (2, 1) and out[0, 1, 2] == 6


def test_pgm_grayscale_broadcast():
    raw = b"P5\n2 2\n255\n" + bytes([10, 20, 30, 40])
    codec, w, h, out = mm.decode_ppm(raw)
    assert codec == "pgm"
    assert np.array_equal(out[:, :, 0], [[10, 20], [30, 40]])
    assert np.array_equal(out[:, :, 0], out[:, :, 1])


def test_image_decoder_exact_features_from_pixels():
    """The feature vector must equal an independently computed exact
    8x8 mean-pool of the REAL pixel data — and be identical for the
    same pixels encoded as BMP and as PPM."""
    px = _gradient_px(32, 24)
    expected = _expected_grid_features(px)
    for payload, codec in ((encode_bmp(px), "bmp"), (encode_ppm(px), "ppm")):
        feats = mm.image_decoder(payload, {})
        assert feats["features"] == expected
        assert (feats["width"], feats["height"]) == (32, 24)
        assert feats["codec"] == codec
        assert feats["feature_dim"] == 64
    assert mm.image_decoder(encode_bmp(px), {})["feature_checksum"] == \
        mm.image_decoder(encode_ppm(px), {})["feature_checksum"]


def test_image_smaller_than_grid():
    """Images smaller than 8x8 still produce 64 well-defined features."""
    px = _gradient_px(3, 2)
    feats = mm.image_decoder(encode_ppm(px), {})
    assert len(feats["features"]) == 64
    assert all(0 <= v <= 255_000 for v in feats["features"])


def test_decode_features_real_images_in_spark(spark):
    """End-to-end through mapInPandas: real rasters decode for real
    (pixel features, header dimensions); non-raster payloads fall back
    to the checksum stub with NULL feature columns."""
    px1, px2 = _gradient_px(16, 8), _gradient_px(8, 16)
    rows = [
        (1, bytearray(encode_bmp(px1))),
        (2, bytearray(encode_ppm(px2))),
        (3, bytearray(b"not an image payload")),
    ]
    media = mm.attach_metadata(
        spark.createDataFrame(rows, "media_id long, payload binary"),
        media_type="image",
    )
    out = {r["media_id"]: r for r in mm.decode_features(media).collect()}
    assert list(out[1]["features"]) == _expected_grid_features(px1)
    assert (out[1]["codec"], out[1]["width"], out[1]["height"]) == ("bmp", 16, 8)
    assert list(out[2]["features"]) == _expected_grid_features(px2)
    assert (out[2]["codec"], out[2]["width"], out[2]["height"]) == ("ppm", 8, 16)
    assert out[3]["features"] is None and out[3]["codec"] is None
    assert out[3]["feature_checksum"] is not None  # fallback still runs


def test_wav_roundtrip_and_features():
    """encode_wav → decode_wav round-trips samples exactly; the feature
    profile derives from real amplitudes (silent vs loud segments)."""
    import numpy as np

    from spark_hudi_etl_pipeline_spark.operators.multimodal import (
        audio_decoder,
        decode_wav,
        encode_wav,
    )

    # 1 second @ 8 kHz stereo: first half silence, second half full-scale.
    n = 8000
    s = np.zeros((n, 2), dtype=np.int16)
    s[n // 2 :, :] = 20000
    payload = encode_wav(s, 8000)
    rate, ch, back = decode_wav(payload)
    assert (rate, ch) == (8000, 2)
    assert np.array_equal(back, s)
    feats = audio_decoder(payload, {})
    assert feats["codec"] == "pcm_s16le" and feats["feature_dim"] == 64
    prof = feats["features"]
    # Silent first half → zero energy; loud second half → ~610 (20000/32768).
    assert all(v == 0 for v in prof[:32])
    assert all(580 <= v <= 640 for v in prof[32:])


def test_audio_decoder_fallback_and_probe_reject():
    from spark_hudi_etl_pipeline_spark.operators.multimodal import (
        audio_decoder_or_fallback,
    )

    junk = b"ID3\x03" + b"\x00" * 100  # an MP3-ish payload
    out = audio_decoder_or_fallback(junk, {})
    assert out["codec"] is None and out["features"] is None  # explicit non-decode


def test_decode_features_routes_audio(spark):
    """End-to-end mapInPandas: audio rows decode through the real WAV
    path, with exact feature checksums reproduced locally."""
    import numpy as np

    from spark_hudi_etl_pipeline_spark.operators.multimodal import (
        attach_metadata,
        audio_decoder,
        decode_features,
        encode_wav,
    )

    rng = np.random.RandomState(7)
    payloads = [
        encode_wav((rng.rand(4000) * 20000 - 10000).astype(np.int16), 4000)
        for _ in range(3)
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    media = attach_metadata(df, media_type="audio")
    got = {
        r["media_id"]: (r["codec"], r["feature_checksum"])
        for r in decode_features(media).collect()
    }
    for i, p in enumerate(payloads):
        want = audio_decoder(p, {})
        assert got[i] == ("pcm_s16le", want["feature_checksum"])


def test_y4m_roundtrip_and_real_frame_sampling(spark):
    """Y4M encode → decode round-trips luma exactly; sample_frames
    extracts REAL evenly-spaced frames as decodable PGM images whose
    pixel features match the source planes."""
    import numpy as np

    from spark_hudi_etl_pipeline_spark.operators.multimodal import (
        attach_metadata,
        decode_y4m,
        image_decoder,
        sample_frames,
        y4m_frame_sampler,
    )

    # 10 frames of 16x16: frame i is constant luma 10*i.
    frames = np.stack(
        [np.full((16, 16), 10 * i, dtype=np.uint8) for i in range(10)]
    )
    payload = encode_y4m(frames, fps=5)
    w, h, fps, back = decode_y4m(payload)
    assert (w, h, fps, len(back)) == (16, 16, 5, 10)
    assert all(np.array_equal(a, b) for a, b in zip(back, frames))
    # Even sampling: 4 of 10 -> source frames 0, 2, 5, 7.
    sampled = y4m_frame_sampler(payload, 4)
    assert len(sampled) == 4
    for pgm, src_idx in zip(sampled, [0, 2, 5, 7]):
        feats = image_decoder(pgm, {})
        assert feats["codec"] == "pgm" and feats["width"] == 16
        # Constant-luma frame: every grid cell = floor(1000*v/255)... the
        # P5 path scales gray to r=g=b=v, so cell = v*1000//255... verify
        # against a direct decode of the same plane instead of arithmetic.
        direct = image_decoder(
            f"P5\n16 16\n255\n".encode() + frames[src_idx].tobytes(), {}
        )
        assert feats["feature_checksum"] == direct["feature_checksum"]
    # End-to-end 1→N expansion through mapInPandas.
    df = spark.createDataFrame([(1, payload)], "media_id long, payload binary")
    rows = sample_frames(
        attach_metadata(df, media_type="video"), n_frames=3
    ).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    got0 = image_decoder(bytes(rows[0]["frame_payload"]), {})
    assert got0["codec"] == "pgm" and got0["height"] == 16


def test_compressed_video_falls_back(spark):
    from spark_hudi_etl_pipeline_spark.operators.multimodal import (
        frame_sampler_or_fallback,
    )

    junk = b"\x00\x00\x00\x18ftypmp42" + b"\x01" * 200  # MP4-ish
    out = frame_sampler_or_fallback(junk, 4)
    assert len(out) == 4  # deterministic byte-slice stub
    assert not out[0].startswith(b"P5")
