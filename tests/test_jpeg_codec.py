"""Baseline-JPEG codec: roundtrip, restart markers, real-encoder
files, seam adapters, and the explicit non-baseline rejection."""

from __future__ import annotations

import os

import numpy as np
import pytest

from spartan2_spark.functions.jpeg_codec import (
    decode_jpeg,
    encode_jpeg,
    jpeg_feature_decoder,
    jpeg_image_decoder,
)


def _gradient(h, w, ch=None):
    yy, xx = np.mgrid[0:h, 0:w]
    if ch is None:
        return ((yy * 3 + xx * 2) % 256).astype(np.uint8)
    return np.stack(
        [((yy * (2 + c) + xx * (1 + c)) % 256) for c in range(ch)], axis=2
    ).astype(np.uint8)


def test_roundtrip_gray_high_quality_near_lossless():
    img = _gradient(24, 40)
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert out.shape == img.shape and out.dtype == np.uint8
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3


def test_roundtrip_rgb_and_odd_sizes():
    for h, w in [(8, 8), (17, 19), (33, 9), (1, 1)]:
        img = _gradient(h, w, 3)
        out = decode_jpeg(encode_jpeg(img, quality=95))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 6, (h, w)


def test_quality_monotone_and_deterministic():
    img = _gradient(32, 32, 3)
    errs = []
    for q in (30, 60, 95):
        buf = encode_jpeg(img, quality=q)
        assert buf == encode_jpeg(img, quality=q)  # byte-deterministic
        out = decode_jpeg(buf)
        assert np.array_equal(out, decode_jpeg(buf))  # decode-stable
        errs.append(np.abs(out.astype(float) - img.astype(float)).mean())
    assert errs[0] >= errs[1] >= errs[2]


def test_restart_intervals_roundtrip():
    img = _gradient(24, 40)
    buf = encode_jpeg(img, quality=95, restart_interval=2)
    assert b"\xff\xd0" in buf or b"\xff\xd1" in buf
    out = decode_jpeg(buf)
    ref = decode_jpeg(encode_jpeg(img, quality=95))
    assert np.array_equal(out, ref)


def test_progressive_rejected_loudly():
    img = _gradient(16, 16)
    buf = bytearray(encode_jpeg(img))
    i = buf.find(b"\xff\xc0")
    buf[i + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="SOF"):
        decode_jpeg(bytes(buf))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")


def test_non_divisor_sampling_rejected_loudly():
    """3x1 luma over 2x1 chroma has no integer upsampling factor: the
    decoder must raise, not return mis-scaled planes."""
    buf = bytearray(encode_jpeg(_gradient(16, 16, 3)))
    i = buf.find(b"\xff\xc0")
    buf[i + 11] = 0x31  # component 1 (Y): h=3, v=1
    buf[i + 14] = 0x21  # component 2 (Cb): h=2, v=1
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg(bytes(buf))


def test_fill_bytes_before_markers_are_skipped():
    """0xFF fill bytes may precede any marker (T.81 B.1.1.2)."""
    buf = encode_jpeg(_gradient(17, 19, 3), quality=90)
    padded = buf
    for marker in (b"\xff\xda", b"\xff\xc0", b"\xff\xdb"):
        i = padded.find(marker)
        padded = padded[:i] + b"\xff\xff\xff" + padded[i:]
    assert padded != buf
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(buf))


# known cpython/IPython sample locations (existence-checked, never
# globbed recursively — huge trees); skip-if-absent keeps the test
# self-contained on hosts without them
_CANDIDATE_JPEGS = [
    os.path.join(os.path.dirname(os.__file__), "test", "imghdrdata",
                 "python.jpg"),
    os.path.join(os.path.dirname(os.__file__), "test", "test_email",
                 "data", "python.jpg"),
]
try:
    import IPython.core.tests as _ipt

    _CANDIDATE_JPEGS.append(
        os.path.join(os.path.dirname(_ipt.__file__), "2x2.jpg")
    )
except Exception:
    pass
_REAL_JPEGS = [p for p in _CANDIDATE_JPEGS if os.path.exists(p)][:2]


@pytest.mark.skipif(not _REAL_JPEGS, reason="no libjpeg samples on host")
def test_decodes_real_libjpeg_files():
    """Real-encoder robustness: custom tables, APP segments, chroma
    subsampling — produced by libjpeg, not this module's encoder."""
    for p in _REAL_JPEGS:
        buf = open(p, "rb").read()
        out = decode_jpeg(buf)
        assert out.dtype == np.uint8 and out.shape[0] > 0
        assert np.array_equal(out, decode_jpeg(buf))


def test_seam_adapters_and_multimodal_paths(spark):
    from spartan2_spark.operators.multimodal import (
        extract_features,
        resize_media,
    )

    img = _gradient(32, 32)
    buf = encode_jpeg(img, quality=95)
    grid = jpeg_image_decoder(buf, (32, 32))
    assert grid.shape == (32, 32) and 0.0 <= grid.min() <= grid.max() <= 1.0
    feats = jpeg_feature_decoder(buf, 8)
    assert feats.shape == (8,)
    with pytest.raises(ValueError):
        jpeg_image_decoder(buf, (16, 16))  # size mismatch must be loud

    df = spark.createDataFrame(
        [("u1", bytearray(buf))], "url string, html binary"
    )
    f = extract_features(df, decoder="jpeg", n_features=8).collect()[0]
    assert len(f.features) == 8
    r = resize_media(
        df, src_hw=(32, 32), out_hw=(8, 8), decoder="jpeg"
    ).collect()[0]
    assert len(r.pixels) == 64
    # pooled means of the real decode, not the fake stand-in
    expect = (img.astype(np.float64) / 255.0).reshape(8, 4, 8, 4).mean(
        axis=(1, 3)
    )
    assert np.allclose(np.array(r.pixels).reshape(8, 8), expect, atol=0.02)
