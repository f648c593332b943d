"""Baseline JPEG codec: roundtrip bounds, real-encoder files, containment.

The codec is LOSSY, so roundtrips assert error BOUNDS (tight at high
quality on smooth content, exact on constant blocks), not equality.
Real-world files written by libjpeg (shipped inside the Python and
Spark installs in this container) pin spec compliance — sampling
factors, custom tables, APPn skipping — independent of our encoder.
"""
from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from extractor.jpegcodec import jpeg_decode, jpeg_encode


def _err(a: bytes, b: bytes) -> int:
    return int(
        np.abs(
            np.frombuffer(a, np.uint8).astype(int)
            - np.frombuffer(b, np.uint8).astype(int)
        ).max()
    )


def test_constant_color_roundtrips_exactly():
    px = bytes([120, 60, 200]) * (16 * 16)
    w, h, c, out = jpeg_decode(jpeg_encode(16, 16, px, 3, quality=95))
    assert (w, h, c) == (16, 16, 3)
    assert _err(px, out) == 0


def test_gray_constant_roundtrips_exactly():
    px = bytes([77]) * (24 * 8)
    w, h, c, out = jpeg_decode(jpeg_encode(24, 8, px, 1, quality=90))
    assert (w, h, c) == (24, 8, 1)
    assert _err(px, out) == 0


def test_smooth_gradient_tight_bound():
    w, h = 40, 24
    img = np.zeros((h, w, 3), np.uint8)
    for y in range(h):
        for x in range(w):
            img[y, x] = (x * 6, y * 10, (x + y) * 3)
    _, _, _, out = jpeg_decode(jpeg_encode(w, h, img.tobytes(), 3, 95))
    assert _err(img.tobytes(), out) <= 4


def test_restart_interval_roundtrip():
    w, h = 33, 17  # 5x3 blocks -> restarts mid-row and mid-image
    px = bytes((x * 13 + y * 7) % 256 for y in range(h) for x in range(w))
    blob = jpeg_encode(w, h, px, 1, quality=92, restart_interval=2)
    assert b"\xff\xd0" in blob or b"\xff\xd1" in blob
    W, H, C, out = jpeg_decode(blob)
    assert (W, H, C) == (w, h, 1)
    assert _err(px, out) <= 24  # noisy content at q92, bounded


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.sampled_from([1, 3]),
    st.integers(min_value=0, max_value=255),
)
def test_any_shape_constant_named_quality(w, h, ch, v):
    """Constant images roundtrip near-exactly at ANY non-multiple-of-8
    shape (edge-replication padding never bleeds into the crop)."""
    px = bytes([v]) * (w * h * ch)
    W, H, C, out = jpeg_decode(jpeg_encode(w, h, px, ch, quality=95))
    assert (W, H, C) == (w, h, ch)
    assert _err(px, out) <= 1


_REAL_FILES = [
    # (path, w, h, channels) — written by real encoders (libjpeg)
    (
        "/root/.pyenv/versions/3.11.7/lib/python3.11/test/imghdrdata/"
        "python.jpg",
        16, 16, 3,
    ),
    (
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
        "multi-channel/chr30.4.184.jpg",  # 4:2:0 subsampled
        300, 215, 3,
    ),
    (
        "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
        "multi-channel/grayscale.jpg",  # PROGRESSIVE, 1-component
        300, 215, 1,
    ),
    (
        "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/"
        "doc/rust/html/embedded-book/assets/f3.jpg",  # PROGRESSIVE, 2x1
        720, 477, 3,
    ),
]


@pytest.mark.parametrize("path,w,h,c", _REAL_FILES)
def test_decodes_real_libjpeg_files(path, w, h, c):
    if not os.path.exists(path):
        pytest.skip("container fixture not present")
    W, H, C, px = jpeg_decode(open(path, "rb").read())
    assert (W, H, C) == (w, h, c)
    arr = np.frombuffer(px, np.uint8)
    assert len(arr) == w * h * c
    assert arr.std() > 5  # real image content, not a flat artifact


def test_progressive_vs_sequential_same_image():
    """The rust embedded-book assets ship two encodes of the same scene
    — verify.jpeg (sequential 4:4:4) and f3.jpg (progressive, 2x1
    subsampled), shot at different exposure: decoding both through the
    two codec paths must produce strongly correlated pixels (a broken
    progressive path would decorrelate or garble)."""
    seq = (
        "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/"
        "doc/rust/html/embedded-book/assets/verify.jpeg"
    )
    prog = (
        "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/"
        "doc/rust/html/embedded-book/assets/f3.jpg"
    )
    if not (os.path.exists(seq) and os.path.exists(prog)):
        pytest.skip("container fixtures not present")
    _, _, _, a = jpeg_decode(open(seq, "rb").read())
    _, _, _, b = jpeg_decode(open(prog, "rb").read())
    xa = np.frombuffer(a, np.uint8).astype(float)
    xb = np.frombuffer(b, np.uint8).astype(float)
    assert len(xa) == len(xb)
    # same scene, different encodes/exposure: strong pixel correlation
    assert np.corrcoef(xa, xb)[0, 1] > 0.9


def test_arithmetic_coding_raises_not_implemented():
    # minimal SOF9 (arithmetic sequential) frame header after SOI
    blob = (
        b"\xff\xd8\xff\xc9\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    )
    with pytest.raises(NotImplementedError):
        jpeg_decode(blob)


def test_roundtrip_through_multimodal_dispatch():
    from extractor.ops.multimodal import decode_payload

    px = bytes([10, 200, 30]) * (8 * 8)
    w, h, body = decode_payload(jpeg_encode(8, 8, px, 3, quality=95))
    assert (w, h) == (8, 8)
    assert _err(px, body) <= 1


def test_12bit_extended_sequential_roundtrip():
    """precision=12 writes SOF1 with custom wide-range Huffman tables;
    decode scales the 12-bit samples back into the 8-bit output API.
    12-bit quantization error is SMALLER than 8-bit (finer domain)."""
    import numpy as np

    from extractor.jpegcodec import jpeg_decode, jpeg_encode

    rng = np.random.RandomState(3)
    for ch in (1, 3):
        for w, h in ((8, 8), (24, 16), (17, 9)):
            px = (rng.rand(h, w, ch) * 60 + 100).astype(
                np.uint8
            ).tobytes()
            enc = jpeg_encode(w, h, px, ch, quality=95, precision=12)
            assert b"\xff\xc1" in enc[:256]  # SOF1, not SOF0
            got = jpeg_decode(enc)
            assert got[:3] == (w, h, ch)
            err = np.abs(
                np.frombuffer(px, np.uint8).astype(int)
                - np.frombuffer(got[3], np.uint8).astype(int)
            ).max()
            assert err <= 2, (ch, w, h, err)
    # sharp edges at q100 are exact in the 12-bit domain
    px = (np.indices((16, 16)).sum(0) % 2 * 255).astype(
        np.uint8
    ).tobytes()
    enc = jpeg_encode(16, 16, px, 1, quality=100, precision=12)
    assert jpeg_decode(enc)[3] == px


def test_12bit_guards():
    import pytest

    from extractor.jpegcodec import jpeg_encode

    with pytest.raises(ValueError, match="precision"):
        jpeg_encode(4, 4, bytes(16), 1, precision=10)
    # a 12-bit SOF0 is structurally invalid (baseline is 8-bit only)
    enc = jpeg_encode(4, 4, bytes(16), 1, precision=12)
    broken = enc.replace(b"\xff\xc1", b"\xff\xc0")
    from extractor.jpegcodec import jpeg_decode

    with pytest.raises(ValueError, match="SOF0"):
        jpeg_decode(broken)


def test_cmyk_jpeg_decode():
    """4-component Adobe CMYK: encode stores inverted ink with APP14
    transform 0; decode converts to RGB via (255-c)(255-k)/255."""
    import numpy as np

    from extractor.jpegcodec import jpeg_decode, jpeg_encode

    rng = np.random.RandomState(4)
    for w, h in ((8, 8), (24, 16), (17, 9)):
        ink = (rng.rand(h, w, 4) * 40 + 30).astype(np.uint8)
        enc = jpeg_encode(w, h, ink.tobytes(), 4, quality=97)
        assert b"Adobe" in enc[:64]
        W, H, C, out = jpeg_decode(enc)
        assert (W, H, C) == (w, h, 3)
        got = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(
            float
        )
        c, m, y, k = (ink[..., i].astype(float) for i in range(4))
        exp = np.stack(
            [
                (255 - c) * (255 - k) / 255,
                (255 - m) * (255 - k) / 255,
                (255 - y) * (255 - k) / 255,
            ],
            -1,
        )
        assert np.abs(got - exp).max() <= 6


def test_ycck_transform_branch():
    """Flipping the APP14 transform byte to 2 must route the first
    three planes through YCbCr->RGB before the ink inversion — checked
    against the same math applied to the known stored planes."""
    import numpy as np

    from extractor.jpegcodec import jpeg_decode, jpeg_encode

    rng = np.random.RandomState(6)
    w, h = 16, 8
    ink = (rng.rand(h, w, 4) * 30 + 40).astype(np.uint8)
    enc = jpeg_encode(w, h, ink.tobytes(), 4, quality=97)
    i = enc.find(b"\xff\xee")
    assert i >= 0
    tpos = i + 4 + 11  # marker(2) + len(2) + Adobe..(11) -> transform
    assert enc[tpos] == 0
    flipped = enc[:tpos] + b"\x02" + enc[tpos + 1 :]
    W, H, C, out = jpeg_decode(flipped)
    assert (W, H, C) == (w, h, 3)
    # expected: stored = 255-ink; ycc_to_rgb(stored[0..2]) -> s';
    # ink' = 255-s'; rgb = (255-ink_c')(255-ink_k)/255 ...
    s = 255.0 - ink.astype(float)
    y_, cb, cr = s[..., 0], s[..., 1] - 128.0, s[..., 2] - 128.0
    sp = np.stack(
        [
            y_ + 1.402 * cr,
            y_ - 0.344136 * cb - 0.714136 * cr,
            y_ + 1.772 * cb,
        ],
        -1,
    )
    ink_p = np.clip(255.0 - sp, 0, 255)
    ink_k = ink[..., 3].astype(float)
    exp = np.clip(
        np.stack(
            [(255 - ink_p[..., j]) * (255 - ink_k) / 255
             for j in range(3)],
            -1,
        ),
        0,
        255,
    )
    got = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(float)
    assert np.abs(got - exp).max() <= 6


def test_bare_cmyk_no_adobe_marker():
    """Without APP14, samples are direct ink (no inversion) — the
    decoder must not crash and all-zero ink must come out white."""
    from extractor.jpegcodec import jpeg_decode, jpeg_encode

    enc = jpeg_encode(8, 8, bytes(8 * 8 * 4), 4, quality=97)
    i = enc.find(b"\xff\xee")
    ln = int.from_bytes(enc[i + 2 : i + 4], "big")
    bare = enc[:i] + enc[i + 2 + ln :]
    W, H, C, out = jpeg_decode(bare)
    assert (W, H, C) == (8, 8, 3)
    # encoder stored 255-0=255 = max ink when read WITHOUT inversion
    # -> black; just assert deterministic structure, not polarity
    assert len(out) == 8 * 8 * 3


def test_lossless_jpeg_bit_exact():
    """SOF3 lossless (T.81 Annex H): every predictor, 1/3/4 channels,
    8/12/16-bit domains — decode must be BIT-EXACT, not approximate."""
    import random

    from codec_encoders import jpeg_lossless_encode
    from extractor.jpegcodec import jpeg_decode

    rng = random.Random(8)
    for ch in (1, 3, 4):
        for w, h in ((1, 1), (8, 5), (23, 11)):
            px = bytes(
                rng.randrange(256) for _ in range(w * h * ch)
            )
            for pred in range(1, 8):
                enc = jpeg_lossless_encode(w, h, px, ch,
                                           predictor=pred)
                assert jpeg_decode(enc) == (w, h, ch, px), (
                    ch, w, h, pred,
                )
    px = bytes(rng.randrange(256) for _ in range(12 * 7))
    for prec in (12, 16):
        enc = jpeg_lossless_encode(12, 7, px, 1, predictor=4,
                                   precision=prec)
        assert jpeg_decode(enc)[3] == px


def test_lossless_jpeg_guards():
    import pytest

    from codec_encoders import jpeg_lossless_encode
    from extractor.jpegcodec import jpeg_decode

    with pytest.raises(ValueError, match="predictor"):
        jpeg_lossless_encode(4, 4, bytes(16), 1, predictor=0)
    enc = jpeg_lossless_encode(4, 4, bytes(16), 1)
    # truncated entropy data is a contained ValueError
    with pytest.raises(ValueError):
        jpeg_decode(enc[:-6])
