"""Extended-sequential JPEG (llm/jpeg12.py): 12-bit precision, CMYK
multi-component, wide Huffman alphabets, restart intervals.

Spec basis ITU-T T.81 (SOF1 extended sequential; §A.3.1 level shift
2^(P-1); §B.2.4.1 Pq=1 16-bit quant entries at 12-bit; §F.1.2.1 wider
SSSS categories).  Same verification split as the 8-bit codecs:
quant-exact fixtures are bit-exact through the lossy path, random
images are bounded-error property tests, corrupt bytes raise clean
errors (fuzz leg in tests/test_codec_corruption_fuzz.py).
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from my_flink_1_10_2_spark.llm.jpeg12 import (
    AC12_BITS,
    AC12_VALS,
    DC12_BITS,
    DC12_VALS,
    jpeg12_decode,
    jpeg12_encode,
)


def test_quant_exact_cmyk_is_bitwise():
    """Constant even-level 8x8 tiles: DC a multiple of Q[0,0]=16, AC
    zero — the full chain must be exact per plane."""
    rng = random.Random(31)
    for _ in range(10):
        tw, th = rng.randint(1, 4), rng.randint(1, 3)
        planes = []
        for _k in range(4):
            tiles = np.array(
                [2 * rng.randrange(2048) for _ in range(tw * th)], dtype=np.int64
            ).reshape(th, tw)
            planes.append(np.kron(tiles, np.ones((8, 8), dtype=np.int64)))
        data = jpeg12_encode(planes)
        prec, w, h, dec = jpeg12_decode(data)
        assert (prec, w, h, len(dec)) == (12, tw * 8, th * 8, 4)
        for k in range(4):
            assert np.array_equal(dec[k].astype(np.int64), planes[k])


def test_single_component_12bit_gray():
    img = np.kron(
        np.array([[1024, 2048], [4094, 0]], dtype=np.int64),
        np.ones((8, 8), dtype=np.int64),
    )
    prec, w, h, (dec,) = jpeg12_decode(jpeg12_encode([img]))
    assert (prec, w, h) == (12, 16, 16)
    assert np.array_equal(dec.astype(np.int64), img)


def test_random_images_bounded_error():
    """Lossy path on arbitrary 12-bit content: reconstruction error is
    bounded by the quantization grid (each coefficient off by <= Q/2;
    IDCT spreads at most sum(Q)/2/8 per pixel — assert a safe bound)."""
    rng = np.random.default_rng(202)
    for trial in range(6):
        h = int(rng.integers(8, 40))
        w = int(rng.integers(8, 40))
        ncomp = int(rng.integers(1, 5))
        planes = [rng.integers(0, 4096, (h, w)) for _ in range(ncomp)]
        prec, dw, dh, dec = jpeg12_decode(jpeg12_encode(planes))
        assert (prec, dw, dh, len(dec)) == (12, w, h, ncomp)
        for orig, back in zip(planes, dec):
            err = np.abs(back.astype(np.int64) - orig).max()
            assert err <= 600, f"trial {trial}: max err {err}"


def test_smooth_image_small_error():
    """On smooth content the coder should be near-transparent even at
    12 bits (gradients quantize mostly into DC + low AC)."""
    y, x = np.mgrid[0:32, 0:48]
    img = (2048 + 900 * np.sin(x / 9.0) + 700 * np.cos(y / 7.0)).astype(np.int64)
    _, _, _, (dec,) = jpeg12_decode(jpeg12_encode([img]))
    assert np.abs(dec.astype(np.int64) - img).max() <= 120


def test_wide_dc_categories_roundtrip():
    """Adjacent blocks at opposite extremes force DC diffs far past the
    8-bit SSSS<=11 range — the 12-bit DC alphabet must carry them."""
    tiles = np.array([[0, 4094, 0, 4094], [4094, 0, 4094, 0]], dtype=np.int64)
    img = np.kron(tiles, np.ones((8, 8), dtype=np.int64))
    _, _, _, (dec,) = jpeg12_decode(jpeg12_encode([img]))
    assert np.array_equal(dec.astype(np.int64), img)


def test_restart_intervals_resync_and_match():
    rng = np.random.default_rng(77)
    img = rng.integers(0, 4096, (24, 40))
    base = jpeg12_decode(jpeg12_encode([img]))[3][0]
    for ri in (1, 2, 3, 7):
        data = jpeg12_encode([img], restart_interval=ri)
        assert b"\xff\xd0" in data or b"\xff\xd1" in data
        dec = jpeg12_decode(data)[3][0]
        # restart changes predictor resets, not the quantized values
        assert np.array_equal(dec, base)


def test_precision8_differential_vs_baseline_gray():
    """SOF1 at P=8 must reconstruct identically to the baseline SOF0
    codec on quant-exact input (same quant table, same DCT grid)."""
    from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray, jpeg_encode_gray

    tiles = np.array([[100, 64], [254, 2]], dtype=np.int64)
    img = np.kron(tiles, np.ones((8, 8), dtype=np.int64))
    _, _, _, (dec12,) = jpeg12_decode(jpeg12_encode([img], precision=8))
    w0, h0, raw = jpeg_decode_gray(
        jpeg_encode_gray(16, 16, img.astype(np.uint8).tobytes())
    )
    base = np.frombuffer(raw, dtype=np.uint8).reshape(h0, w0)
    assert np.array_equal(dec12.astype(np.int64), base.astype(np.int64))


def test_adobe_app14_emitted_for_cmyk_only():
    p = np.full((8, 8), 2048, dtype=np.int64)
    assert b"Adobe" in jpeg12_encode([p, p, p, p])
    assert b"Adobe" not in jpeg12_encode([p])


def test_flat_tables_are_valid_canonical():
    """DHT sanity: counts fit their code space and no all-ones code."""
    for bits, vals in ((DC12_BITS, DC12_VALS), (AC12_BITS, AC12_VALS)):
        assert sum(bits) == len(vals)
        code, k = 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                assert code < (1 << ln) - 1  # all-ones forbidden
                code += 1
                k += 1
            code <<= 1


def test_named_gates_raise():
    p = np.full((8, 8), 100, dtype=np.int64)
    with pytest.raises(NotImplementedError):
        jpeg12_encode([p], precision=10)
    with pytest.raises(ValueError):
        jpeg12_encode([p] * 5)
    with pytest.raises(ValueError):
        jpeg12_encode([np.full((8, 8), 5000, dtype=np.int64)])
    # decoder gates: progressive SOF2 and subsampled SOF1
    data = bytearray(jpeg12_encode([p]))
    sof = data.find(b"\xff\xc1")
    data[sof + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        jpeg12_decode(bytes(data))
    data = bytearray(jpeg12_encode([p, p]))
    sof = data.find(b"\xff\xc1")
    data[sof + 11] = 0x22  # first component sampling (2,2)
    with pytest.raises(NotImplementedError, match="subsampled"):
        jpeg12_decode(bytes(data))
    data = bytearray(jpeg12_encode([p, p]))
    data[sof + 9] = 0x22  # component count Nf = 34
    with pytest.raises(NotImplementedError, match="34-component"):
        jpeg12_decode(bytes(data))


def test_fractional_quant_table_encodes_as_its_truncated_table():
    """DQT entries are integers, so a fractional table must quantize
    with the same integer steps it writes: both tiles decode exactly."""
    img = np.kron(np.array([[1024, 3000]]), np.ones((8, 8), dtype=np.int64))
    q = np.full((8, 8), 16.0)
    q[0, 0] = 16.6
    data = jpeg12_encode([img], quant=q)
    assert data == jpeg12_encode([img], quant=np.trunc(q))
    _, _, _, (dec,) = jpeg12_decode(data)
    assert np.array_equal(dec, img)


def test_odd_dimensions_pad_and_crop():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 4096, (13, 21))
    prec, w, h, (dec,) = jpeg12_decode(jpeg12_encode([img]))
    assert (w, h) == (21, 13) and dec.shape == (13, 21)


# -- progressive (SOF2) at 12-bit precision ---------------------------------


def test_progressive12_equals_sequential_on_random_images():
    """The four-scan progressive script reconstructs the SAME quantized
    coefficients as sequential, so the decoded planes must be bitwise
    identical — at 12-bit precision with the wide alphabets."""
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_decode_gray_progressive,
        jpeg_encode_gray_progressive,
    )

    rng = np.random.default_rng(404)
    for _ in range(5):
        h = int(rng.integers(8, 48))
        w = int(rng.integers(8, 48))
        img = rng.integers(0, 4096, (h, w))
        seq = jpeg12_decode(jpeg12_encode([img]))[3][0]
        pw, ph, praw = jpeg_decode_gray_progressive(
            jpeg_encode_gray_progressive(w, h, img, precision=12)
        )
        prog = np.frombuffer(praw, dtype="<u2").reshape(ph, pw)
        assert (pw, ph) == (w, h)
        assert np.array_equal(prog, seq)


def test_progressive12_quant_exact_and_restarts():
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_decode_gray_progressive,
        jpeg_encode_gray_progressive,
    )

    tiles = np.array([[100, 3000, 2048], [4094, 0, 1024]], dtype=np.int64)
    img = np.kron(tiles, np.ones((8, 8), dtype=np.int64))
    h, w = img.shape
    for ri in (0, 1, 2, 5):
        data = jpeg_encode_gray_progressive(
            w, h, img, precision=12, restart_interval=ri
        )
        pw, ph, praw = jpeg_decode_gray_progressive(data)
        out = np.frombuffer(praw, dtype="<u2").reshape(ph, pw)
        assert np.array_equal(out.astype(np.int64), img), ri


def test_progressive12_uint16_bytes_input():
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_decode_gray_progressive,
        jpeg_encode_gray_progressive,
    )

    img = np.kron(
        np.array([[512, 2048]], dtype=np.int64), np.ones((8, 8), dtype=np.int64)
    )
    raw = img.astype("<u2").tobytes()
    data = jpeg_encode_gray_progressive(16, 8, raw, precision=12)
    _, _, praw = jpeg_decode_gray_progressive(data)
    assert np.array_equal(
        np.frombuffer(praw, dtype="<u2").reshape(8, 16).astype(np.int64), img
    )


def test_progressive_8bit_path_unchanged():
    """The precision parameter must not perturb the 8-bit stream: the
    golden pin lives in test_jpeg_progressive.py; here just roundtrip."""
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_decode_gray_progressive,
        jpeg_encode_gray_progressive,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 24)).astype(np.uint8)
    w, h, raw = 24, 16, img.tobytes()
    out = jpeg_decode_gray_progressive(jpeg_encode_gray_progressive(w, h, raw))
    assert out[0] == 24 and out[1] == 16 and len(out[2]) == 24 * 16
