"""Baseline JPEG codec (llm/jpeg.py — ITU-T T.81 subset): marker
framing, Huffman/zigzag/quant/DCT pipeline, quant-exact tile contract,
bounded loss on natural images, honest gates for unsupported modes."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from my_flink_1_10_2_spark.llm.jpeg import (
    ZIGZAG,
    jpeg_decode_gray,
    jpeg_encode_gray,
)


def test_zigzag_is_the_standard_order():
    # spot-pin the canonical prefix and suffix of the T.81 zigzag
    assert ZIGZAG[:10] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
        (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
    ]
    assert ZIGZAG[-3:] == [(6, 7), (7, 6), (7, 7)]
    assert sorted(ZIGZAG) == [(r, c) for r in range(8) for c in range(8)]


def test_constant_even_tiles_roundtrip_exactly():
    rng = np.random.RandomState(7)
    tiles = (rng.randint(0, 128, size=(3, 4)) * 2).astype(np.uint8)
    img = np.kron(tiles, np.ones((8, 8), dtype=np.uint8))
    data = jpeg_encode_gray(32, 24, img.tobytes())
    w, h, px = jpeg_decode_gray(data)
    assert (w, h) == (32, 24)
    assert np.array_equal(
        np.frombuffer(px, dtype=np.uint8).reshape(24, 32), img
    )
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"


@given(st.integers(min_value=1, max_value=40), st.integers(min_value=1, max_value=40),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_natural_images_decode_with_bounded_error(w, h, seed):
    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    data = jpeg_encode_gray(w, h, img.tobytes())
    w2, h2, px = jpeg_decode_gray(data)
    assert (w2, h2) == (w, h)
    back = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
    # random noise is JPEG's worst case; error is bounded by the quant
    # table's energy (empirically < 128 for the standard table)
    assert np.abs(back.astype(int) - img.astype(int)).max() < 128


def test_smooth_image_decodes_closely():
    xx, yy = np.meshgrid(np.arange(40), np.arange(24))
    img = (64 + xx + yy).astype(np.uint8)  # gentle ramp, no wraparound
    data = jpeg_encode_gray(40, 24, img.tobytes())
    _, _, px = jpeg_decode_gray(data)
    back = np.frombuffer(px, dtype=np.uint8).reshape(24, 40)
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 12


def test_byte_stuffing_roundtrip():
    # an all-white image produces long 1-runs in the entropy stream --
    # the classic 0xFF-stuffing case; also 254 is even => exact
    img = np.full((8, 8), 254, dtype=np.uint8)
    data = jpeg_encode_gray(8, 8, img.tobytes())
    _, _, px = jpeg_decode_gray(data)
    assert set(px) == {254}


def test_rejects_unsupported_sof_and_garbage():
    img = np.zeros((8, 8), dtype=np.uint8)
    data = bytearray(jpeg_encode_gray(8, 8, img.tobytes()))
    sof = data.find(b"\xff\xc0")
    data[sof : sof + 2] = b"\xff\xc9"  # SOF9: arithmetic coding — gated
    with pytest.raises(NotImplementedError, match="SOF"):
        jpeg_decode_gray(bytes(data))
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode_gray(b"\x00\x01\x02")


def test_wrong_pixel_count_is_loud():
    with pytest.raises(ValueError, match="expected 64 pixels"):
        jpeg_encode_gray(8, 8, b"\x00" * 63)


def test_multimodal_dispatch_decodes_jpeg(spark):
    from my_flink_1_10_2_spark.llm.multimodal import (
        extract_features,
        synthetic_jpeg_media,
    )

    docs = spark.createDataFrame([(d,) for d in range(6)], "doc_id long")
    feats = extract_features(synthetic_jpeg_media(docs), fake=False)
    rows = {r.media_id: r.features for r in feats.collect()}
    for d in range(6):
        tw, th = 2 + d % 3, 1 + d % 2
        vals = [((d * 37 + t * 29) % 128) * 2 for t in range(tw * th)]
        w, h, ch, n, s, lo, hi = rows[d]
        assert (w, h, ch, n) == (tw * 8, th * 8, 1, tw * th * 64)
        assert s == 64 * sum(vals)
        assert (lo, hi) == (min(vals), max(vals))


# -- restart intervals (DRI + RSTn, T.81 §B.2.4.4 / §E.1.4) -------------------


def test_restart_interval_roundtrip_matches_plain_encoding():
    """Same pixels encoded with and without restart markers must decode
    IDENTICALLY — restarts change the entropy framing, never the DCT
    content (and the DC predictor reset must be mirrored on both
    sides)."""
    import numpy as np

    from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray, jpeg_encode_gray

    rng = np.random.default_rng(7)
    w, h = 40, 24  # 5x3 = 15 MCUs -> crosses several RSTn cycles at dri=2
    px = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
    plain = jpeg_decode_gray(jpeg_encode_gray(w, h, px))
    for dri in (1, 2, 7):
        with_rst = jpeg_decode_gray(
            jpeg_encode_gray(w, h, px, restart_interval=dri)
        )
        assert with_rst == plain, f"dri={dri}"


def test_restart_marker_sequence_is_enforced():
    """A swapped RSTn (out-of-cycle) must fail loudly — the sequence
    check is what lets real decoders detect dropped segments."""
    import pytest

    from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray, jpeg_encode_gray

    data = bytearray(jpeg_encode_gray(16, 8, bytes(range(128)), restart_interval=1))
    i = data.find(b"\xff\xd0")
    assert i > 0
    data[i + 1] = 0xD5  # corrupt RST0 -> RST5
    with pytest.raises(ValueError, match="out of sequence"):
        jpeg_decode_gray(bytes(data))


def test_dri_zero_means_no_restarts():
    from my_flink_1_10_2_spark.llm.jpeg import jpeg_encode_gray

    out = jpeg_encode_gray(16, 8, bytes(range(128)), restart_interval=0)
    assert b"\xff\xdd" not in out  # no DRI segment emitted


# -- progressive (SOF2) — T.81 Annex G ----------------------------------------


def test_progressive_decodes_identically_to_baseline():
    """Both encoders quantize identically, so the progressive stream's
    reassembled coefficients must reproduce the baseline decode
    pixel-for-pixel — any defect in DC DPCM at Al=1, the EOB band
    coding, or either refinement pass breaks this."""
    import numpy as np

    from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray, jpeg_encode_gray
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_encode_gray_progressive,
    )

    rng = np.random.default_rng(11)
    for w, h in [(8, 8), (24, 16), (33, 25)]:
        px = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
        base = jpeg_decode_gray(jpeg_encode_gray(w, h, px))
        prog = jpeg_decode_gray(jpeg_encode_gray_progressive(w, h, px))
        assert prog == base, (w, h)


def test_progressive_smooth_image_roundtrip_error_bounded():
    import math

    import numpy as np

    from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_encode_gray_progressive,
    )

    w, h = 32, 24
    px = bytes(
        int(128 + 100 * math.sin(x / 5.0) * math.cos(y / 7.0))
        for y in range(h) for x in range(w)
    )
    dw, dh, out = jpeg_decode_gray(jpeg_encode_gray_progressive(w, h, px))
    assert (dw, dh) == (w, h)
    err = [abs(a - b) for a, b in zip(px, out)]
    assert sum(err) / len(err) < 12  # usual quantization error envelope


def test_progressive_quant_exact_tiles_are_bit_exact():
    """Constant even-level 8x8 tiles hold only DC energy that is an
    exact multiple of Q00=16 — bit-exact through the progressive path
    too (the graded-query contract)."""
    from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_encode_gray_progressive,
    )

    w, h = 32, 16
    tiles = [2 * ((7 * t) % 128) for t in range(8)]
    px = bytes(tiles[(y // 8) * 4 + (x // 8)] for y in range(h) for x in range(w))
    assert jpeg_decode_gray(jpeg_encode_gray_progressive(w, h, px)) == (w, h, px)


def test_progressive_restart_intervals_roundtrip():
    import numpy as np

    from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_encode_gray_progressive,
    )

    rng = np.random.default_rng(5)
    w, h = 40, 24
    px = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
    plain = jpeg_decode_gray(jpeg_encode_gray_progressive(w, h, px))
    for dri in (1, 3):
        with_rst = jpeg_decode_gray(
            jpeg_encode_gray_progressive(w, h, px, restart_interval=dri)
        )
        assert with_rst == plain, f"dri={dri}"


def test_progressive_decoder_handles_accumulated_eobrun():
    """Our encoder only emits EOB0, but real progressive encoders
    accumulate end-of-band runs (EOBn, n>0) with custom Huffman tables.
    Hand-assemble a stream whose AC-first scan covers three blocks with
    a single EOB1 run (eobrun=2: current block + one more) and verify
    the decoder reconstructs the same pixels as the equivalent
    EOB0-per-block stream."""
    import struct

    import numpy as np

    from my_flink_1_10_2_spark.llm.jpeg import (
        DC_BITS,
        DC_VALS,
        STD_LUMA_QUANT,
        ZIGZAG,
        _BitWriter,
        _build_codes,
        jpeg_decode_gray,
    )
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_encode_gray_progressive,
    )

    # custom AC table with codes for EOB0(0x00), EOB1(0x10), ZRL, (0,1),
    # (0,2): five values, all 3-bit codes
    ac_bits = [0, 0, 5] + [0] * 13
    ac_vals = [0x00, 0x10, 0xF0, 0x01, 0x02]
    ac_codes = _build_codes(ac_bits, ac_vals)
    dc_codes = _build_codes(DC_BITS, DC_VALS)

    w, h = 24, 8  # three 8x8 blocks
    # block 0 gets one AC coefficient; blocks 1-2 are DC-only (the EOB1
    # run); choose pixel data indirectly by writing coefficients
    def scans(use_eobrun):
        # DC first scan (Al=1): DC values 4, 6, 8 -> shifted 2, 3, 4
        wdc = _BitWriter()
        pred = 0
        for dcv in (2, 3, 4):
            diff = dcv - pred
            pred = dcv
            size = diff.bit_length()
            code, ln = dc_codes[size]
            wdc.write(code, ln)
            if size:
                wdc.write(diff, size)  # positive: bits = value
        # AC first scan (Al=1): block0 has AC k=1 value 2 (shifted 1)
        wac = _BitWriter()
        code, ln = ac_codes[0x01]  # (run 0, size 1)
        wac.write(code, ln)
        wac.write(1, 1)  # positive magnitude-1 bits
        if use_eobrun:
            code, ln = ac_codes[0x00]  # end block 0's band
            wac.write(code, ln)
            code, ln = ac_codes[0x10]  # EOB1: eobrun = 2 + 1 extra bit
            wac.write(code, ln)
            wac.write(0, 1)  # eobrun = (1<<1) + 0 = 2 -> blocks 1 and 2
        else:
            for _ in range(3):  # EOB0 for blocks 0,1,2 individually
                code, ln = ac_codes[0x00]
                wac.write(code, ln)
        # DC refine: bits 0,0,0 ; AC refine: blocks have no |v|==1 news
        wdr = _BitWriter()
        for _ in range(3):
            wdr.write(0, 1)
        war = _BitWriter()
        for _ in range(3):
            code, ln = ac_codes[0x00]  # EOB0 + correction bit for the
            war.write(code, ln)
        # block-0 nonzero-history coefficient k=1 rides after its EOB
            if _ == 0:
                war.write(0, 1)
        return wdc.flush(), wac.flush(), wdr.flush(), war.flush()

    def assemble(use_eobrun):
        def seg(marker, body):
            return struct.pack(">HH", marker, len(body) + 2) + body

        dcs, acs, dcr, acr = scans(use_eobrun)
        out = bytearray(b"\xff\xd8")
        out += seg(0xFFDB, bytes([0]) + bytes(
            int(STD_LUMA_QUANT[r, c]) for r, c in ZIGZAG))
        out += seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
        out += seg(0xFFC4, bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS))
        out += seg(0xFFC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
        out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + dcs
        out += seg(0xFFDA, bytes([1, 1, 0x00, 1, 63, 0x01])) + acs
        out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + dcr
        out += seg(0xFFDA, bytes([1, 1, 0x00, 1, 63, 0x10])) + acr
        out += b"\xff\xd9"
        return bytes(out)

    with_run = jpeg_decode_gray(assemble(True))
    without = jpeg_decode_gray(assemble(False))
    assert with_run == without
    assert with_run[0] == w and with_run[1] == h


# -- AC-refinement correction-bit windows (ADVICE r7, high) --------------------


def _refine_entropy_roundtrip(full_band):
    """Drive ONE block's AC-refinement band through the encoder helper
    and back through the decoder's positional walk; returns the
    reconstructed band (history from the Al=1 first scan + this
    refinement)."""
    from my_flink_1_10_2_spark.llm.jpeg import (
        AC_BITS,
        AC_VALS,
        _BitWriter,
        _build_codes,
        _build_lut,
        _FastBitReader,
    )
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        _ac_refine_block,
        _trunc_shift,
        _write_ac_refine_block,
    )

    codes = _build_codes(AC_BITS, AC_VALS)
    table = _build_lut(tuple(AC_BITS), tuple(AC_VALS))
    w = _BitWriter()
    _write_ac_refine_block(w, list(full_band), codes)
    zz = [0] + [_trunc_shift(v, 1) << 1 for v in full_band]
    eobrun = _ac_refine_block(_FastBitReader(w.flush()), zz, 1, 63, 0, table, 0)
    assert eobrun == 0
    return zz[1:]


def test_ac_refine_zrl_carries_only_in_window_correction_bits():
    """A ZRL spans exactly 16 zero-HISTORY positions; correction bits
    for |v|>1 coefficients beyond that span must ride with a LATER
    symbol (T.81 G.1.2.3 / libjpeg jcphuff bookkeeping).  Each band here
    has >16 zero-history zeros before a newly-nonzero coefficient and a
    nonzero-history coefficient positioned after the 16th zero — the
    exact desync shape the round-7 flush-everything encoder produced."""
    cases = [
        # 16 zeros, history |v|>1, 4 zeros, newly ±1
        [0] * 16 + [5] + [0] * 4 + [1],
        # history first, then a 20-zero run into a newly-nonzero
        [7] + [0] * 20 + [-1],
        # two ZRLs worth of zeros with history sprinkled past both windows
        [0] * 17 + [3] + [0] * 17 + [-5] + [0] * 3 + [1, 0, 9],
        # newly-nonzero at band end after history beyond the window
        [0] * 16 + [-3] + [0] * 44 + [1],
        # no newly-nonzero at all: everything folds into EOB
        [0] * 30 + [5, -7] + [0] * 10,
    ]
    for band in cases:
        band = band + [0] * (63 - len(band))
        assert _refine_entropy_roundtrip(band) == band, band


def test_ac_refine_entropy_layer_fuzz():
    """Randomized bands weighted toward long zero runs + mixed
    newly/history coefficients; every one must reconstruct exactly."""
    import numpy as np

    rng = np.random.default_rng(707)
    for _ in range(300):
        band = [0] * 63
        for _ in range(int(rng.integers(0, 10))):
            pos = int(rng.integers(0, 63))
            band[pos] = int(rng.choice([-9, -5, -3, -2, -1, 1, 1, -1, 2, 3, 8]))
        assert _refine_entropy_roundtrip(band) == band, band


def test_progressive_fuzz_matches_baseline_many_seeds():
    """Randomized progressive-vs-baseline equivalence over many seeds
    and sizes (the round-7 suite used 3 sizes / 1 seed and missed the
    correction-bit window bug — ~5% of random images hit it)."""
    import numpy as np

    from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray, jpeg_encode_gray
    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_encode_gray_progressive,
    )

    for seed in range(20):
        rng = np.random.default_rng(seed)
        w = int(rng.integers(8, 56))
        h = int(rng.integers(8, 48))
        px = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
        base = jpeg_decode_gray(jpeg_encode_gray(w, h, px))
        prog = jpeg_decode_gray(jpeg_encode_gray_progressive(w, h, px))
        assert prog == base, (seed, w, h)


def test_progressive_gray_decoder_honors_component_tq():
    """Third-party gray progressive streams may carry their quant table
    in slot 1 with the SOF2 component's Tq=1 — the decoder must
    dequantize with the component's table, not hardcode slot 0
    (ADVICE r7, low).  Byte-patch our own stream's DQT slot + SOF2 Tq
    and require an identical decode."""
    import numpy as np

    from my_flink_1_10_2_spark.llm.jpeg_progressive import (
        jpeg_decode_gray_progressive,
        jpeg_encode_gray_progressive,
    )

    rng = np.random.default_rng(3)
    w, h = 24, 16
    px = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
    data = bytearray(jpeg_encode_gray_progressive(w, h, px))
    want = jpeg_decode_gray_progressive(bytes(data))
    # DQT body starts 4 bytes after the FFDB marker: set Tq 0 -> 1
    dqt = data.index(b"\xff\xdb")
    assert data[dqt + 4] == 0x00
    data[dqt + 4] = 0x01
    # SOF2 component spec: body = P,H,W,Nf then [cid, hv, tq]; tq is
    # body[8], i.e. 4 (marker+len) + 8 after the FFC2 marker
    sof = data.index(b"\xff\xc2")
    assert data[sof + 4 + 8] == 0x00
    data[sof + 4 + 8] = 0x01
    assert jpeg_decode_gray_progressive(bytes(data)) == want
