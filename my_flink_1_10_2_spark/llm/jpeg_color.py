"""Baseline color JPEG: YCbCr planes with 4:4:4, 4:2:2 or 4:2:0 chroma.

What is color's own on top of the codec core (llm/jpeg.py): the Annex
K.2 chroma quant table and K.4/K.6 chroma Huffman tables (luma keeps
table id 0, both chroma components use id 1), chroma subsampling by box
average (2x2 for 4:2:0, horizontal pairs for 4:2:2) with replication
back up on decode, and the JFIF BT.601 RGB conversions.

The planes API keeps the exactness contract gradeable: constant 16x16
tiles survive the box average, and levels chosen per channel make the
DC a multiple of each table's step (Q_luma[0,0]=16: even levels;
Q_chroma[0,0]=17: 128 ± 17k), so they are bit-exact through the lossy
path.  The RGB helpers stay separate so color-space rounding never
touches the graded statistics."""

from __future__ import annotations

import numpy as np

from my_flink_1_10_2_spark.llm.jpeg import (
    AC_BITS,
    AC_VALS,
    DC_BITS,
    DC_VALS,
    STD_LUMA_QUANT,
    _check_8bit,
    _decode_sequential,
    _encode_sequential,
    _Frame,
    _pad_plane,
    _parse,
)

# ITU-T T.81 Annex K.2 — standard chrominance quantization table
STD_CHROMA_QUANT = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# Annex K.4 — DC chrominance Huffman spec
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

# Annex K.6 — AC chrominance Huffman spec
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# quant tables and (DC, AC) Huffman specs by table id: 0 luma, 1 chroma
_QUANTS = [STD_LUMA_QUANT, STD_CHROMA_QUANT]
_TABLES = [
    (DC_BITS, DC_VALS, AC_BITS, AC_VALS),
    (DC_CHROMA_BITS, DC_CHROMA_VALS, AC_CHROMA_BITS, AC_CHROMA_VALS),
]
_SUBSAMPLING = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}


def rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    """JFIF full-range BT.601, rounded to ints (one pixel)."""
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    clamp = lambda v: max(0, min(255, int(round(v))))  # noqa: E731
    return clamp(y), clamp(cb), clamp(cr)


def ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136286 * (cb - 128) - 0.714136286 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    clamp = lambda v: max(0, min(255, int(round(v))))  # noqa: E731
    return clamp(r), clamp(g), clamp(b)


def _color_frame(sof: int, width: int, height: int, y: bytes, cb: bytes,
                 cr: bytes, subsampling: str):
    """(frame, [Y, Cb, Cr] planes at their sampled resolution) for the
    color encoders: luma at (sh, sv) sampling, chroma box-averaged."""
    for name, p in (("y", y), ("cb", cb), ("cr", cr)):
        if len(p) != width * height:
            raise ValueError(f"plane {name}: expected {width * height} bytes")
    if subsampling not in _SUBSAMPLING:
        raise ValueError("subsampling must be '4:2:0', '4:2:2' or '4:4:4'")
    sh, sv = _SUBSAMPLING[subsampling]
    planes = [
        np.frombuffer(raw, dtype=np.uint8).reshape(height, width).astype(np.float64)
        for raw in (y, cb, cr)
    ]
    if sh == 2:
        for i in (1, 2):
            p = _pad_plane(planes[i], -(-height // sv) * sv, -(-width // 2) * 2)
            if sv == 2:
                p = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
            else:  # 4:2:2 — horizontal box average only
                p = (p[:, 0::2] + p[:, 1::2]) / 2.0
            planes[i] = p
    frame = _Frame(sof, 8, width, height, [(1, sh, sv, 0), (2, 1, 1, 1), (3, 1, 1, 1)])
    return frame, planes


def jpeg_encode_color(
    width: int,
    height: int,
    y: bytes,
    cb: bytes,
    cr: bytes,
    *,
    subsampling: str = "4:2:0",
) -> bytes:
    """Encode full-resolution Y/Cb/Cr planes (each width*height bytes,
    row-major) as a baseline color JFIF JPEG.  4:2:0 box-averages the
    chroma planes 2x2 before encoding, 4:2:2 horizontally only; 4:4:4
    keeps them full-res."""
    frame, planes = _color_frame(0xC0, width, height, y, cb, cr, subsampling)
    return _encode_sequential(frame, planes, _QUANTS, _TABLES)


def jpeg_decode_color(data: bytes) -> tuple[int, int, bytes, bytes, bytes]:
    """Decode a baseline color JPEG → (width, height, y, cb, cr) planes,
    all at FULL resolution (subsampled chroma is replicated back up);
    a grayscale stream decodes with neutral chroma and 8-bit progressive
    streams route to llm/jpeg_progressive.py.  Raises
    NotImplementedError outside the baseline YCbCr profile."""
    frame = _parse(data)
    _check_8bit(frame)
    if frame.sof == 0xC2:
        from my_flink_1_10_2_spark.llm.jpeg_progressive import (
            jpeg_decode_color_progressive,
            jpeg_decode_gray_progressive,
        )

        if len(frame.comps) == 1:
            w, h, px = jpeg_decode_gray_progressive(data)
            return w, h, px, bytes([128] * (w * h)), bytes([128] * (w * h))
        return jpeg_decode_color_progressive(data)
    if frame.sof != 0xC0:
        raise ValueError(f"not a baseline JPEG: SOF marker 0xFF{frame.sof:02X}")
    if len(frame.comps) not in (1, 3):
        raise NotImplementedError(f"{len(frame.comps)}-component JPEG unsupported")
    if not all((c.h, c.v) in _SUBSAMPLING.values() for c in frame.comps) or (
        frame.hmax, frame.vmax) not in _SUBSAMPLING.values():
        raise NotImplementedError(
            "only 4:4:4, 4:2:2 and 4:2:0 sampling factors supported"
        )
    if frame.restart_interval:
        raise NotImplementedError("restart intervals in color scans unsupported")
    if any(len(s.cis) != len(frame.comps) for s in frame.scans):
        raise NotImplementedError("non-interleaved color scan unsupported")
    planes = [p.astype(np.uint8).tobytes() for p in _decode_sequential(frame)]
    if len(planes) == 1:
        planes += [bytes([128] * (frame.width * frame.height))] * 2
    return frame.width, frame.height, planes[0], planes[1], planes[2]
