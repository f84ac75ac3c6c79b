"""Extended sequential JPEG (SOF1): 12-bit precision, 1..4 components
(CMYK), restart intervals.

What is extended sequential's own on top of the codec core
(llm/jpeg.py), per ITU-T T.81:

- SOF1 instead of SOF0, sample precision P = 12 (or 8) with level shift
  2^(P-1) = 2048 and clamp range 0..4095 (§A.3.1, §B.2.2); quant tables
  always go as 16-bit DQT entries (Pq=1, §B.2.4.1).
- Wider magnitude categories (§F.1.2.1): DC SSSS up to 15 and AC SSSS
  up to 14, which the Annex K tables do not cover.  Flat canonical
  tables sized for the full 12-bit alphabet (16 DC symbols at length 5,
  226 AC symbols at length 8) travel in the DHT segments, so any
  conforming decoder reads them; a value outside them raises ValueError.
- Up to four components interleaved at (1,1) sampling, one DC predictor
  each; an Adobe APP14 with transform 0 marks 4-component data as
  direct CMYK (the convention Adobe readers expect).

Exactness contract as for 8-bit: constant even-level 8x8 tiles give
DC = 8·(level−2048), a multiple of Q[0,0]=16, and zero AC, so the
graded query checks the whole chain bitwise.  Subsampled components,
arithmetic coding and hierarchical frames raise NotImplementedError;
12-bit progressive streams decode through llm/jpeg_progressive.py.
"""

from __future__ import annotations

import struct

import numpy as np

from my_flink_1_10_2_spark.llm.jpeg import (
    STD_LUMA_QUANT,
    _decode_sequential,
    _encode_sequential,
    _Frame,
    _parse,
    _seg,
)

# Flat canonical Huffman tables covering the FULL 12-bit alphabet
# (T.81 Annex C canonical construction; transmitted in DHT, so any
# conforming decoder reads them — flatness trades a few percent of
# compression for table simplicity, legal per spec).
DC12_BITS = (0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
DC12_VALS = tuple(range(16))  # SSSS 0..15
_AC_SYMBOLS = (0x00, 0xF0) + tuple(
    (run << 4) | size for run in range(16) for size in range(1, 15)
)
AC12_BITS = (0, 0, 0, 0, 0, 0, 0, len(_AC_SYMBOLS), 0, 0, 0, 0, 0, 0, 0, 0)
AC12_VALS = tuple(sorted(_AC_SYMBOLS))


def jpeg12_encode(
    planes,
    *,
    precision: int = 12,
    quant=None,
    restart_interval: int = 0,
) -> bytes:
    """Encode 1..4 equally-sized planes (2-D arrays of 0..2^P-1 ints) as
    one extended-sequential (SOF1) JPEG at ``precision`` 12 (or 8 —
    useful for differentials against the baseline codec)."""
    if precision not in (8, 12):
        raise NotImplementedError(f"precision {precision} (8/12 supported)")
    planes = [np.asarray(p, dtype=np.float64) for p in planes]
    ncomp = len(planes)
    if not 1 <= ncomp <= 4:
        raise ValueError(f"1..4 components required, got {ncomp}")
    h, w = planes[0].shape
    if any(p.shape != (h, w) for p in planes):
        raise ValueError("all components must share dimensions at (1,1) sampling")
    maxval = (1 << precision) - 1
    if any(p.min() < 0 or p.max() > maxval for p in planes):
        raise ValueError(f"samples out of 0..{maxval} range")
    q = np.asarray(quant if quant is not None else STD_LUMA_QUANT,
                   dtype=np.int32)
    frame = _Frame(0xC1, precision, w, h, [(c + 1, 1, 1, 0) for c in range(ncomp)])
    # Adobe APP14, transform 0: components are direct CMYK
    app = _seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 0)) if ncomp == 4 else b""
    return _encode_sequential(
        frame, planes, [q], [(DC12_BITS, DC12_VALS, AC12_BITS, AC12_VALS)],
        restart_interval, app=app, wide=True,
    )


def jpeg12_decode(data: bytes):
    """Decode an extended-sequential JPEG → (precision, width, height,
    [plane, ...]) with planes as (h, w) uint16 arrays.  Raises
    NotImplementedError naming any unsupported profile."""
    frame = _parse(data)
    if frame.sof not in (0xC0, 0xC1):
        raise NotImplementedError(
            f"SOF marker 0xFF{frame.sof:02X} (progressive/arithmetic/"
            "hierarchical) unsupported here"
        )
    if frame.precision not in (8, 12):
        raise NotImplementedError(f"precision {frame.precision} (8/12 supported)")
    if frame.sof == 0xC0 and frame.precision != 8:
        raise ValueError("baseline SOF0 requires 8-bit precision")
    if any((c.h, c.v) != (1, 1) for c in frame.comps):
        raise NotImplementedError(
            "subsampled extended JPEG unsupported "
            "(use llm/jpeg_color.py for 8-bit 4:2:x)"
        )
    if any(len(s.cis) != len(frame.comps) for s in frame.scans):
        raise NotImplementedError("non-interleaved extended scan unsupported")
    return frame.precision, frame.width, frame.height, _decode_sequential(frame)
