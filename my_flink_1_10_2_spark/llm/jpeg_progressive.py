"""Progressive JPEG (SOF2): spectral selection + successive
approximation, grayscale at 8 or 12 bits and 8-bit YCbCr color.

What is progressive's own on top of the codec core (llm/jpeg.py) is the
scan script and the four scan kinds of ITU-T T.81 Annex G.  The encoder
writes, for any component set:

  1. DC first        Ss=0 Se=0  Ah=0 Al=1   interleaved, DPCM over dc >> 1
  2. AC first        Ss=1 Se=63 Ah=0 Al=1   one scan per component, band
                                            at half magnitude, EOB per block
  3. DC refinement   Ss=0 Se=0  Ah=1 Al=0   interleaved, one raw bit per block
  4. AC refinement   Ss=1 Se=63 Ah=1 Al=0   one scan per component: newly
                                            nonzero ±1 runs + correction bits

AC scans are never interleaved (§G.1.1.1.1), so they walk each
component's own block grid.  The encoder emits EOB0 only (an end-of-band
run of exactly one block), so the Annex K tables suffice; the decoder
handles the general EOBRUN form, which needs the DHT tables that real
encoders write per image.  Restarts reset the DC predictors and the
end-of-band run (§G.1.2).

Point transforms follow the spec's asymmetry: DC uses the arithmetic
right shift (floor), AC divides with truncation toward zero; the
refinement decoder reconstructs with the OR / ±(1<<Al) moves, which
makes both exact for either sign.  The quantized coefficients equal
the sequential encoders', so a progressive stream decodes to the same
pixels as the sequential one — the property the tests pin."""

from __future__ import annotations

import numpy as np

from my_flink_1_10_2_spark.llm.jpeg import (
    AC_BITS,
    AC_VALS,
    DC_BITS,
    DC_VALS,
    STD_LUMA_QUANT,
    _BitWriter,
    _build_codes,
    _check_8bit,
    _encode_block,
    _encode_scan,
    _Frame,
    _parse,
    _planes,
    _quantize,
    _scan_units,
    _sos,
    _write_jpeg,
)
from my_flink_1_10_2_spark.llm.jpeg12 import AC12_BITS, AC12_VALS, DC12_BITS, DC12_VALS
from my_flink_1_10_2_spark.llm.jpeg_color import (
    _QUANTS,
    _SUBSAMPLING,
    _TABLES,
    _color_frame,
)


def _trunc_shift(v: int, al: int) -> int:
    """AC point transform: divide by 2^Al truncating toward ZERO
    (T.81 G.1.2.2 — distinct from the DC arithmetic shift)."""
    return -((-v) >> al) if v < 0 else v >> al


def _write_ac_refine_block(w: _BitWriter, band: list[int], codes: dict) -> None:
    """AC-refinement entropy coding for one block's band (T.81 G.1.2.3,
    Al=0) with libjpeg jcphuff-style correction-bit bookkeeping.

    The decoder's positional walk reads, per emitted symbol, only the
    correction bits of nonzero-history coefficients lying within that
    symbol's span (a ZRL spans exactly 16 zero-HISTORY positions).  So a
    ZRL may NOT flush bits for history coefficients beyond its span.
    libjpeg keeps the invariant by running the while-ZRL drain at EVERY
    nonzero coefficient — before buffering a history coefficient's bit —
    which guarantees each buffered bit's position precedes the zero run
    of whichever symbol eventually flushes it.  Flushing every buffered
    bit at a ZRL instead desyncs on blocks with >16 zero-history zeros
    before a newly-nonzero coefficient and a |v|>1 coefficient after the
    16th zero."""
    newly = [i for i, v in enumerate(band) if v in (1, -1)]
    eob = newly[-1] if newly else -1  # last newly-nonzero position
    run = 0  # run of zero-HISTORY positions
    pending: list[int] = []  # buffered correction bits (nonzero history)
    for k, v in enumerate(band):
        a = -v if v < 0 else v
        if a == 0:
            run += 1
            continue
        # drain ZRLs first (not foldable into EOB only while k <= eob);
        # each ZRL carries the bits buffered BEFORE its 16-zero span
        while run > 15 and k <= eob:
            code, ln = codes[0xF0]
            w.write(code, ln)
            run -= 16
            for b in pending:
                w.write(b, 1)
            pending = []
        if a > 1:  # nonzero history: buffer the correction bit
            pending.append(a & 1)
            continue
        # newly nonzero (|v| == 1)
        code, ln = codes[run * 16 + 1]
        w.write(code, ln)
        w.write(1 if v > 0 else 0, 1)
        for b in pending:
            w.write(b, 1)
        pending = []
        run = 0
    if run > 0 or pending:  # trailing zeros / history bits fold into EOB
        code, ln = codes[0x00]
        w.write(code, ln)
        for b in pending:
            w.write(b, 1)


def _encode_progressive(frame: _Frame, planes, quants, tables,
                        restart_interval: int = 0, wide: bool = False) -> bytes:
    """Quantize like the sequential encoders, then write the four-pass
    script above over every component of ``frame``."""
    _quantize(frame, planes, quants)
    codes = [(_build_codes(a, b), _build_codes(c, d)) for a, b, c, d in tables]

    def dc_first(w, zz, pred, c):  # DC >> 1 as a DPCM difference
        return _encode_block(w, [zz[0] >> 1], pred, codes[c.tq][0], None)

    def ac_first(w, zz, pred, c):  # the band at half magnitude, EOB0
        band = [0] + [_trunc_shift(v, 1) for v in zz[1:]]
        return _encode_block(w, band, 0, None, codes[c.tq][1])

    def dc_refine(w, zz, pred, c):  # the bit the first pass dropped
        w.write(zz[0] & 1, 1)

    def ac_refine(w, zz, pred, c):
        _write_ac_refine_block(w, zz[1:], codes[c.tq][1])

    every = range(len(frame.comps))
    scans = bytearray()
    for ah, al, dc_pass, ac_pass in ((0, 1, dc_first, ac_first),
                                     (1, 0, dc_refine, ac_refine)):
        scans += _sos(frame, every, 0, 0, ah, al)
        scans += _encode_scan(frame, every, restart_interval, dc_pass)
        for ci in every:
            scans += _sos(frame, [ci], 1, 63, ah, al)
            scans += _encode_scan(frame, [ci], restart_interval, ac_pass)
    return _write_jpeg(frame, quants, tables, bytes(scans), restart_interval,
                       wide=wide)


def jpeg_encode_gray_progressive(
    width: int,
    height: int,
    pixels: bytes,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Encode grayscale pixels as a PROGRESSIVE (SOF2) JPEG with the
    four-scan script above.  Quantized coefficients are identical to
    the baseline encoder's, so both decode to the same pixels.

    ``precision`` 12 (T.81 allows 8 or 12 in progressive mode) takes
    uint16-LE bytes or an (h, w) ndarray, level-shifts by 2048, writes
    16-bit DQT entries (Pq=1) and uses the 12-bit-wide Huffman
    alphabets of llm/jpeg12.py — AC magnitudes after the Al=1 point
    transform stay within SSSS<=14, and EOBn beyond EOB0 is never
    emitted by this script, so the flat AC12 table covers every
    symbol."""
    if precision not in (8, 12):
        raise NotImplementedError(f"precision {precision} (8/12 supported)")
    if isinstance(pixels, np.ndarray):
        if pixels.size != width * height:
            raise ValueError(f"expected {width * height} pixels array")
        img = pixels.reshape(height, width)
    elif len(pixels) != width * height * (1 if precision == 8 else 2):
        raise ValueError(f"expected {width * height} pixels, got {len(pixels)}")
    else:
        dtype = np.uint8 if precision == 8 else np.dtype("<u2")
        img = np.frombuffer(bytes(pixels), dtype=dtype).reshape(height, width)
    q = STD_LUMA_QUANT if quant is None else np.asarray(quant, dtype=np.int32)
    if precision == 12:
        tables = [(DC12_BITS, DC12_VALS, AC12_BITS, AC12_VALS)]
    else:
        tables = [(DC_BITS, DC_VALS, AC_BITS, AC_VALS)]
    frame = _Frame(0xC2, precision, width, height, [(1, 1, 1, 0)])
    return _encode_progressive(
        frame, [img], [q], tables, restart_interval, wide=precision == 12
    )


def jpeg_encode_color_progressive(
    width: int, height: int, y: bytes, cb: bytes, cr: bytes,
    *, subsampling: str = "4:2:0",
) -> bytes:
    """Progressive COLOR JPEG: interleaved DC scans + per-component AC
    scans (four + 2x2 scans total), quantized identically to the
    baseline color encoder."""
    frame, planes = _color_frame(0xC2, width, height, y, cb, cr, subsampling)
    return _encode_progressive(frame, planes, _QUANTS, _TABLES)


# -- decoder -----------------------------------------------------------------


def _ac_first_block(r, zz, ss, se, al, lut, eobrun) -> int:
    """One block of an AC-first scan; returns the updated EOBRUN."""
    if eobrun:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = r.decode(lut)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run != 15:
                return (1 << run) - 1 + r.read(run)
            k += 16  # ZRL
            continue
        k += run
        if k > se:
            raise ValueError("AC run past band end")
        zz[k] = r.receive(size) << al
        k += 1
    return 0


def _ac_refine_block(r, zz, ss, se, al, lut, eobrun) -> int:
    """One block of an AC-refinement scan; returns the updated EOBRUN."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = r.decode(lut)
            run, size = rs >> 4, rs & 0x0F
            newval = 0
            if size == 0:
                if run != 15:
                    eobrun = (1 << run) + r.read(run)
                    break
                # ZRL: pass 16 zero-history positions
            else:
                if size != 1:
                    raise ValueError("AC refinement magnitude must be 1")
                newval = p1 if r.read(1) else m1
            while k <= se:
                if zz[k] != 0:
                    if r.read(1) and not (zz[k] & p1):
                        zz[k] += p1 if zz[k] >= 0 else m1
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if newval and k <= se:
                zz[k] = newval
            k += 1
    if eobrun:
        # end-of-band: correction bits for the remaining nonzero-history
        # coefficients of THIS block
        while k <= se:
            if zz[k] != 0:
                if r.read(1) and not (zz[k] & p1):
                    zz[k] += p1 if zz[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive(frame: _Frame) -> list:
    """Accumulate every scan's coefficients (DC/AC, first/refinement)
    into the frame's blocks, then reconstruct once → ``_planes``."""
    for scan in frame.scans:
        ss, se, ah, al = scan.ss, scan.se, scan.ah, scan.al
        if ss and len(scan.cis) > 1:
            raise ValueError("interleaved progressive AC scan")
        for r, fresh, ci, zz in _scan_units(frame, scan):
            if fresh:
                preds, eobrun = [0] * len(frame.comps), 0
            if ss == 0 and ah == 0:  # DC first (Se must be 0 per spec)
                preds[ci] += r.receive(r.decode(scan.tables[ci][0]))
                zz[0] = preds[ci] << al
            elif ss == 0:  # DC refinement: one raw bit
                zz[0] |= r.read(1) << al
            elif ah == 0:
                eobrun = _ac_first_block(r, zz, ss, se, al, scan.tables[ci][1], eobrun)
            else:
                eobrun = _ac_refine_block(r, zz, ss, se, al, scan.tables[ci][1], eobrun)
    return _planes(frame)


def _progressive_frame(data: bytes) -> _Frame:
    frame = _parse(data)
    if frame.sof != 0xC2:
        raise ValueError(f"not a progressive (SOF2) JPEG: SOF marker 0xFF{frame.sof:02X}")
    return frame


def jpeg_decode_gray_progressive(data: bytes) -> tuple[int, int, bytes]:
    """Decode a progressive (SOF2) grayscale JPEG.  Precision 8 returns
    uint8 bytes, precision 12 returns uint16-LE bytes (T.81 allows both
    in progressive mode).  Raises NotImplementedError for multi-component
    streams (see jpeg_decode_color_progressive for 8-bit color)."""
    frame = _progressive_frame(data)
    if frame.precision not in (8, 12):
        raise NotImplementedError(f"precision {frame.precision} (8/12 supported)")
    if len(frame.comps) != 1:
        raise NotImplementedError("only single-component (grayscale) progressive JPEG")
    if any(len(s.cis) != 1 for s in frame.scans):
        raise NotImplementedError("multi-component scan unsupported")
    (plane,) = _decode_progressive(frame)
    dtype = np.uint8 if frame.precision == 8 else np.dtype("<u2")
    return frame.width, frame.height, plane.astype(dtype).tobytes()


def jpeg_decode_color_progressive(data: bytes) -> tuple[int, int, bytes, bytes, bytes]:
    """Decode a progressive COLOR (SOF2, 3-component) JPEG →
    (width, height, y, cb, cr) full-resolution planes.  Interleaved DC
    scans walk MCU order with per-component predictors; AC scans walk
    each component's own block grid, which may be narrower than the
    MCU-padded grid the coefficients live on."""
    frame = _progressive_frame(data)
    _check_8bit(frame)
    if len(frame.comps) != 3:
        raise NotImplementedError(
            "this decoder is the 3-component path; grayscale "
            "progressive: jpeg_decode_gray_progressive"
        )
    if not all((c.h, c.v) in _SUBSAMPLING.values() for c in frame.comps):
        raise NotImplementedError("unsupported sampling factors")
    if frame.restart_interval:
        raise NotImplementedError(
            "restart intervals in progressive color scans unsupported"
        )
    y, cb, cr = (p.astype(np.uint8).tobytes() for p in _decode_progressive(frame))
    return frame.width, frame.height, y, cb, cr
