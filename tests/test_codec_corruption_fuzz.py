"""Corruption fuzz: every container decoder fed truncations and random
bit flips must either raise a clean error or return a WELL-FORMED
result (correct plane/row sizes) — never hang, never crash the
interpreter, never return silently malformed shapes.  At 100 TB scan
volumes corrupted shards are a certainty; a decoder that segfaults or
spins takes the executor with it, one that returns short rows corrupts
downstream silently.

(Bit flips CAN decode successfully — e.g. a flipped pixel byte — so
success is allowed; the assertion is on the SHAPE of whatever comes
back and on the exception types.)
"""

from __future__ import annotations

import random

import pytest

from my_flink_1_10_2_spark.llm.aiff import aiff_decode, aiff_encode
from my_flink_1_10_2_spark.llm.bmp import bmp_decode, bmp_encode
from my_flink_1_10_2_spark.llm.gif import gif_decode, gif_encode
from my_flink_1_10_2_spark.llm.tiff import tiff_decode, tiff_encode
from my_flink_1_10_2_spark.llm.wav import wav_decode, wav_encode
from my_flink_1_10_2_spark.llm.y4m import y4m_decode, y4m_encode

OK_ERRORS = (ValueError, NotImplementedError, KeyError, IndexError,
             EOFError, OverflowError)


def _mutations(rng: random.Random, payload: bytes, n: int):
    for _ in range(n):
        mode = rng.random()
        if mode < 0.4 and len(payload) > 1:  # truncate
            yield payload[: rng.randrange(len(payload))]
        elif mode < 0.8:  # flip a byte
            b = bytearray(payload)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            yield bytes(b)
        else:  # splice garbage into the middle
            at = rng.randrange(len(payload))
            junk = bytes(rng.randrange(256) for _ in range(rng.randint(1, 9)))
            yield payload[:at] + junk + payload[at:]


def _check(decode, payload, validate):
    try:
        out = decode(payload)
    except OK_ERRORS:
        return
    except struct_error():
        return
    validate(out)


def struct_error():
    import struct

    return struct.error


def test_tiff_corruption():
    rng = random.Random(1100)
    rows = [bytes(rng.randrange(256) for _ in range(7 * 3)) for _ in range(5)]
    payload = tiff_encode(7, 5, rows, compression="packbits", rows_per_strip=2)

    def validate(out):
        w, h, rws = out
        assert all(len(r) == w * 3 for r in rws) and len(rws) == h

    for mut in _mutations(rng, payload, 200):
        _check(tiff_decode, mut, validate)


def test_gif_corruption():
    rng = random.Random(1101)
    pal = [(i, i, i) for i in range(8)]
    frame = bytes(rng.randrange(8) for _ in range(6 * 4))
    payload = gif_encode(6, 4, [frame, frame], pal)

    def validate(out):
        w, h, _pal, frames = out
        assert all(len(f) == w * h for f in frames)

    for mut in _mutations(rng, payload, 200):
        _check(gif_decode, mut, validate)


def test_bmp_corruption():
    rng = random.Random(1102)
    rows = [bytes(rng.randrange(256) for _ in range(5 * 3)) for _ in range(6)]
    payload = bmp_encode(5, 6, rows)

    def validate(out):
        w, h, rws = out
        assert all(len(r) == w * 3 for r in rws) and len(rws) == h
        assert 0 <= w * h <= 1 << 24  # no absurd dimensions accepted

    for mut in _mutations(rng, payload, 200):
        _check(bmp_decode, mut, validate)


def test_wav_corruption():
    rng = random.Random(1103)
    payload = wav_encode(
        [rng.randint(-32768, 32767) for _ in range(80)], sample_rate=8000
    )

    def validate(out):
        rate, ch, bits, samples = out
        assert bits in (8, 16) and ch >= 1

    for mut in _mutations(rng, payload, 200):
        _check(wav_decode, mut, validate)


def test_aiff_corruption():
    rng = random.Random(1104)
    payload = aiff_encode(
        [rng.randint(-32768, 32767) for _ in range(60)], sample_rate=44100
    )

    def validate(out):
        rate, ch, bits, samples = out
        assert ch == 1 and bits == 16

    for mut in _mutations(rng, payload, 200):
        _check(aiff_decode, mut, validate)


def test_y4m_corruption():
    rng = random.Random(1105)
    ysz, csz = 4 * 4, 2 * 2
    frames = [
        (
            bytes(rng.randrange(256) for _ in range(ysz)),
            bytes(rng.randrange(256) for _ in range(csz)),
            bytes(rng.randrange(256) for _ in range(csz)),
        )
        for _ in range(3)
    ]
    payload = y4m_encode(4, 4, frames)

    def validate(out):
        w, h, chroma, total, sampled = out
        for y, u, v in sampled:
            assert len(y) == w * h

    for mut in _mutations(rng, payload, 200):
        _check(y4m_decode, mut, validate)


def test_avro_corruption():
    rng = random.Random(1106)
    from my_flink_1_10_2_spark.sources import avro_py

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"},
                   {"name": "s", "type": "string"}],
    }
    rows = [{"id": i, "s": f"v{i}"} for i in range(50)]
    import io as _io
    import os
    import tempfile

    fd, path = tempfile.mkstemp(suffix=".avro")
    os.close(fd)
    try:
        avro_py.write_container(path, schema, rows, codec="snappy",
                                sync_interval=10)
        payload = open(path, "rb").read()
    finally:
        os.unlink(path)

    def validate(out):
        _schema, back = out
        for r in back:
            assert set(r) == {"id", "s"}

    for mut in _mutations(rng, payload, 200):
        try:
            out = avro_py.read_container_bytes(mut)
        except OK_ERRORS:
            continue
        except struct_error():
            continue
        except (UnicodeDecodeError, MemoryError):
            continue  # corrupt varint lengths surface here, still loud
        validate(out)


def test_png_corruption():
    rng = random.Random(1107)
    from my_flink_1_10_2_spark.llm.png import png_decode, png_encode

    pixels = bytes(rng.randrange(256) for _ in range(6 * 5 * 3))
    payload = png_encode(6, 5, pixels, channels=3, interlace=True)
    import zlib as _zlib

    def validate(out):
        w, h, ch, px = out
        assert len(px) == w * h * ch

    for mut in _mutations(rng, payload, 200):
        try:
            out = png_decode(mut)
        except OK_ERRORS:
            continue
        except _zlib.error:
            continue  # corrupt IDAT inflate — loud
        validate(out)


def test_jpeg_corruption():
    rng = random.Random(1108)
    from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray, jpeg_encode_gray

    pixels = bytes(rng.randrange(256) for _ in range(16 * 16))
    payload = jpeg_encode_gray(16, 16, pixels)

    def validate(out):
        w, h, px = out
        assert len(px) == w * h

    for mut in _mutations(rng, payload, 150):
        try:
            out = jpeg_decode_gray(mut)
        except OK_ERRORS:
            continue
        except struct_error():
            continue  # truncated marker segment mid-bitstream — loud
        validate(out)


def test_jpeg12_corruption():
    rng = random.Random(1112)
    import numpy as np

    from my_flink_1_10_2_spark.llm.jpeg12 import jpeg12_decode, jpeg12_encode

    planes = [
        np.array(rng.sample(range(4096), 16 * 24), dtype=np.int64).reshape(16, 24)
        for _ in range(4)
    ]
    payload = jpeg12_encode(planes, restart_interval=2)

    def validate(out):
        prec, w, h, dec = out
        assert prec in (8, 12)
        assert all(p.shape == (h, w) for p in dec)
        assert all(int(p.max(initial=0)) < (1 << prec) for p in dec)

    for mut in _mutations(rng, payload, 200):
        try:
            out = jpeg12_decode(mut)
        except OK_ERRORS:
            continue
        except struct_error():
            continue  # truncated marker segment mid-bitstream — loud
        validate(out)


def _jpeg_case(kind):
    """(decoder, 16x16 payload, expected plane count) for one JPEG
    decoder the corruption fuzz covers next to the baseline gray one."""
    from my_flink_1_10_2_spark.llm import jpeg, jpeg_color, jpeg_progressive

    rng = random.Random(1113)
    y, cb, cr = (bytes(rng.randrange(256) for _ in range(256)) for _ in range(3))
    if kind == "color":
        return jpeg_color.jpeg_decode_color, jpeg_color.jpeg_encode_color(16, 16, y, cb, cr), 3
    if kind == "gray_progressive":
        return (jpeg_progressive.jpeg_decode_gray_progressive,
                jpeg_progressive.jpeg_encode_gray_progressive(16, 16, y), 1)
    if kind == "color_progressive":
        return (jpeg_progressive.jpeg_decode_color_progressive,
                jpeg_progressive.jpeg_encode_color_progressive(16, 16, y, cb, cr), 3)
    assert kind == "gray_restart"
    return jpeg.jpeg_decode_gray, jpeg.jpeg_encode_gray(16, 16, y, restart_interval=2), 1


JPEG_KINDS = ("color", "gray_progressive", "color_progressive", "gray_restart")


@pytest.mark.parametrize("kind", JPEG_KINDS)
def test_jpeg_decoder_corruption(kind):
    decode, payload, nplanes = _jpeg_case(kind)
    rng = random.Random(f"jpeg-{kind}")

    # a 12-bit progressive gray frame returns two bytes per sample
    widths = (1, 2) if kind == "gray_progressive" else (1,)

    def validate(out):
        w, h, *planes = out
        assert len(planes) == nplanes
        assert all(len(p) in [w * h * n for n in widths] for p in planes)

    for mut in _mutations(rng, payload, 150):
        _check(decode, mut, validate)


@pytest.mark.parametrize("kind", ["color", "color_progressive"])
def test_jpeg_scan_naming_unknown_component_is_value_error(kind):
    decode, payload, _ = _jpeg_case(kind)
    data = bytearray(payload)
    sos = data.index(b"\xff\xda")
    data[sos + 5] = 9  # first component selector: no component 9 in the SOF
    with pytest.raises(ValueError):
        decode(bytes(data))


def test_jpeg_progressive_missing_huffman_table_is_value_error():
    decode, payload, _ = _jpeg_case("gray_progressive")
    data = bytearray(payload)
    dht = data.index(b"\xff\xc4")
    data[dht + 1] = 0xC5  # the DC table segment becomes a second frame header
    with pytest.raises(ValueError):
        decode(bytes(data))


def test_tfrecord_corruption():
    rng = random.Random(1109)
    import io as _io

    from my_flink_1_10_2_spark.sources.tfrecord import read_records, write_record

    buf = _io.BytesIO()
    for i in range(30):
        write_record(buf, f"payload-{i}".encode() * 3)
    payload = buf.getvalue()

    flagged = 0
    for mut in _mutations(rng, payload, 200):
        try:
            recs = list(read_records(_io.BytesIO(mut)))
        except OK_ERRORS:
            flagged += 1
            continue
        # a successful read of a PREFIX is fine (truncation at a record
        # boundary); every surviving record must be intact
        assert all(r.startswith(b"payload-") for r in recs)
    # the masked CRCs must actually catch most bit flips
    assert flagged > 50


def test_warc_corruption():
    rng = random.Random(1110)
    from my_flink_1_10_2_spark.sources.warc import (
        _gunzip_all,
        _gzip_member,
        decode_warc_records,
        encode_warc_record,
    )

    recs = [
        encode_warc_record(
            "conversion",
            f"0000-{i:04d}",
            "2024-01-01T00:00:00Z",
            f"payload {i} ".encode() * rng.randint(1, 5),
        )
        for i in range(10)
    ]
    stream = b"".join(recs)

    for mut in _mutations(rng, stream, 200):
        try:
            out = list(decode_warc_records(mut))
        except OK_ERRORS:
            continue
        except UnicodeDecodeError:
            continue  # flipped byte inside a header line — loud
        for headers, payload in out:
            assert len(payload) == int(headers["Content-Length"])

    # gzip-member path: corrupt compressed bytes must also fail loudly
    import zlib as _zlib

    gz = b"".join(_gzip_member(r) for r in recs)
    for mut in _mutations(rng, gz, 100):
        try:
            raw = _gunzip_all(mut)
            out = list(decode_warc_records(raw))
        except OK_ERRORS:
            continue
        except (UnicodeDecodeError, _zlib.error, OSError):
            continue  # gzip CRC / framing errors — loud
        for headers, payload in out:
            assert len(payload) == int(headers["Content-Length"])
