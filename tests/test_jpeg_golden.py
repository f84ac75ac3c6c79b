"""Golden bytes for the five JPEG entry points.

Each case encodes fixed seeded inputs and decodes the stream again with
the matching decoder; the sha256 of the encoded stream and of every
decoded plane is pinned.  The pins were taken before the codecs were
folded onto one core (one marker parser, one bit reader, one block
coder, one DCT kernel), so any change to an encoded byte or a decoded
pixel shows here.

A guard at the end keeps the shared concerns in ``llm/jpeg.py``: among
the four JPEG modules only it defines a bit reader, parses marker
segments or defines ``seg``.
"""

from __future__ import annotations

import ast
import hashlib
import os

import numpy as np
import pytest

from my_flink_1_10_2_spark.llm.jpeg import jpeg_decode_gray, jpeg_encode_gray
from my_flink_1_10_2_spark.llm.jpeg12 import jpeg12_decode, jpeg12_encode
from my_flink_1_10_2_spark.llm.jpeg_color import (
    jpeg_decode_color,
    jpeg_encode_color,
)
from my_flink_1_10_2_spark.llm.jpeg_progressive import (
    jpeg_decode_color_progressive,
    jpeg_decode_gray_progressive,
    jpeg_encode_color_progressive,
    jpeg_encode_gray_progressive,
)


def _sha(b: bytes) -> str:
    """First 16 hex digits of the sha256."""
    return hashlib.sha256(b).hexdigest()[:16]


def _gray(w, h, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()


def _ycc(w, h, seed):
    """A smooth luma ramp plus noisy chroma: both rounding regimes."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    y = (128 + 90 * np.sin(xx / 4.0) * np.cos(yy / 6.0)).astype(np.uint8)
    cb, cr = (rng.integers(0, 256, size=(h, w), dtype=np.uint8) for _ in range(2))
    return y.tobytes(), cb.tobytes(), cr.tobytes()


def _planes12(w, h, n, seed):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 4096, size=(h, w)) for _ in range(n)]


def _case(name):
    """(encoded stream, [decoded planes as bytes]) for one golden case."""
    kind, _, arg = name.partition(":")
    if kind == "gray":
        data = jpeg_encode_gray(37, 29, _gray(37, 29, 1), restart_interval=int(arg))
        w, h, px = jpeg_decode_gray(data)
        return data, [bytes([w, h]), px]
    if kind == "color":
        data = jpeg_encode_color(35, 21, *_ycc(35, 21, 2), subsampling=arg)
        w, h, *planes = jpeg_decode_color(data)
        return data, [bytes([w, h]), *planes]
    if kind == "jpeg12":
        data = jpeg12_encode(_planes12(21, 19, int(arg), 3), restart_interval=2)
        prec, w, h, planes = jpeg12_decode(data)
        return data, [bytes([prec, w, h])] + [p.astype("<u2").tobytes() for p in planes]
    if kind == "prog_gray":
        prec, dri = (int(v) for v in arg.split("/"))
        if prec == 8:
            px = _gray(33, 27, 4)
        else:
            px = np.random.default_rng(4).integers(0, 4096, size=(27, 33))
        data = jpeg_encode_gray_progressive(
            33, 27, px, restart_interval=dri, precision=prec
        )
        w, h, out = jpeg_decode_gray_progressive(data)
        return data, [bytes([w, h]), out]
    assert kind == "prog_color"
    data = jpeg_encode_color_progressive(35, 21, *_ycc(35, 21, 5), subsampling=arg)
    w, h, *planes = jpeg_decode_color_progressive(data)
    return data, [bytes([w, h]), *planes]


GOLDEN = {
    "color:4:2:0": [
        "0feba80fd78cdb21",
        "95b428973f9c86ad",
        "2be1bd14ac8dbdd8",
        "0ff756b65fdec615",
        "da9afe5ee888f430",
    ],
    "color:4:2:2": [
        "89d9d1f80eff7b9a",
        "95b428973f9c86ad",
        "2be1bd14ac8dbdd8",
        "af059793142a5180",
        "83f07b2d4aae22bc",
    ],
    "color:4:4:4": [
        "0c9899be6b8b6d11",
        "95b428973f9c86ad",
        "2be1bd14ac8dbdd8",
        "172860a45eafea64",
        "66c87d051a9a9745",
    ],
    "gray:0": [
        "b74f2603a816649b",
        "c12c0be5f82d43b5",
        "280bae46ac9ac5da",
    ],
    "gray:3": [
        "41e8b44df4d9dff1",
        "c12c0be5f82d43b5",
        "280bae46ac9ac5da",
    ],
    "jpeg12:1": [
        "fadaa285ccf51fe5",
        "e09db678db930009",
        "daa5eac1e8e855fc",
    ],
    "jpeg12:4": [
        "517e4ae2e14ee533",
        "e09db678db930009",
        "daa5eac1e8e855fc",
        "eaf064531b438523",
        "e666856594402c2c",
        "1d61bda489862878",
    ],
    "prog_color:4:2:0": [
        "60296b5df2cf34cc",
        "95b428973f9c86ad",
        "2be1bd14ac8dbdd8",
        "26753d8d486c6fe0",
        "2c9c52bd8b09d6f2",
    ],
    "prog_color:4:2:2": [
        "a8f4b2ce0726df83",
        "95b428973f9c86ad",
        "2be1bd14ac8dbdd8",
        "034d17a11a53248b",
        "58b34c67409a9171",
    ],
    "prog_color:4:4:4": [
        "7ae81bfe264f48d4",
        "95b428973f9c86ad",
        "2be1bd14ac8dbdd8",
        "c677f69be6e8d6dd",
        "92034d7d38addd1f",
    ],
    "prog_gray:12/2": [
        "81ff911f00479c2b",
        "a3b74efb99884c56",
        "de5caaee7c1508c7",
    ],
    "prog_gray:8/0": [
        "a62355de15dae834",
        "a3b74efb99884c56",
        "5146b3b71d76aac6",
    ],
    "prog_gray:8/3": [
        "f2839daa267a68db",
        "a3b74efb99884c56",
        "5146b3b71d76aac6",
    ],
}


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_jpeg_golden_bytes(name):
    data, planes = _case(name)
    assert [_sha(data)] + [_sha(p) for p in planes] == GOLDEN[name]


# -- guard: the shared concerns live in llm/jpeg.py only ----------------------

LLM = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "my_flink_1_10_2_spark", "llm",
)
MODULES = ("jpeg.py", "jpeg_color.py", "jpeg12.py", "jpeg_progressive.py")


def _core_concerns(name):
    """Which shared concerns one module implements: a bit-reader class,
    a marker-segment length parse (``unpack_from(">H"``) or a ``seg``
    helper."""
    tree = ast.parse(open(os.path.join(LLM, name)).read())
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and "BitReader" in node.name:
            found.add("bit reader")
        elif isinstance(node, ast.FunctionDef) and node.name.strip("_") == "seg":
            found.add("seg")
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "unpack_from"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == ">H"
        ):
            found.add("marker parse")
    return found


def test_only_the_core_parses_markers_and_reads_bits():
    found = {name: _core_concerns(name) for name in MODULES}
    assert {name: c for name, c in found.items() if c} == {
        "jpeg.py": {"bit reader", "marker parse", "seg"}
    }
