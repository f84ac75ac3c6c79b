"""Golden bytes for the five JPEG entry points.

Each case encodes fixed seeded inputs and decodes the stream again with
the matching decoder; the sha256 of the encoded stream and of every
decoded plane is pinned.  The pins were taken before the codecs were
folded onto one core (one marker parser, one bit reader, one block
coder, one DCT kernel), so any change to an encoded byte or a decoded
pixel shows here.

Two pins were re-taken since: ``prog_gray:8/0`` and ``prog_gray:8/3``.
Their streams held two quantized coefficients whose exact quotient is a
tie, block 4's DC at 1856/(8·16) = 29/2 and block 3's (4,4) at
−816/(8·68) = −3/2, written as 15 and −1 because the DCT's float error
happened to fall that way on every BLAS kernel.  The encoder now rounds
each exact quotient half to even (14 and −2), and so do the new pins.
The ``color:4:4:4`` pin was right all along: its two tied Cb DCs,
−68/(8·17) = −1/2 and −340/(8·17) = −5/2, are pinned as 0 and −2, but
the encoder wrote −1 for the first under OpenBLAS's Prescott kernel
(the one it falls back to on an unidentified CPU model) and 0 under the
FMA kernels.  ``test_ties_round_half_to_even`` checks those four tie
positions in exact arithmetic, and ``test_golden_bytes_under_blas_kernel``
re-runs every case under two OpenBLAS kernels.

A guard at the end keeps the shared concerns in ``llm/jpeg.py``: among
the four JPEG modules only it defines a bit reader, parses marker
segments or defines ``seg``.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import platform
import subprocess
import sys
from fractions import Fraction

import numpy as np
import pytest

from my_flink_1_10_2_spark.llm.jpeg import (
    STD_LUMA_QUANT,
    ZIGZAG,
    _fdct_grid,
    jpeg_decode_gray,
    jpeg_encode_gray,
)
from my_flink_1_10_2_spark.llm.jpeg12 import jpeg12_decode, jpeg12_encode
from my_flink_1_10_2_spark.llm.jpeg_color import (
    STD_CHROMA_QUANT,
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
        "918468e0cb1f3442",
        "a3b74efb99884c56",
        "5c433c55554721d5",
    ],
    "prog_gray:8/3": [
        "31bae7188207dd81",
        "a3b74efb99884c56",
        "5c433c55554721d5",
    ],
}


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_jpeg_golden_bytes(name):
    data, planes = _case(name)
    assert [_sha(data)] + [_sha(p) for p in planes] == GOLDEN[name]


# -- ties: an exact quotient k+1/2 rounds half to even ------------------------

# Rows of the DCT matrix as multiples of 1/√8: row 0 is all ones, row 4 is
# 0.5·cos((2x+1)π/4) = ±√2/4 in this sign pattern.  So DC and (4,4) are
# integer sums over 8.
_BASIS = {0: np.ones(8, dtype=np.int64), 4: np.array([1, -1, -1, 1, 1, -1, -1, 1])}

_CB444 = ("color:4:4:4 Cb", 35, 21, _ycc(35, 21, 2)[1], STD_CHROMA_QUANT)
_PROG8 = ("prog_gray:8", 33, 27, _gray(33, 27, 4), STD_LUMA_QUANT)
TIES = [
    # (case, width, height, plane, quant table), block, (u, v), exact
    # quotient, its half-to-even value
    (*_CB444, 5, (0, 0), Fraction(-1, 2), 0),
    (*_CB444, 8, (0, 0), Fraction(-5, 2), -2),
    (*_PROG8, 4, (0, 0), Fraction(29, 2), 14),
    (*_PROG8, 3, (4, 4), Fraction(-3, 2), -2),
]


@pytest.mark.parametrize(
    "case, w, h, plane, q, block, uv, exact, even", TIES,
    ids=[f"{t[0]}:block{t[5]}:{t[6][0]}{t[6][1]}" for t in TIES],
)
def test_ties_round_half_to_even(case, w, h, plane, q, block, uv, exact, even):
    gw, gh = -(-w // 8), -(-h // 8)
    img = np.frombuffer(plane, dtype=np.uint8).reshape(h, w).astype(np.int64)
    padded = np.pad(img, ((0, gh * 8 - h), (0, gw * 8 - w)), mode="edge")
    blocks = padded.reshape(gh, 8, gw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    u, v = uv
    s = int(_BASIS[u] @ (blocks[block] - 128) @ _BASIS[v])
    assert Fraction(s, 8 * int(q[u, v])) == exact
    assert round(exact) == even  # Python rounds a Fraction half to even
    rows = _fdct_grid(padded.astype(np.float64), gh, gw, q, 128.0)
    assert rows[block][ZIGZAG.index(uv)] == even


# -- the golden bytes under other BLAS kernels --------------------------------

TESTS = os.path.dirname(os.path.abspath(__file__))

_CHILD = """
import json, sys
sys.path[:0] = sys.argv[1:]
from test_jpeg_golden import GOLDEN, _case, _sha
out = {}
for name in GOLDEN:
    data, planes = _case(name)
    out[name] = [_sha(data)] + [_sha(p) for p in planes]
print(json.dumps(out))
"""


def _numpy_blas() -> str:
    try:
        return np.show_config(mode="dicts")["Build Dependencies"]["blas"]["name"]
    except (TypeError, KeyError):
        return ""


def _cpu_flags() -> set:
    try:
        with open("/proc/cpuinfo") as f:
            line = next((ln for ln in f if ln.startswith("flags")), "")
    except OSError:
        return set()
    return set(line.split(":", 1)[-1].split())


@pytest.mark.skipif(
    platform.machine().lower() not in ("x86_64", "amd64"),
    reason="OpenBLAS core types name x86-64 kernels",
)
@pytest.mark.skipif(
    "openblas" not in _numpy_blas().lower(), reason="numpy's BLAS is not OpenBLAS"
)
@pytest.mark.parametrize(
    "coretype",
    [
        "Prescott",
        pytest.param(
            "Haswell",
            marks=pytest.mark.skipif(
                "avx2" not in _cpu_flags(), reason="the Haswell kernel needs AVX2"
            ),
        ),
    ],
)
def test_golden_bytes_under_blas_kernel(coretype):
    """Every golden case, run in a child interpreter whose OpenBLAS is
    forced onto ``coretype``, gives the pinned hash lists, so the two
    kernels agree.  Prescott's matmul lands tied quotients a few ulp on
    the other side of k+1/2 from the FMA kernels'."""
    child = subprocess.run(
        [sys.executable, "-c", _CHILD, TESTS, os.path.dirname(TESTS)],
        env={**os.environ, "OPENBLAS_CORETYPE": coretype},
        capture_output=True, text=True, timeout=300, check=True,
    )
    assert json.loads(child.stdout.splitlines()[-1]) == GOLDEN


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
