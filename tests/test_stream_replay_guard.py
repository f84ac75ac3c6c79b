"""Guard: ordered replay has one home.  Outside streaming/stream.py
(``from_waves`` and the runners), no module under queries/ or
streaming/ sets file mtimes or builds a ``readStream``; the one
``writeStream`` left there is state_proc.py's noop sink, which exists
to leave a checkpoint for the state reader."""

from __future__ import annotations

import ast
import os
from collections import Counter

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "my_flink_1_10_2_spark",
)
WATCHED = {"readStream", "writeStream", "utime"}


def _calls(rel):
    """How often one module uses each watched attribute (code only:
    docstrings and comments are not attribute nodes)."""
    tree = ast.parse(open(os.path.join(PKG, rel)).read())
    return Counter(
        node.attr for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in WATCHED
    )


def test_only_the_stream_layer_stages_waves_and_reads_streams():
    found = {
        f"{sub}/{name}": _calls(f"{sub}/{name}")
        for sub in ("queries", "streaming")
        for name in sorted(os.listdir(os.path.join(PKG, sub)))
        if name.endswith(".py")
    }
    assert found.pop("streaming/stream.py")["utime"] == 1
    assert {rel: dict(c) for rel, c in found.items() if c} == {
        "queries/state_proc.py": {"writeStream": 1}
    }
