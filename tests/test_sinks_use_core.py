"""Guard: every connector sink goes through the shared sink core
(sources/sink_core.py), so no connector grows its own partition loop,
retry loop or batch manifest again."""

from __future__ import annotations

import ast
import glob
import os

SOURCES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "my_flink_1_10_2_spark", "sources",
)
CORE_BASES = {"PartitionSink", "BatchManifest"}


def _classes():
    """{class name: (module file, [base names])} over sources/."""
    out = {}
    for path in glob.glob(os.path.join(SOURCES, "*.py")):
        for node in ast.parse(open(path).read()).body:
            if isinstance(node, ast.ClassDef):
                bases = [b.id if isinstance(b, ast.Name) else b.attr for b in node.bases]
                out[node.name] = (os.path.basename(path), bases)
    return out


def test_every_sink_class_derives_from_the_core():
    classes = _classes()

    def on_core(name, seen=()):
        bases = classes.get(name, (None, []))[1]
        return any(
            b in CORE_BASES or (b not in seen and on_core(b, seen + (name,)))
            for b in bases
        )

    sinks = [n for n in classes if n.endswith("Sink") and n not in CORE_BASES]
    assert len(sinks) >= 10
    assert not [f"{classes[n][0]}::{n}" for n in sinks if not on_core(n)]


def test_only_the_core_loops_over_partitions():
    offenders = []
    for path in glob.glob(os.path.join(SOURCES, "*.py")):
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.Attribute) and node.attr == "foreachPartition":
                offenders.append(os.path.basename(path))
    assert offenders == ["sink_core.py"]
