"""Guard: the six export formats write and read their shard files only
through the shard kernel (sources/sharding.py), so no format module
grows its own shuffle-into-writer, per-task reader or in-progress
commit again."""

from __future__ import annotations

import ast
import os

SOURCES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "my_flink_1_10_2_spark", "sources",
)
FORMATS = (
    "tfrecord.py", "webdataset.py", "arrow_ipc.py",
    "npy_shards.py", "warc.py", "jsonl_zst.py",
)
KERNEL_CALLS = {"applyInPandas", "mapInPandas", "parallelize"}


def _plumbing(name):
    """The kernel-only calls and constructs one module uses: the Spark
    calls above, ``os.replace``, and any ``.inprogress`` string outside
    a docstring."""
    tree = ast.parse(open(os.path.join(SOURCES, name)).read())
    docstrings = {
        id(n.value) for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            if node.attr in KERNEL_CALLS:
                found.add(node.attr)
            elif node.attr == "replace" and getattr(node.value, "id", None) == "os":
                found.add("os.replace")
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and ".inprogress" in node.value
            and id(node) not in docstrings
        ):
            found.add(".inprogress")
    return found


def test_only_the_kernel_writes_and_reads_shard_files():
    found = {name: _plumbing(name) for name in ("sharding.py", *FORMATS)}
    # the kernel builds its unit list in the JVM, so even it has no
    # `parallelize`
    assert {name: calls for name, calls in found.items() if calls} == {
        "sharding.py": {"applyInPandas", "mapInPandas", "os.replace", ".inprogress"}
    }
