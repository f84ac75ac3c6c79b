"""Guard: the six export formats write and read their shard files only
through the shard kernel (sources/sharding.py), so no format module
grows its own shuffle-into-writer, per-task reader or in-progress
commit again; and every other executor-side source (the Avro fallback,
the HBase REST scan, the five live drains) turns its read units into
tasks through the kernel's ``read_per_task`` too."""

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
READERS = (
    "batch.py", "hbase_rest.py", "pubsub_rest.py", "amqp_py.py",
    "nifi_s2s.py", "http_stream.py", "wikiedits_irc.py",
)
KERNEL_CALLS = {"applyInPandas", "mapInPandas", "mapInArrow", "parallelize"}


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
        "sharding.py": {"applyInPandas", "mapInArrow", "os.replace", ".inprogress"}
    }


def test_executor_side_sources_read_through_the_kernel():
    found = {name: _plumbing(name) for name in READERS}
    assert {name: calls for name, calls in found.items() if calls} == {}
    # no source builds an RDD of read units, and outside
    # read_sequence_file (the Hadoop API's own RDD) none turns an RDD
    # into a DataFrame
    for name in sorted(os.listdir(SOURCES)):
        if name.endswith(".py"):
            assert "parallelize" not in _plumbing(name), name
            assert _rdd_frames(name) <= {("batch.py", "read_sequence_file")}, name


def _rdd_frames(name):
    """(module, function) of each ``createDataFrame(rdd, ...)`` call:
    a first argument named ``rdd`` or built by an RDD method."""
    tree = ast.parse(open(os.path.join(SOURCES, name)).read())
    hits = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "createDataFrame"
                and node.args
                and _is_rdd(node.args[0])
            ):
                hits.add((name, fn.name))
    return hits


def _is_rdd(arg):
    if isinstance(arg, ast.Name):
        return arg.id == "rdd"
    return isinstance(arg, ast.Call) and getattr(arg.func, "attr", None) in {
        "parallelize", "mapPartitions", "flatMap", "sequenceFile",
    }
