"""The fixed per-task cost of Python tasks: the worker daemon's
stat-checked zip cache (worker_daemon.py) and no Python worker on the
engine's driver-local data paths."""

from __future__ import annotations

import ast
import importlib
import os
import pathlib
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from my_flink_1_10_2_spark import worker_daemon

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "my_flink_1_10_2_spark"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _counting_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"fl_unchanged_mod": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads = _counting_reads(monkeypatch)
    worker_daemon.invalidate_caches(importer)  # first sight: read, stamp
    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(zipimport.zipimporter(archive))
    assert reads == [archive]
    assert "fl_unchanged_mod.py" in importer._files


def test_rewritten_archive_is_reread_and_its_new_module_imports(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    old, new = f"fl_old_{uuid.uuid4().hex}", f"fl_new_{uuid.uuid4().hex}"
    _write_zip(archive, {old: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(old).X == 1
    importer = sys.path_importer_cache[archive]
    other = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(other)
    reads = _counting_reads(monkeypatch)

    _write_zip(archive, {old: "X = 1\n", new: "Y = 'rewritten'\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    worker_daemon.invalidate_caches(importer)
    # a second importer of the same archive takes the fresh directory
    # without reading it again
    worker_daemon.invalidate_caches(other)
    worker_daemon.invalidate_caches(importer)
    assert reads == [archive]
    assert f"{new}.py" in other._files
    assert importlib.import_module(new).Y == "rewritten"


def test_session_workers_run_the_patched_invalidate_caches(spark):
    @F.pandas_udf("string")
    def patch_file(s: pd.Series) -> pd.Series:
        import zipimport as zi

        return s.map(lambda _: zi.zipimporter.invalidate_caches.__code__.co_filename)

    rows = spark.range(4, numPartitions=4).select(patch_file("id")).collect()
    assert {os.path.realpath(r[0]) for r in rows} == {os.path.realpath(worker_daemon.__file__)}


def test_py_file_added_to_warm_workers_imports_in_a_udf(spark, tmp_path):
    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(8, numPartitions=4).select(plus_one("id")).collect()  # warm
    mod = f"fl_late_{uuid.uuid4().hex}"
    archive = tmp_path / f"{mod}.zip"
    _write_zip(archive, {mod: "def tag(v):\n    return f'late-{v}'\n"})
    spark.sparkContext.addPyFile(str(archive))

    @F.pandas_udf("string")
    def late(s: pd.Series) -> pd.Series:
        m = importlib.import_module(mod)
        return s.map(m.tag)

    got = sorted(r[0] for r in spark.range(4, numPartitions=4).select(late("id")).collect())
    assert got == [f"late-{i}" for i in range(4)]


def test_no_dataframe_rebuilt_from_collected_rows():
    """``createDataFrame(df.collect(), ...)`` ships driver rows back
    through a Python worker; ``createDataFrame(df.toArrow(), df.schema)``
    stays in the JVM."""
    bad = []
    for path in sorted(ENGINE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and isinstance(node.args[0].func, ast.Attribute)
                and node.args[0].func.attr == "collect"
            ):
                bad.append(f"{path.relative_to(ENGINE.parent)}:{node.lineno}")
    assert bad == []
