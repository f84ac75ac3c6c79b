"""Guard: one query runner and one exact comparator.  Spark job groups
are set and read only in ``observe.py`` (a construction-time check that
reads the ungrouped jobs, group ``None``, may stay); ``bench.py`` and
``tools/`` release blocks through the runner, never by walking the
persistent-RDD registry; the forked comparators under ``scripts/`` stay
gone."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
GROUP_CALLS = {"setJobGroup", "getJobIdsForGroup"}


def _uses_job_groups(path):
    """True if ``path`` calls a job-group method, not counting a read of
    the ungrouped jobs (``getJobIdsForGroup(None)``)."""
    return any(
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in GROUP_CALLS
        and not (
            node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value is None
        )
        for node in ast.walk(ast.parse(path.read_text()))
    )


def _files(*globs):
    return sorted(p for g in globs for p in REPO.glob(g))


def test_only_observe_sets_and_reads_job_groups():
    files = _files("my_flink_1_10_2_spark/**/*.py", "bench.py", "tools/*.py", "tests/*.py")
    users = {str(p.relative_to(REPO)) for p in files if _uses_job_groups(p)}
    assert users == {"my_flink_1_10_2_spark/observe.py"}


def test_runner_callers_do_not_walk_persistent_rdds():
    files = _files("bench.py", "tools/*.py")
    assert [p.name for p in files if "getPersistentRDDs" in p.read_text()] == []


def test_forked_comparators_are_gone():
    assert not (REPO / "scripts").exists()
