"""One superstep loop: the graph operators iterate through
``operators/iterate.iterate`` only, and running on it costs no more
Spark jobs than their former hand-written loops did.

Guard: ``operators/gelly.py`` holds no ``for``/``while`` statement, and
no engine module but ``operators/iterate.py`` reads the persistent-RDD
registry (checkpoint bookkeeping goes through ``checkpoint_tracked`` /
``free_checkpoints``)."""

from __future__ import annotations

import ast
import pathlib

import pytest

from my_flink_1_10_2_spark.observe import job_group
from my_flink_1_10_2_spark.operators import gelly

PKG = pathlib.Path(__file__).resolve().parent.parent / "my_flink_1_10_2_spark"


def test_gelly_has_no_loop_statement():
    tree = ast.parse((PKG / "operators" / "gelly.py").read_text())
    loops = [
        f"line {n.lineno}"
        for n in ast.walk(tree)
        if isinstance(n, (ast.For, ast.While, ast.AsyncFor))
    ]
    assert loops == [], f"superstep loops belong in operators/iterate.py: {loops}"


def test_only_iterate_reads_persistent_rdds():
    readers = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if "getPersistentRDDs" in p.read_text()
    )
    assert readers == ["operators/iterate.py"]


@pytest.mark.parametrize(
    "name", ["k_core", "k_truss", "closeness_centrality", "stress_centrality"]
)
def test_operator_runs_on_iterate(name):
    tree = ast.parse((PKG / "operators" / "gelly.py").read_text())
    fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == name
    )
    calls = {
        n.func.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }
    assert {"iterate", "fixpoint"} <= calls


# A 4-clique with a pendant triangle, a 6-vertex tail off it and a
# separate 4-path: k-core/k-truss peel over several rounds, the BFS
# operators run several levels.
_EDGES = (
    [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5)]
    + [(5, 6), (6, 7), (7, 8), (8, 9), (9, 10), (10, 11)]
    + [(20, 21), (21, 22), (22, 23)]
)

# Spark jobs per call on _EDGES (local[8] test session, noop sink)
# with the former hand-written checkpoint/count loops; on `iterate` the
# four measured 18, 15, 49 and 74.
_LOOP_JOBS = {
    "k_core": 21,
    "k_truss": 19,
    "closeness_centrality": 69,
    "stress_centrality": 82,
}

_RUNS = {
    "k_core": lambda e: gelly.k_core(e, k=3),
    "k_truss": lambda e: gelly.k_truss(e, k=4),
    "closeness_centrality": lambda e: gelly.closeness_centrality(e, n_sources=4),
    "stress_centrality": lambda e: gelly.stress_centrality(e, n_sources=4),
}


@pytest.mark.parametrize("name", sorted(_RUNS))
def test_jobs_per_call_do_not_rise(spark, name):
    edges = spark.createDataFrame(_EDGES, "src long, dst long")
    with job_group(spark, name) as record:
        _RUNS[name](edges).write.format("noop").mode("overwrite").save()
    assert record["jobs"] <= _LOOP_JOBS[name], f"{name}: {record['jobs']} jobs"
