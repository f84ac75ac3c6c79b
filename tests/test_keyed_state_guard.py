"""Guard: keyed stateful stream operators run on one keyed fold
(``KeyedStream._fold``) over ``KeyedStream.process``, so no operator grows
its own ``applyInPandasWithState`` body again, and frame-valued state is
Arrow IPC, not pickle."""

from __future__ import annotations

import ast
import os

ENGINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "my_flink_1_10_2_spark",
)


def _tree(relpath):
    return ast.parse(open(os.path.join(ENGINE, relpath)).read())


def _calls(tree, attr, scope=()):
    """Qualified names of the functions in which ``.attr`` appears."""
    found = []
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            found += _calls(node, attr, (*scope, node.name))
        elif isinstance(node, ast.Attribute) and node.attr == attr:
            found.append(".".join(scope))
        else:
            found += _calls(node, attr, scope)
    return found


def test_apply_in_pandas_with_state_only_in_keyed_process():
    found = []
    for root, dirs, files in os.walk(ENGINE):
        dirs[:] = [d for d in dirs if d not in ("queries", "__pycache__")]
        for name in files:
            if name.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, name), ENGINE)
                found += [(rel, q) for q in _calls(_tree(rel), "applyInPandasWithState")]
    assert found == [(os.path.join("streaming", "stream.py"), "KeyedStream.process")]


def test_fold_modules_import_no_pickle():
    for rel in (os.path.join("streaming", "stream.py"), os.path.join("operators", "cep.py")):
        imported = set()
        for node in ast.walk(_tree(rel)):
            if isinstance(node, ast.Import):
                imported |= {a.name.split(".")[0] for a in node.names}
            elif isinstance(node, ast.ImportFrom) and node.module:
                imported.add(node.module.split(".")[0])
        assert "pickle" not in imported, rel
