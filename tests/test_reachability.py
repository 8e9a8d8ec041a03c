"""Tripwire against dead library code.

Every top-level ``def``, ``class`` and ``NAME = ...`` of a package
module must be named somewhere other than its own definition: in the
package, ``perfbench/``, ``bench.py``, ``scripts/``,
``__spark_entry__.py`` or ``tests/``. A name counts as named where it
appears as an identifier, an attribute, an imported name or a string
equal to it (``getattr``/``monkeypatch.setattr`` targets). Dunder
names are protocol names and are not checked.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "rolaguard_data_collectors_spark"


def _py_files(*roots: str) -> list[str]:
    out = []
    for root in roots:
        path = os.path.join(REPO, root)
        if os.path.isfile(path):
            out.append(path)
            continue
        for dirpath, _, names in os.walk(path):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return sorted(out)


def _mentions(node: ast.AST) -> Counter:
    """Every identifier-like mention under ``node``."""
    seen: Counter = Counter()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            seen[sub.id] += 1
        elif isinstance(sub, ast.Attribute):
            seen[sub.attr] += 1
        elif isinstance(sub, ast.alias):
            seen[sub.name.rsplit(".", 1)[-1]] += 1
            if sub.asname:
                seen[sub.asname] += 1
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            if sub.value.isidentifier():
                seen[sub.value] += 1
    return seen


def _definitions(tree: ast.Module):
    """(name, node whose own mentions don't count) per top-level def."""
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield stmt.name, stmt
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    yield t.id, t


def unreached_names() -> list[str]:
    corpus = _py_files(
        PACKAGE, "perfbench", "bench.py", "scripts", "__spark_entry__.py", "tests"
    )
    trees = {}
    for path in corpus:
        with open(path) as f:
            trees[path] = ast.parse(f.read(), filename=path)
    total: Counter = Counter()
    for tree in trees.values():
        total.update(_mentions(tree))
    unreached = []
    for path in _py_files(PACKAGE):
        for name, node in _definitions(trees[path]):
            if name.startswith("__") and name.endswith("__"):
                continue
            if total[name] - _mentions(node)[name] <= 0:
                rel = os.path.relpath(path, REPO)
                unreached.append(f"{rel}:{node.lineno} {name}")
    return unreached


def test_every_package_definition_is_reached():
    unreached = unreached_names()
    assert not unreached, "defined but never named elsewhere:\n" + "\n".join(
        unreached
    )
