"""Spark-free guards against dead code and stale commands.

Every top-level ``def``, ``class`` and assigned (non-dunder) name in the
engine package must be named somewhere outside its own statement -- in the engine, the tests, the tools, the
benchmark or ``__spark_entry__.py`` -- and every ``python <path>`` command
the contributor docs give must name a file that exists.
"""

from __future__ import annotations

import ast
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "geotiff_tiler_spark"
SCANNED = (PACKAGE, "tests", "tools", "perfbench", "__spark_entry__.py")
DOCS = ("CLAUDE.md", "README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))


def _py_files(rel: str) -> list[str]:
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        return [path]
    return [
        os.path.join(dirpath, f)
        for dirpath, _, filenames in os.walk(path)
        for f in filenames
        if f.endswith(".py")
    ]


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _references(tree: ast.AST):
    """(name, line) for every Name, Attribute and import alias in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                yield alias.name.rsplit(".", 1)[-1], node.lineno


def _defined_names(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a def/class name, or the plain
    names an assignment binds (dunders such as ``__version__`` excluded)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and not (n.id.startswith("__") and n.id.endswith("__"))
    ]


def dead_definitions() -> list[str]:
    """``module:name`` of each top-level engine def/class/assigned name
    named nowhere but inside its own statement."""
    trees = {p: _parse(p) for rel in SCANNED for p in _py_files(rel)}
    refs: dict[str, list[tuple[str, int]]] = {}
    for path, tree in trees.items():
        for name, line in _references(tree):
            refs.setdefault(name, []).append((path, line))
    dead = []
    pkg = os.path.join(ROOT, PACKAGE)
    for path, tree in trees.items():
        if not path.startswith(pkg + os.sep):
            continue
        for node in tree.body:
            first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            for name in _defined_names(node):
                outside = [
                    (p, ln) for p, ln in refs.get(name, ())
                    if p != path or not first <= ln <= node.end_lineno
                ]
                if not outside:
                    dead.append(f"{os.path.relpath(path, ROOT)}:{name}")
    return dead


def test_every_engine_definition_is_referenced():
    dead = dead_definitions()
    assert dead == [], "defined but never referenced outside their own body:\n" + "\n".join(dead)


_PY_CMD = re.compile(r"\bpython3?\s+((?:[\w.-]+/)*[\w.-]+\.py)\b")


@pytest.mark.parametrize("doc", DOCS)
def test_documented_python_commands_exist(doc):
    with open(os.path.join(ROOT, doc), encoding="utf-8") as fh:
        paths = sorted(set(_PY_CMD.findall(fh.read())))
    missing = [p for p in paths if not os.path.isfile(os.path.join(ROOT, p))]
    assert missing == [], f"{doc} runs files that do not exist: {missing}"
