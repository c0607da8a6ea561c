"""The commit protocol has one implementation: ``operators/commit.py``.

Writer locks (``fcntl``), durable writes (``.fsync``), tombstone names
(any string containing ``superseded.json``, which matches both the
layer and the data-dir spelling) and the write-aside ``.old-`` suffix
may appear in package code only there. A store that needs one of them
calls the commit helpers instead of growing its own copy. Comments and
docstrings are not code and are not checked.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pycaim_spark"
HOME = PKG / "operators" / "commit.py"


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                first.value, ast.Constant
            ):
                out.add(id(first.value))
    return out


def _hits(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    docs = _docstrings(tree)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id == "fcntl":
            hits.append("fcntl")
        elif isinstance(node, ast.alias) and node.name == "fcntl":
            hits.append("fcntl")
        elif isinstance(node, ast.Attribute) and node.attr == "fsync":
            hits.append("fsync")
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            if "superseded.json" in node.value:
                hits.append("superseded.json")
            if ".old-" in node.value:
                hits.append(".old-")
    return [f"{path.relative_to(PKG)}:{h}" for h in hits]


def test_commit_primitives_live_only_in_commit_module():
    stray = [
        h for path in sorted(PKG.rglob("*.py")) if path != HOME
        for h in _hits(path)
    ]
    assert stray == []


def test_guard_sees_the_commit_module():
    kinds = {h.rsplit(":", 1)[1] for h in _hits(HOME)}
    assert kinds == {"fcntl", "fsync", "superseded.json", ".old-"}
