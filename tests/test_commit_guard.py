"""The commit protocol has one implementation: ``operators/commit.py``.

Writer locks (``fcntl``), durable writes (``.fsync``) and tombstone
names (any string containing ``superseded.json``, which matches both the
layer and the data-dir spelling) may appear in package code only there.
A store that needs one of them calls the commit helpers instead of
growing its own copy. The retired write-aside ``.old-`` suffix may
appear nowhere in package code.

The LSM store core is held in place the same way: the manifest keys
``"folded"``, ``"app_folded"`` and ``"del_folded"`` and the pointer
names ``current.json`` and ``codes_current.json`` may appear only in
``commit.py`` and in the two store spec constants
(``dedup.SIGNATURE_STORE``, ``similarity.CODES_STORE``), and the
pointer's layer keys ``"app_layers"`` and ``"del_layers"``, which every
store shares, only in ``commit.py``. A store that names its own layers
or reads its own manifest has grown a second read view.

Comments and docstrings are not code and are not checked.
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
        h for path in sorted(PKG.rglob("*.py"))
        for h in _hits(path) if path != HOME or h.endswith(":.old-")
    ]
    assert stray == []


def test_guard_sees_the_commit_module():
    kinds = {h.rsplit(":", 1)[1] for h in _hits(HOME)}
    assert kinds == {"fcntl", "fsync", "superseded.json"}


# The LSM store core: the manifest keys and the pointer names of the
# signature store and the IVF-PQ codes live in ``commit.py`` and in the
# two store spec constants that describe them; the pointer's layer keys,
# the same for both stores, live in ``commit.py`` alone.
LSM_NAMES = {"folded", "app_folded", "del_folded", "current.json",
             "codes_current.json"}
CORE_NAMES = {"app_layers", "del_layers"}
SPECS = {"operators/dedup.py": "SIGNATURE_STORE",
         "operators/similarity.py": "CODES_STORE"}


def _lsm_hits(path: pathlib.Path) -> tuple[list[str], list[str]]:
    """(spec-name hits inside the module's spec constant, hits of any
    guarded name anywhere else)."""
    tree = ast.parse(path.read_text())
    docs = _docstrings(tree)
    spec = SPECS.get(str(path.relative_to(PKG)))
    inside = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == spec for t in node.targets
        ):
            inside |= {id(n) for n in ast.walk(node.value)}
    hits: tuple[list[str], list[str]] = ([], [])
    for node in ast.walk(tree):
        if (isinstance(node, ast.Constant)
                and node.value in LSM_NAMES | CORE_NAMES
                and id(node) not in docs):
            stray = id(node) not in inside or node.value in CORE_NAMES
            hits[stray].append(f"{path.relative_to(PKG)}:{node.value}")
    return hits


def test_lsm_store_names_live_only_in_commit_and_specs():
    stray = [
        h for path in sorted(PKG.rglob("*.py")) if path != HOME
        for h in _lsm_hits(path)[1]
    ]
    assert stray == []


def test_lsm_guard_sees_the_specs_and_the_core():
    in_specs = {
        h.rsplit(":", 1)[1]
        for rel in SPECS for h in _lsm_hits(PKG / rel)[0]
    }
    assert in_specs == LSM_NAMES
    in_core = {h.rsplit(":", 1)[1] for h in _lsm_hits(HOME)[1]}
    assert CORE_NAMES <= in_core
