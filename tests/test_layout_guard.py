"""The layout slug lifecycle has one implementation.

Every bucketed-layout builder in ``queries/advanced.py`` names its slug
through `_layout_slug`, cold-builds through `_cold_build` and starts
each motion with `_slug_motion`. So in package code:

- ``hashlib.md5`` is called in exactly one function of
  ``queries/advanced.py``, the slug namer;
- the ``"source.json"`` provenance-marker literal appears only in the
  cold build and in `_gc_superseded_layouts`, which reads the markers;
- ``gc_layout_versions(`` is called only from the motion preamble and
  the cold build.

A builder that needs one of these calls the helper instead of growing
its own copy. Docstrings are not code and are not checked.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pycaim_spark"
ADVANCED = PKG / "queries" / "advanced.py"


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


def _kind(node: ast.AST, docs: set[int]) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        if (
            isinstance(f, ast.Attribute) and f.attr == "md5"
            and isinstance(f.value, ast.Name) and f.value.id == "hashlib"
        ):
            return "md5"
        name = f.attr if isinstance(f, ast.Attribute) else getattr(
            f, "id", None
        )
        if name == "gc_layout_versions":
            return "gc_layout_versions"
    if (
        isinstance(node, ast.Constant)
        and node.value == "source.json"
        and id(node) not in docs
    ):
        return "source.json"
    return None


def _hits(path: pathlib.Path) -> set[tuple[str, str, str]]:
    """{(module, top-level function or ``<module>``, kind)}."""
    tree = ast.parse(path.read_text())
    docs = _docstrings(tree)
    mod = str(path.relative_to(PKG))
    out = set()
    for top in tree.body:
        owner = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef,
                                ast.ClassDef))
            else "<module>"
        )
        for node in ast.walk(top):
            kind = _kind(node, docs)
            if kind is not None:
                out.add((mod, owner, kind))
    return out


def _all_hits() -> set[tuple[str, str, str]]:
    return {h for path in sorted(PKG.rglob("*.py")) for h in _hits(path)}


def test_slug_lifecycle_lives_only_in_its_helpers():
    adv = "queries/advanced.py"
    hits = _all_hits()
    assert {h for h in hits if h[2] == "md5" and h[0] == adv} == {
        (adv, "_layout_slug", "md5"),
    }
    assert {h for h in hits if h[2] == "source.json"} == {
        (adv, "_cold_build", "source.json"),
        (adv, "_gc_superseded_layouts", "source.json"),
    }
    assert {h for h in hits if h[2] == "gc_layout_versions"} <= {
        (adv, "_slug_motion", "gc_layout_versions"),
        (adv, "_cold_build", "gc_layout_versions"),
    }


def test_guard_sees_the_lifecycle_helpers():
    hits = _hits(ADVANCED)
    owners = {(owner, kind) for _mod, owner, kind in hits}
    assert {
        ("_layout_slug", "md5"),
        ("_cold_build", "source.json"),
        ("_slug_motion", "gc_layout_versions"),
    } <= owners
