"""The pre-pointer on-disk formats are refused, never read.

Every persisted store commits through a pointer document plus immutable
``*_v{N}`` dirs. The older formats (commit journals, sidecar manifests,
swap and link-assembly dirs, the r16 layout markers and undo dirs) are
named in package code only inside the per-store ``_LEGACY`` tuples that
`operators/commit.refuse_legacy` checks. A store that needs one of those
names again has grown a reader, healer or migration back. Comments and
docstrings are not code and are not checked.
"""

from __future__ import annotations

import ast
import fnmatch
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "pycaim_spark"
HOMES = {
    "operators/dedup.py",
    "operators/similarity.py",
    "operators/layout.py",
    "operators/caim/estimator.py",
}
NEEDLES = (
    "compact_journal.json", "folded_keys.json", "append_keys.json",
    "codes_next", "codes_old", "upsert_pending", "upsertstream", "_old-",
    ".assembling",
)


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


def _scan(path: pathlib.Path) -> tuple[list[str], list[str]]:
    """(the module's ``_LEGACY`` patterns, needle hits outside them)."""
    tree = ast.parse(path.read_text())
    skip = _docstrings(tree)
    patterns = []
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_LEGACY"
            for t in node.targets
        ):
            for c in ast.walk(node.value):
                if isinstance(c, ast.Constant):
                    patterns.append(c.value)
                    skip.add(id(c))
    hits = [
        f"{path.relative_to(PKG)}:{n}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in skip
        for n in NEEDLES
        if n in node.value
    ]
    return patterns, hits


def test_legacy_names_appear_only_in_refusal_tuples():
    stray = [h for p in sorted(PKG.rglob("*.py")) for h in _scan(p)[1]]
    assert stray == []


def test_guard_sees_the_refusal_tuples():
    tuples = {
        str(p.relative_to(PKG)): _scan(p)[0]
        for p in sorted(PKG.rglob("*.py"))
        if _scan(p)[0]
    }
    assert set(tuples) == HOMES
    # Each needle names an entry some store refuses.
    samples = {
        "compact_journal.json": "compact_journal.json",
        "folded_keys.json": "folded_keys.json",
        "append_keys.json": "append_keys.json",
        "codes_next": "codes_next",
        "codes_old": "codes_old-1",
        "upsert_pending": "upsert_pendingst_orders.json",
        "upsertstream": "upsertstream_pendingst_orders.json",
        "_old-": "orders_c_old-424242",
        ".assembling": "sets_v0.assembling",
    }
    assert set(samples) == set(NEEDLES)
    pats = [p for ps in tuples.values() for p in ps]
    for needle, name in samples.items():
        assert any(fnmatch.fnmatchcase(name, p) for p in pats), needle
