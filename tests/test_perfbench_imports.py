"""Every package name the benchmark harness imports still exists.

``perfbench/`` drives the package from outside and is kept unchanged
across refactors, so a renamed or deleted package helper breaks a
workload only when the benchmark runs. This test reads (never edits)
``perfbench/*.py``, finds every ``from pycaim_spark... import name``
and every ``import pycaim_spark...``, and resolves each one.
"""

from __future__ import annotations

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _imports() -> list[tuple[str, str, str | None]]:
    """(file, module, name) for each package import; name None for a
    plain ``import module``."""
    out = []
    for path in sorted((ROOT / "perfbench").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module or ""
            ).split(".")[0] == "pycaim_spark":
                out += [(path.name, node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                out += [(path.name, a.name, None) for a in node.names
                        if a.name.split(".")[0] == "pycaim_spark"]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_perfbench_package_imports_resolve():
    imports = _imports()
    # The scan must see the harness's store imports, or it checks nothing.
    assert ("pycaim_spark.operators.dedup", "_store_layer_dirs") in {
        (m, n) for _f, m, n in imports
    }
    missing = [f"{f}: {m}.{n or ''}" for f, m, n in imports
               if not _resolves(m, n)]
    assert missing == []
