"""Every name that ``scripts/*.py`` and ``bench.py`` take from the
package must exist.

Nothing imports the scripts, so a deleted or renamed helper would only
surface the next time someone runs one by hand. This reads each file's
source with ``ast`` (the script itself is never imported, no Spark
session) and resolves

- every ``from c_tran_data_pipeline_spark... import name``, and
- every ``alias.attr`` where ``alias`` is bound to a package module by
  ``import c_tran_data_pipeline_spark... as alias`` or
  ``from c_tran_data_pipeline_spark... import module as alias``.
"""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "c_tran_data_pipeline_spark"
FILES = [*sorted((REPO / "scripts").glob("*.py")), REPO / "bench.py"]


def _in_pkg(module: str | None) -> bool:
    return module is not None and (module == PKG or module.startswith(PKG + "."))


def _lookup(module: str, name: str) -> object | None:
    """``module.name`` as an attribute or a submodule, else None."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def _package_names(path: Path) -> list[tuple[str, str, int]]:
    """(module, name, line) for every package name the file uses."""
    tree = ast.parse(path.read_text(), filename=str(path))
    names: list[tuple[str, str, int]] = []
    aliases: dict[str, str] = {}  # local name -> package module path
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and _in_pkg(node.module):
            for a in node.names:
                names.append((node.module, a.name, node.lineno))
                if isinstance(_lookup(node.module, a.name), types.ModuleType):
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _in_pkg(a.name) and a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            names.append((aliases[node.value.id], node.attr, node.lineno))
    return names


@pytest.mark.parametrize("path", FILES, ids=lambda p: p.name)
def test_script_package_names_resolve(path):
    missing = [
        f"{path.name}:{line} {module}.{name}"
        for module, name, line in _package_names(path)
        if _lookup(module, name) is None
    ]
    assert not missing, f"names the package no longer has: {missing}"


def test_collector_sees_function_local_and_aliased_imports():
    """Guard the check itself: the scripts import inside functions, and
    scale_ladder reaches the IVF builders through a module alias."""
    got = {(m, n) for m, n, _ in _package_names(REPO / "scripts" / "scale_ladder.py")}
    assert (f"{PKG}.operators.similarity", "_probe_cells") in got
    assert (f"{PKG}.plans.similarity_queries", "_ensure_ivfpq") in got
