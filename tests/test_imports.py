"""Every ``from lexicator_spark… import name`` in ``scripts/`` and
``tests/`` resolves, including imports nested inside functions — so
deleting or renaming a public name can never strand a script
silently.  JVM-free: modules are imported, nothing is run."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _package_imports():
    """(file, line, module, name) for every absolute ``from
    lexicator_spark… import name`` statement, at any nesting depth."""
    for path in sorted([*ROOT.glob("scripts/*.py"), *ROOT.glob("tests/*.py")]):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module.split(".")[0] == "lexicator_spark"
            ):
                for alias in node.names:
                    yield path.relative_to(ROOT), node.lineno, node.module, alias.name


def _resolves(module: str, name: str) -> bool:
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError:
        return False
    if name == "*" or hasattr(mod, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_package_imports_in_scripts_and_tests_resolve():
    imports = list(_package_imports())
    assert imports, "no lexicator_spark imports found — wrong root?"
    unresolved = [
        f"{path}:{line}: from {module} import {name}"
        for path, line, module, name in imports
        if not _resolves(module, name)
    ]
    assert not unresolved, "\n".join(unresolved)
