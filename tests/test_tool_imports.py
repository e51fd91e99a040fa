"""Every package import in the scripts outside the package resolves.

``tools/*.py``, ``bench.py`` and ``__spark_entry__.py`` are not imported
by any other test, so a name removed from the package breaks them only
when someone runs them. This test parses them (no import, no Spark) and
checks each ``from timeseries_data_provider_spark… import X`` against
the package source: the module must exist, and ``X`` must be a
submodule or a name bound at its top level."""

from __future__ import annotations

import ast
from functools import lru_cache
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "timeseries_data_provider_spark"
SCRIPTS = sorted(
    [*REPO.glob("tools/*.py"), REPO / "bench.py", REPO / "__spark_entry__.py"]
)


def _module_file(module: str) -> Path | None:
    base = REPO.joinpath(*module.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _bound(stmts: list[ast.stmt]) -> set[str]:
    """Names a module binds at top level, including inside top-level
    if/try/with blocks."""
    names: set[str] = set()
    for node in stmts:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in node.names
            )
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            names.update(
                n.id
                for n in ast.walk(node)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            )
        for field in ("body", "orelse", "finalbody"):
            names |= _bound(getattr(node, field, []))
        for handler in getattr(node, "handlers", []):
            names |= _bound(handler.body)
    return names


@lru_cache(maxsize=None)
def _exports(module: str) -> frozenset[str]:
    tree = ast.parse(_module_file(module).read_text())
    return frozenset(_bound(tree.body))


def _unresolved(script: Path) -> list[str]:
    bad = []
    for node in ast.walk(ast.parse(script.read_text())):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
            names: list[tuple[str, str]] = []
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mods = [node.module or ""]
            names = [(node.module, a.name) for a in node.names]
        else:
            continue
        for mod in mods:
            if mod.split(".")[0] == PKG and _module_file(mod) is None:
                bad.append(f"{script.name}:{node.lineno}: no module {mod}")
        for mod, name in names:
            if mod.split(".")[0] != PKG or _module_file(mod) is None:
                continue
            if name in _exports(mod) or _module_file(f"{mod}.{name}"):
                continue
            bad.append(f"{script.name}:{node.lineno}: {mod} has no {name}")
    return bad


def test_package_imports_resolve():
    assert [bad for script in SCRIPTS for bad in _unresolved(script)] == []
