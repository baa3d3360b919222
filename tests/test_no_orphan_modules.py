"""Every package module is reachable from a shipped entry point, and every
top-level package function or class is referenced somewhere.

Static checks, no Spark session: walk the import graph (module-level,
function-local and relative imports alike) from the shipped roots — the CLI
(``__main__``), the Spark entry point (``__spark_entry__.py``), ``bench.py``,
``bench_extra.py``, ``scripts/`` and ``perfbench/`` — through the package.
A module only tests import is dead weight every reader and test run pays
for; delete it, or move a test-only oracle to ``tests/reference_impl.py``.
A function nothing names at all — no package module, shipped root or test —
is dead weight too.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG_NAME = "cfht2caom2_spark"
PKG = REPO / PKG_NAME


def _roots() -> list[Path]:
    return ([PKG / "__main__.py", REPO / "__spark_entry__.py",
             REPO / "bench.py", REPO / "bench_extra.py"]
            + sorted((REPO / "scripts").glob("*.py"))
            + sorted((REPO / "perfbench").glob("*.py")))


def _module_file(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _imported_modules(path: Path) -> set[str]:
    """Dotted names of every module ``path`` imports, wherever in the file."""
    # the package relative imports resolve against (for __init__.py, itself)
    package = path.parent.relative_to(REPO).parts
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = list(package[:len(package) - node.level + 1])
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
            out.add(base)
            # ``from pkg import mod`` imports a submodule
            out.update(f"{base}.{a.name}" for a in node.names)
    # importing a.b.c loads a and a.b too
    return {".".join(m.split(".")[:i + 1])
            for m in out for i in range(m.count(".") + 1)}


def _reachable() -> set[Path]:
    seen: set[Path] = set()
    todo = list(_roots())
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for mod in _imported_modules(path):
            target = _module_file(mod) if mod.startswith(PKG_NAME) else None
            if target is not None:
                todo.append(target)
    return seen


def test_every_package_module_has_a_shipped_caller():
    reachable = _reachable()
    orphans = sorted(str(p.relative_to(REPO)) for p in PKG.rglob("*.py")
                     if p.name != "__init__.py" and p not in reachable)
    assert not orphans, f"no shipped path imports: {orphans}"


def _referenced_names(paths) -> set[str]:
    """Every name ``paths`` use: AST names, attributes and imported names
    (a definition's own name is none of these)."""
    out: set[str] = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rsplit(".", 1)[-1])
    return out


def test_every_package_function_has_a_reference():
    modules = sorted(PKG.rglob("*.py"))
    used = _referenced_names(modules + _roots()
                             + sorted((REPO / "tests").glob("*.py")))
    dead = [f"{p.relative_to(PKG)}:{node.name}"
            for p in modules
            for node in ast.parse(p.read_text(), str(p)).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef))
            and node.name not in used]
    assert not dead, f"nothing references: {dead}"
