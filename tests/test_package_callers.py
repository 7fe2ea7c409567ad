"""No helper without a caller: every top-level function, class and constant
of the extraction kernels, of ``extract.py``, of ``pipeline.py`` and of
``schema.py`` is referenced from package code outside its own definition.
Test-only adapters belong in ``tests/``."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "pdf_extract_sys_spark"


def _references(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Names a module reads, imports or reaches as attributes, outside `skip`."""
    inside = {id(n) for n in ast.walk(skip)} if skip is not None else set()
    names = set()
    for n in ast.walk(tree):
        if id(n) in inside:
            continue
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name)
    return names


def _defined(d: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a function, a class or constants."""
    if isinstance(d, (ast.FunctionDef, ast.ClassDef)):
        return [d.name]
    targets = d.targets if isinstance(d, ast.Assign) else [d.target] if isinstance(d, ast.AnnAssign) else []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def test_every_kernel_and_extract_definition_has_a_caller():
    trees = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    refs = {p: _references(t) for p, t in trees.items()}
    uncalled = []
    audited = sorted((PKG / "kernels").glob("*.py")) + [
        PKG / "extract.py", PKG / "pipeline.py", PKG / "schema.py"]
    for path in audited:
        elsewhere = set().union(*(r for p, r in refs.items() if p != path))
        for d in trees[path].body:
            for name in _defined(d):
                if name not in elsewhere | _references(trees[path], skip=d):
                    uncalled.append(f"{path.relative_to(PKG.parent)}:{d.lineno} {name}")
    assert not uncalled, uncalled
