"""No package module imports a name it never uses. A stdlib ``ast``
scan (no linter dependency): an import inside a function must be used
in that function, a module-level import anywhere in the module or in
its ``__all__``. An import kept on purpose carries ``# noqa: F401`` on
its line."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "amazon_textract_enhancer_spark"


def _used_names(scope: ast.AST) -> set[str]:
    used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
    for n in ast.walk(scope):
        if isinstance(n, ast.Assign) and any(
            isinstance(tg, ast.Name) and tg.id == "__all__" for tg in n.targets
        ):
            used |= {e.value for e in ast.walk(n.value)
                     if isinstance(e, ast.Constant) and isinstance(e.value, str)}
    return used


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, name) of every import binding its scope never reads."""
    tree = ast.parse(source)
    lines = source.splitlines()
    out = []
    scopes = [tree] + [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for scope in scopes:
        used = _used_names(scope)
        nested = {
            id(m) for n in ast.walk(scope) if n is not scope
            and isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            for m in ast.walk(n)
        }
        for node in ast.walk(scope):
            if id(node) in nested or not isinstance(
                node, (ast.Import, ast.ImportFrom)
            ):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if "# noqa: F401" in lines[node.lineno - 1]:
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in used:
                    out.append((node.lineno, name))
    return sorted(out)


def test_scan_flags_an_unused_import():
    src = "import os\nfrom functools import reduce\n\nprint(os.sep)\n"
    assert unused_imports(src) == [(2, "reduce")]
    assert unused_imports(src.replace("reduce\n", "reduce  # noqa: F401\n")) == []
    local = "def f():\n    import os\n    return 1\n\n\nimport os\nos.sep\n"
    assert unused_imports(local) == [(2, "os")]


def test_no_unused_imports_in_package():
    offenders = [
        f"{p.relative_to(PKG)}:{line} {name}"
        for p in sorted(PKG.rglob("*.py"))
        for line, name in unused_imports(p.read_text())
    ]
    assert not offenders, offenders
