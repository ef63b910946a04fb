"""No package module defines a name nobody uses. A stdlib ``ast`` scan
(the sibling of test_dead_imports.py): every module-level function,
class or constant of the package must be used in code somewhere — in
the package, ``tests/``, ``perfbench/`` or the root scripts. A use is a
``Name`` load, an ``Attribute`` attribute, an imported name or a string
in ``__all__``; a mention in a comment, docstring or other string is
not. Dunders are exempt."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "amazon_textract_enhancer_spark"


def module_level_names(source: str) -> list[tuple[int, str]]:
    """(line, name) of every top-level def, class and assigned name."""
    out = []
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            out.append((node.lineno, node.name))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [(node.lineno, tg.id) for tg in targets
                    if isinstance(tg, ast.Name)]
    return [(ln, n) for ln, n in out
            if not (n.startswith("__") and n.endswith("__"))]


def code_uses(source: str) -> Counter:
    """Names the source uses in code. F-string expressions parse to
    ordinary nodes, so a name read only inside an ``f"…"`` counts."""
    uses = Counter()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            uses[node.id] += 1
        elif isinstance(node, ast.Attribute):
            uses[node.attr] += 1
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                uses.update(alias.name.split("."))
        elif isinstance(node, ast.Assign) and any(
            isinstance(tg, ast.Name) and tg.id == "__all__" for tg in node.targets
        ):
            uses.update(e.value for e in ast.walk(node.value)
                        if isinstance(e, ast.Constant) and isinstance(e.value, str))
    return uses


def dead_names(package: dict[str, str], others: list[str]) -> list[str]:
    """``package`` maps a module path to its source; ``others`` are the
    sources that may use the package. A name is dead when no source
    uses it in code."""
    uses = Counter()
    for src in list(package.values()) + others:
        uses.update(code_uses(src))
    return sorted(
        f"{path}:{ln} {name}"
        for path, src in package.items()
        for ln, name in module_level_names(src)
        if uses[name] == 0
    )


def test_scan_flags_a_dead_name():
    pkg = {
        "a.py": "X = 1\nY = 2\n\n\ndef f():\n    return X\n\n\nclass _C:\n    pass\n",
        "b.py": "__all__ = []\n",
    }
    assert dead_names(pkg, []) == ["a.py:2 Y", "a.py:5 f", "a.py:9 _C"]
    assert dead_names(pkg, ["from a import f, Y, _C\n"]) == []


def test_scan_counts_code_not_words():
    pkg = {
        "a.py": (
            "def _g():\n"
            '    """Unlike _h, this one is used."""\n'
            "\n\n"
            "def _h():\n"
            "    pass\n"
            "\n\n"
            "S = 'q'\n"
            "T = 3\n"
            "# _h and T were here\n"
            "print(_g(), f\"{S!r}\", 'T')\n"
        ),
    }
    assert dead_names(pkg, []) == ["a.py:10 T", "a.py:5 _h"]
    assert dead_names(pkg, ["import a\nprint(a._h, a.T)\n"]) == []


def test_no_dead_names_in_package():
    package = {
        str(p.relative_to(ROOT)): p.read_text() for p in sorted(PKG.rglob("*.py"))
    }
    others = [
        p.read_text()
        for p in sorted((ROOT / "tests").rglob("*.py"))
        + sorted((ROOT / "perfbench").rglob("*.py"))
        + sorted(ROOT.glob("*.py"))
    ]
    offenders = dead_names(package, others)
    assert not offenders, offenders
