"""No package module defines a name nobody uses. A stdlib ``ast`` scan
(the sibling of test_dead_imports.py): every module-level function,
class or constant of the package must appear as a word somewhere other
than its own definition line — in the package, ``tests/``,
``perfbench/`` or the root scripts. Dunders are exempt."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "amazon_textract_enhancer_spark"
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


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


def dead_names(package: dict[str, str], others: list[str]) -> list[str]:
    """``package`` maps a module path to its source; ``others`` are the
    sources that may use the package. A name is dead when its word
    count over everything, minus the count on its definition line, is
    zero."""
    words = Counter()
    for src in list(package.values()) + others:
        words.update(_WORD.findall(src))
    out = []
    for path, src in package.items():
        lines = src.splitlines()
        for ln, name in module_level_names(src):
            own = _WORD.findall(lines[ln - 1]).count(name)
            if words[name] - own == 0:
                out.append(f"{path}:{ln} {name}")
    return sorted(out)


def test_scan_flags_a_dead_name():
    pkg = {
        "a.py": "X = 1\nY = 2\n\n\ndef f():\n    return X\n\n\nclass _C:\n    pass\n",
        "b.py": "__all__ = []\n",
    }
    assert dead_names(pkg, []) == ["a.py:2 Y", "a.py:5 f", "a.py:9 _C"]
    assert dead_names(pkg, ["from a import f, Y, _C\n"]) == []


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
