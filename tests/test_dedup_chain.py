"""Source guard for the near-dup miners' shared candidate-and-verify
chain: in ``operators/dedup.py`` each hash-agnostic step is written
once, so the fast and portable miners run the same plumbing that the
portable miners' DuckDB twins check. The scan reads code only (stdlib
``ast``, docstrings dropped, comments gone), so prose may still name
the steps."""

from __future__ import annotations

import ast
from pathlib import Path

from amazon_textract_enhancer_spark.operators import dedup

DEDUP = Path(dedup.__file__)

# step -> its one code form, as ast.unparse prints it
ONCE = {
    "band self-join condition": "F.col('a.band') == F.col('b.band')",
    "profile verify": "F.array_intersect(",
    "Jaccard ratio": "F.round(",
    "majority per-bit sum": "shiftrightunsigned(h,",
    "Manku block combinations": "combinations(",
}
GONE = ["minhash_signatures", "lsh_banded", "_shingle_hashes_raw", "_hot_shingles"]


def code_of(source: str) -> str:
    """The source re-printed from its AST without docstrings."""
    tree = ast.parse(source)
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            node.body = body[1:] or [ast.Pass()]
    return ast.unparse(tree)


def test_each_near_dup_step_written_once():
    code = code_of(DEDUP.read_text())
    counts = {step: code.count(form) for step, form in ONCE.items()}
    assert counts == dict.fromkeys(ONCE, 1), counts
    left = [name for name in GONE if name in code or hasattr(dedup, name)]
    assert not left, left
