"""``relational.ordered_concat`` is the one order-sensitive concat: its
result is independent of partitioning and equals DuckDB's
``string_agg(v, sep ORDER BY k…)``, and no other package code joins an
``array_sort(collect_list(…))`` into a string by hand."""

from __future__ import annotations

import ast
from pathlib import Path

import amazon_textract_enhancer_spark as pkg
from amazon_textract_enhancer_spark.operators.relational import ordered_concat

PKG = Path(pkg.__file__).parent

# (file, enclosing function) -> why it keeps its own shape
OWN_SHAPE = {
    ("operators/relational.py", "b4_ordered_text_assembly"): "packed-int sort key",
    ("operators/dedup.py", "_clusters"): "sorts scalar ids, no struct",
}


def _is_call(node: ast.AST, name: str) -> bool:
    return isinstance(node, ast.Call) and (
        getattr(node.func, "attr", None) == name
        or getattr(node.func, "id", None) == name
    )


def _sorted_collects(node: ast.AST) -> list[ast.Call]:
    """The ``collect_list`` calls directly under an ``array_sort``."""
    return [
        arg
        for n in ast.walk(node) if _is_call(n, "array_sort")
        for arg in n.args if _is_call(arg, "collect_list")
    ]


def hand_written_concats(source: str) -> list[str]:
    """Innermost enclosing function of every ``concat_ws``/``array_join``
    over an ``array_sort(collect_list(…))``, one entry per join."""
    found = []

    class Joins(ast.NodeVisitor):
        fn = "<module>"

        def visit_FunctionDef(self, node):
            outer, self.fn = self.fn, node.name
            self.generic_visit(node)
            self.fn = outer

        def visit_Call(self, node):
            if (_is_call(node, "concat_ws") or _is_call(node, "array_join")) \
                    and _sorted_collects(node):
                found.append(self.fn)
            self.generic_visit(node)

    Joins().visit(ast.parse(source))
    return found


def test_ordered_concat_written_once():
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        for fn in hand_written_concats(p.read_text()):
            if (rel, fn) in OWN_SHAPE:
                continue
            if (rel, fn) == ("operators/relational.py", "ordered_concat"):
                continue
            offenders.append(f"{rel}:{fn}")
    assert not offenders, offenders
    # the helper itself sorts structs, so the key rides in the element
    src = (PKG / "operators/relational.py").read_text()
    helper = next(f for f in ast.walk(ast.parse(src))
                  if isinstance(f, ast.FunctionDef) and f.name == "ordered_concat")
    collects = _sorted_collects(helper)
    assert len(collects) == 1 and _is_call(collects[0].args[0], "struct")


def test_ordered_concat_equals_duckdb_string_agg(spark):
    """Multi-key ties, duplicate keys and NULL values over a frame
    spread across 7 partitions. Ties on every key break by the value,
    so the DuckDB twin orders by (k1, k2, v); ``concat_ws`` skips NULLs
    like ``string_agg`` and gives '' where ``string_agg`` gives NULL
    (an all-NULL group)."""
    import random

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    rnd = random.Random(7)
    rows = []
    for g in range(12):
        for _ in range(rnd.randint(1, 30)):
            v = rnd.choice([None, "a", "b", "c", "dd", "e f", ""])
            rows.append((g, rnd.randint(0, 3), rnd.randint(0, 2), v))
    rows += [(99, 0, 0, None), (99, 1, 0, None)]  # all-NULL group
    pdf = pd.DataFrame(rows, columns=["g", "k1", "k2", "v"])
    df = spark.createDataFrame(pdf, "g int, k1 int, k2 int, v string").repartition(7)

    got = (
        df.groupBy("g")
        .agg(ordered_concat(["k1", F.col("k2")], "v", "|").alias("s"))
        .toPandas()
        .sort_values("g")
        .reset_index(drop=True)
    )
    want = duckdb.connect().execute(
        "SELECT g, coalesce(string_agg(v, '|' ORDER BY k1, k2, v), '') AS s "
        "FROM pdf GROUP BY g ORDER BY g"
    ).df()
    assert got["g"].tolist() == want["g"].tolist()
    assert got["s"].tolist() == want["s"].tolist()
    # the same frame on one partition gives the same strings
    one = (
        df.coalesce(1).groupBy("g")
        .agg(ordered_concat(["k1", "k2"], F.col("v"), "|").alias("s"))
        .toPandas().sort_values("g")
    )
    assert one["s"].tolist() == got["s"].tolist()
