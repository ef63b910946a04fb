"""C6 tokenizer contract: ``serving.terms``/``split_terms``/``tokenize``
against the DuckDB twins' expressions and the Python-side split of the
heavy-hitter pass, and the guard that keeps C6 defined in one module.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from amazon_textract_enhancer_spark.operators import curation, serving
from amazon_textract_enhancer_spark.operators.serving import (
    TOKEN_PATTERN,
    split_terms,
    terms,
    tokenize,
)

PKG = Path(__file__).resolve().parent.parent / "amazon_textract_enhancer_spark"

INPUTS = [None, "", "  Hello, World!  ", "--a--b--", "café naïve", "ABC123def", "\n\t"]


def test_terms_and_split_terms_match_duckdb_and_python(spark):
    import duckdb

    con = duckdb.connect()

    def _duck(sql, s):
        return con.execute(sql, [s]).fetchone()[0]

    df = spark.createDataFrame(list(enumerate(INPUTS)), "id int, s string")
    rows = df.select("id", terms("s").alias("t"), split_terms("s").alias("r")).collect()
    by_id = {r["id"]: r for r in rows}
    n_rows = dict(tokenize(df, "s", ["id"]).groupBy("id").count().collect())
    for i, s in enumerate(INPUTS):
        got_terms, got_split = by_id[i]["t"], by_id[i]["r"]
        assert got_terms == _duck(
            "SELECT list_filter(regexp_split_to_array(lower(?), '[^a-z0-9]+'), x -> x <> '')", s
        ), s
        assert got_split == _duck("SELECT regexp_split_to_array(lower(?), '[^a-z0-9]+')", s), s
        if s is None:
            assert got_terms is None and got_split is None
        else:
            # the Misra-Gries pass of textstats.heavy_hitters splits in Python
            assert got_split == re.split(TOKEN_PATTERN, s.lower()), s
            assert got_terms == [w for w in got_split if w != ""], s
        # tokenize emits one row per term; a NULL text has no terms
        assert n_rows.get(i, 0) == len(got_terms or []), s


def _textstats_lines(name: str) -> range:
    tree = ast.parse((PKG / "operators" / "textstats.py").read_text())
    fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == name
    )
    return range(fn.lineno, fn.end_lineno + 1)


def test_c6_tokenizer_only_in_serving():
    """Outside ``operators/serving.py`` no package file splits text on
    the C6 pattern or hand-writes the k-gram position explode or the
    in-row k-gram ``transform`` (``element_at(L, i + …)`` over a lambda
    position ``i``; ``_bpe_train``'s symbol pairs over a vocab-sized
    table are exempt); the pattern itself appears only there and in the
    Python-side heavy-hitter pass."""
    split_pat = re.compile(r"F\.split\(\s*F\.lower\(|F\.split\([^)]*TOKEN_PATTERN")
    kgram_pat = re.compile(
        r"F\.explode\(\s*F\.sequence\(\s*F\.lit\(1\),\s*F\.size\([^()]*\)\s*-"
        r"|F\.element_at\([^()]*,\s*F\.col\(\"i\"\)\s*\+"
    )
    inrow_pat = re.compile(r"F\.element_at\([^()]*(?:\([^()]*\))?,\s*i\b")
    hh_lines = _textstats_lines("heavy_hitters")
    bpe_lines = _textstats_lines("_bpe_train")
    offenders = []
    for p in PKG.rglob("*.py"):
        rel = p.relative_to(PKG)
        if rel == Path("operators/serving.py"):
            continue
        text = p.read_text()
        for pat in (split_pat, kgram_pat):
            for m in pat.finditer(text):
                offenders.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1}")
        for m in inrow_pat.finditer(text):
            n = text.count(chr(10), 0, m.start()) + 1
            if not (rel == Path("operators/textstats.py") and n in bpe_lines):
                offenders.append(f"{rel}:{n}")
        for n, line in enumerate(text.splitlines(), 1):
            if "TOKEN_PATTERN" in line and not (
                rel == Path("operators/textstats.py") and n in hh_lines
            ):
                offenders.append(f"{rel}:{n}")
    assert not offenders, offenders
    assert not hasattr(curation, "_tokens")
    assert not hasattr(serving, "_filtered_terms")
