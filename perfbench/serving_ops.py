"""The serving read mix and its DuckDB check.

Five closed-loop ops in a fixed round-robin order over the committed
pipeline tables: point lookup, table fetch, form fetch, indexed term
search and indexed BM25. Parameters are drawn from the corpus with the
run's seed. Each op's first answer is compared with DuckDB over the
same committed parquet files.
"""

from __future__ import annotations

import math
import random
import re

from amazon_textract_enhancer_spark.core import extract_turn
from amazon_textract_enhancer_spark.operators import serving
from amazon_textract_enhancer_spark.sources.tableio import TableIO

OPS = ("lookup", "table", "form", "search", "bm25")
TOP_K = 10
PARAM_SAMPLE = 400
_WORD = re.compile(r"[a-z0-9]+")


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


def canon_rows(rows, ordered: bool) -> list[tuple]:
    out = [tuple(_canon(v) for v in r) for r in rows]
    return out if ordered else sorted(out)


class ServingMix:
    def __init__(self, spark, warehouse: str, rows: list[dict], seed: int):
        self.spark = spark
        self.warehouse = warehouse
        io = TableIO(warehouse)
        self.spans = io.read_table(spark, "extracted_spans")
        self.tokens = io.read_table(spark, "tokens")
        self.doc_lengths = io.read_table(spark, "doc_lengths")
        stats = io.read_table(spark, "corpus_stats").collect()[0]
        self.n_docs, self.avgdl = int(stats["n_docs"]), float(stats["avgdl"])
        serving.register_serving_views(spark, self.spans)
        self.params = self._draw_params(rows, seed)

    @staticmethod
    def _draw_params(rows: list[dict], seed: int) -> dict[str, list]:
        rng = random.Random(f"serve|{seed}")
        sample = rng.sample(rows, min(PARAM_SAMPLE, len(rows)))
        tables, forms, words = [], [], set()
        for r in sample:
            res = extract_turn(f"{r['conv_id']}|{r['turn_idx']}", r["text"])
            for n in range(1, len(res["tables"]) + 1):
                tables.append((r["conv_id"], r["turn_idx"], n))
            for kv in res["forms"]:
                if kv["key"]:
                    forms.append((r["conv_id"], kv["key"]))
            words.update(w for w in _WORD.findall((res["extracted_text"] or "").lower())
                         if len(w) >= 4)
        vocab = sorted(words)
        convs = sorted({r["conv_id"] for r in rows})
        n = 64
        return {
            "lookup": [(rng.choice(convs),) for _ in range(n)],
            "table": [rng.choice(tables) for _ in range(n)],
            "form": [rng.choice(forms) for _ in range(n)],
            "search": [tuple(rng.sample(vocab, 2)) for _ in range(n)],
            "bm25": [tuple(rng.sample(vocab, 2)) for _ in range(n)],
        }

    def param(self, kind: str, i: int):
        p = self.params[kind]
        return p[i % len(p)]

    def frame(self, kind: str, p):
        """The op's DataFrame, built through the public serving API."""
        if kind == "lookup":
            return serving.run_serving_query(self.spark, "point_lookup", conv_id=p[0])
        if kind == "table":
            return serving.c3_fetch_table(self.spans, *p)
        if kind == "form":
            return serving.c4_fetch_form_value(self.spans, *p)
        if kind == "search":
            return serving.c5_search_tokens_indexed(self.tokens, p, k=TOP_K)
        return serving.c5_search_bm25_indexed(
            self.tokens, self.doc_lengths, self.n_docs, self.avgdl, p, k=TOP_K
        )

    # -- DuckDB twin ------------------------------------------------------
    def _src(self, table: str) -> str:
        return f"read_parquet('{self.warehouse}/{table}/data/part-*.parquet')"

    def duck_rows(self, con, kind: str, p) -> tuple[list, bool]:
        """(rows, ordered) for the same op answered by DuckDB."""
        spans = self._src("extracted_spans")
        if kind == "lookup":
            sql = (f"SELECT conv_id, turn_idx, kind, extracted_text FROM {spans} "
                   "WHERE conv_id = ? ORDER BY turn_idx")
            return con.execute(sql, [p[0]]).fetchall(), True
        if kind == "table":
            sql = (f"SELECT conv_id, turn_idx, CAST(? AS INTEGER) AS table_n, t.n_rows, "
                   f"t.n_cols, t.csv FROM (SELECT conv_id, turn_idx, tables[?] AS t "
                   f"FROM {spans} WHERE conv_id = ? AND turn_idx = ?) "
                   "WHERE t.csv IS NOT NULL")
            return con.execute(sql, [p[2], p[2], p[0], p[1]]).fetchall(), False
        if kind == "form":
            sql = (f"SELECT conv_id, turn_idx, f.key, f.value, f.selection FROM "
                   f"(SELECT conv_id, turn_idx, unnest(forms) AS f FROM {spans} "
                   "WHERE conv_id = ?) WHERE lower(trim(f.key)) = ?")
            return con.execute(sql, [p[0], p[1].strip().lower()]).fetchall(), False
        tokens = self._src("tokens")
        if kind == "search":
            sql = (f"SELECT conv_id, turn_idx, CAST(sum(tf) AS BIGINT) AS score "
                   f"FROM {tokens} WHERE list_contains(?, term) "
                   f"GROUP BY conv_id, turn_idx "
                   f"ORDER BY score DESC, conv_id, turn_idx LIMIT {TOP_K}")
            return con.execute(sql, [list(p)]).fetchall(), True
        k1, b = serving.BM25_K1, serving.BM25_B
        sql = f"""
            WITH hits AS (
                SELECT conv_id, turn_idx, term, tf FROM {tokens}
                WHERE list_contains(?, term)
            ), dfx AS (
                SELECT term, count(*) AS df FROM hits GROUP BY term
            ), idf AS (
                SELECT term, ln((CAST(? AS BIGINT) - df + 0.5) / (df + 0.5) + 1.0) AS idf
                FROM dfx
            )
            SELECT h.conv_id, h.turn_idx,
                   round(sum(idf.idf * (h.tf * {k1 + 1.0!r})
                         / (h.tf + {k1!r} * (1.0 - {b!r} + {b!r} * d.dl / CAST(? AS DOUBLE)))),
                         4) AS score
            FROM hits h JOIN idf ON idf.term = h.term
            JOIN {self._src('doc_lengths')} d
              ON d.conv_id = h.conv_id AND d.turn_idx = h.turn_idx
            GROUP BY h.conv_id, h.turn_idx
            ORDER BY score DESC, h.conv_id, h.turn_idx LIMIT {TOP_K}
        """
        return con.execute(sql, [list(p), self.n_docs, self.avgdl]).fetchall(), True

    def check(self, con, kind: str, p, spark_rows) -> str | None:
        """None when Spark's answer equals DuckDB's, else a reason."""
        want, ordered = self.duck_rows(con, kind, p)
        got = canon_rows([tuple(r) for r in spark_rows], ordered)
        exp = canon_rows(want, ordered)
        if got != exp:
            return f"{kind}{p}: spark {len(got)} rows != duckdb {len(exp)} rows or values"
        return None
