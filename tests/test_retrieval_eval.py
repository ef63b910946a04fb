"""Batch BM25 retrieval + known-item evaluation metrics — semantics
invariants and the plan shapes that make the family safe at corpus
scale (broadcast query batch, term-pruned tf census, per-query window,
run-sized metric joins). The cross-engine value pinning itself lives
in test_oracle_parity (all three ops have full DuckDB twins).
"""

from __future__ import annotations

import importlib.util
import math
import pathlib

from pyspark.sql import functions as F

from amazon_textract_enhancer_spark.operators import serving as S
from amazon_textract_enhancer_spark.plans import executed_plan, n_broadcast_joins

SF_DIR = "/root/testdata/sf0.01"


def test_batch_run_shape_and_single_query_consistency(spark):
    """The run has ≤k rows per query, dense ranks 1..n in score order,
    and each query's ranking agrees with an independently-computed
    per-query BM25 over the same term set (the batch plan must not
    leak one query's terms into another's scores)."""
    run = S.c5_search_bm25_batch(spark, SF_DIR).toPandas()
    assert set(run.columns) == {"qid", "doc_id", "rank", "score"}
    for qid, grp in run.groupby("qid"):
        assert len(grp) <= S.EVAL_K
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        scores = list(grp["score"])
        assert scores == sorted(scores, reverse=True)
    # no query may exceed the batch bound
    assert run["qid"].nunique() <= S.EVAL_N_QUERIES

    # per-query spot check: rebuild query 2's result with the SINGLE
    # query (one-row batch) — identical rows proves per-query isolation
    one = S.c5_search_bm25_batch(spark, SF_DIR, n_queries=3)
    one_q2 = one.filter(F.col("qid") == 2).toPandas()
    full_q2 = run[run["qid"] == 2].reset_index(drop=True)
    assert list(one_q2["doc_id"]) == list(full_q2["doc_id"])
    assert list(one_q2["score"]) == list(full_q2["score"])


def test_known_item_metric_identities(spark):
    """rr = 1/hit_rank and ndcg = 1/log2(hit_rank+1) exactly (6dp);
    rank 1 ⇒ both metrics 1.0; a missed query keeps its row with
    zeros; hit == (hit_rank is not null); every qid < Q present."""
    m = S.eval_retrieval_known_item(spark, SF_DIR).toPandas()
    assert list(m["qid"]) == list(range(S.EVAL_N_QUERIES))
    for r in m.itertuples():
        if math.isnan(r.hit_rank):
            assert r.rr_at_k == 0.0 and r.ndcg_at_k == 0.0 and r.hit == 0
        else:
            hr = int(r.hit_rank)
            assert 1 <= hr <= S.EVAL_K
            assert r.hit == 1
            assert r.rr_at_k == round(1.0 / hr, 6)
            assert r.ndcg_at_k == round(1.0 / math.log2(hr + 1.0), 6)
            if hr == 1:
                assert r.rr_at_k == 1.0 and r.ndcg_at_k == 1.0


def test_summary_equals_per_query_means(spark):
    """The macro row is exactly the mean of the per-query metrics
    (the DECIMAL-sum discipline changes the op order, not the value),
    and recall is the hit fraction."""
    m = S.eval_retrieval_known_item(spark, SF_DIR).toPandas()
    s = S.eval_retrieval_summary(spark, SF_DIR).collect()[0]
    n = len(m)
    assert s.n_queries == n == S.EVAL_N_QUERIES
    assert s.mrr_at_k == round(float(m["rr_at_k"].sum()) / n, 6)
    assert s.recall_at_k == round(float(m["hit"].sum()) / n, 6)
    assert s.mean_ndcg_at_k == round(float(m["ndcg_at_k"].sum()) / n, 6)
    # non-degenerate on the fixture corpus: some hits, some misses —
    # an eval that always scores 1.0 (or 0.0) isn't testing ranking
    assert 0.0 < s.recall_at_k < 1.0


def test_batch_equals_twin_on_decimal_half_ties(spark, tmp_path):
    """On this seeded corpus several (qid, doc) score sums lie exactly
    on a 4-dp half (e.g. 2.37395): the DuckDB twin must round the exact
    DECIMAL sum the way Spark rounds the score (half up), row for
    row."""
    import duckdb

    from amazon_textract_enhancer_spark.operators.registry import ORACLE_SQL

    src = pathlib.Path(__file__).resolve().parent.parent / "perfbench" / "inputs.py"
    spec = importlib.util.spec_from_file_location("perfbench_inputs", src)
    inputs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(inputs)
    inputs.write_documents(12, 500, str(tmp_path / "documents.parquet"))

    got = [tuple(r) for r in S.c5_search_bm25_batch(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path}/documents.parquet')"
        )
        want = con.execute(ORACLE_SQL["c5_search_bm25_batch"]).fetchall()
    finally:
        con.close()
    assert sorted(got) == sorted(want)


def test_batch_plan_broadcasts_batch_and_prunes_postings(spark, monkeypatch):
    """Scale shape: the (qid, term) batch and the idf table enter as
    broadcasts (≥2 broadcast joins), the tf census is LeftSemi-pruned
    to the batch's terms BEFORE aggregation, and nothing in the plan
    is a cartesian/nested-loop product."""
    # an identity materialize keeps the derivation in one lazy plan
    # (the registry form checkpoints dl/qterms/tf, which would hide the
    # semi-join inside the materialization job)
    monkeypatch.setattr(S, "materialize", lambda df, label, replaces=None: df)
    df = S.c5_search_bm25_batch(spark, SF_DIR)
    plan = executed_plan(df)
    assert n_broadcast_joins(df) >= 2, plan
    assert "LeftSemi" in plan, plan
    # the only nested-loop-shaped node allowed is the broadcast of the
    # 1-row (n_docs, avgdl) stats aggregate into idf — never a
    # partitioned cartesian over data-sized inputs
    assert "CartesianProduct" not in plan, plan


def test_batch_indexed_equals_self_contained(spark):
    """c5_search_bm25_batch_indexed over (tokens, doc_lengths,
    corpus-stats scalars, a qterms batch) must return the identical
    run — (qid, doc_id, rank, score) — as the self-contained form's
    in-plan derivation: the committed-index production path may not
    drift from the registry form (the c5_search_bm25_indexed
    precedent, extended to the batch/eval family)."""
    sf = SF_DIR
    from amazon_textract_enhancer_spark.operators.io_util import t
    from amazon_textract_enhancer_spark.operators.serving import (
        TOKEN_PATTERN,
        c5_search_bm25_batch_indexed,
        term_frequencies,
    )

    expected = S.c5_search_bm25_batch(spark, sf).toPandas()

    docs = t(spark, sf, "documents")
    terms_arr = F.filter(
        F.split(F.lower(F.col("text")), TOKEN_PATTERN), lambda x: x != ""
    )
    tokens = term_frequencies(docs, "text", ["doc_id"])
    dl = tokens.groupBy("doc_id").agg(F.sum("tf").cast("int").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("a")) \
        .collect()[0]
    qterms = (
        docs.filter(F.col("doc_id") < S.EVAL_N_QUERIES)
        .select(
            F.col("doc_id").alias("qid"),
            F.explode(F.slice(terms_arr, 1, S.EVAL_QLEN)).alias("term"),
        )
        .distinct()
    )
    got = c5_search_bm25_batch_indexed(
        tokens, dl, stats["n"], stats["a"], qterms, ["doc_id"]
    ).toPandas()
    assert list(got.columns) == list(expected.columns)
    assert got.equals(expected)
