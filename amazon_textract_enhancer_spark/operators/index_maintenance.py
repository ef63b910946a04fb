"""Main+delta maintenance of the serving indexes (A9/C5-ii..iv).

The tokens inverted index is bucketed by TERM (serving probes prune to
the query terms' buckets), so a conversation-level change touches every
bucket — rewriting the main index per refresh would cost a full index
rewrite for an arbitrarily small diff. The production answer is the
Lucene/Elasticsearch segment model, which is also what the reference's
ElasticSearch sink implies downstream:

- **main** — the committed ``tokens`` / ``doc_lengths`` tables, big,
  immutable between compactions;
- **delta** — postings for the conversations the last incremental
  refresh re-extracted, committed as small ``tokens_delta`` /
  ``doc_lengths_delta`` tables (same layout, cost ∝ diff size);
- **stale list** — conv_ids whose main postings are superseded
  (changed) or gone (deleted), a tiny broadcastable table;
- **query-time merge** — ``main ⟕anti stale ∪ delta``: the anti-join
  broadcasts the stale list, so serving pays one map-side filter, no
  shuffle of the main index;
- **compaction** — periodically folds delta into main (ONE rewrite,
  amortized over many refreshes) and resets delta/stale; the BM25
  corpus statistics (stage 4) are recommitted in the same pass, read
  off the manifest of the merged doc_lengths commit (its row count and
  summed ``dl`` lineage counter) rather than by re-scanning it.

Every piece rides the normal TableIO commit protocol, so refreshes are
resumable and the whole index history is snapshot-logged. Equality
with a from-scratch index rebuild is pinned in
tests/test_index_maintenance.py — the merge is exact, not approximate.

At 10^12 turns: a daily 0.1% diff makes delta ~10^9 rows vs main's
~10^13; between weekly compactions the stale list stays ≪ broadcast
threshold (it holds conv_ids, not turns). The same shape maintains any
term-bucketed index in this repo (e.g. the dedup shingle index —
dedup_incremental already queries main-vs-new the same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tableio import TableIO
from .serving import corpus_stats_of, term_frequencies

CONFIG_HASH = "index-delta-v1"


def refresh_serving_index(
    spark: SparkSession,
    io: TableIO,
    changed_spans: DataFrame,
    stale_convs: DataFrame,
    input_snapshot: str,
    n_buckets: int = 16,
) -> dict:
    """Commit the delta segment for one incremental refresh.

    ``changed_spans``: the re-extracted spans of new/changed
    conversations (incremental_extract's ``todo`` output shape).
    ``stale_convs``: one conv_id per superseded-or-deleted conversation
    — every changed conv MUST appear here (its old postings are stale);
    deleted convs appear here with no rows in ``changed_spans``.

    Deltas ACCUMULATE across refreshes (segment semantics): a second
    refresh before compaction unions its postings with the surviving
    prior delta (prior rows for re-changed convs are dropped — the new
    stale list supersedes them) and its stale list with the prior one.
    """
    new_stale = stale_convs.select("conv_id").distinct()
    delta = term_frequencies(changed_spans, "extracted_text", ["conv_id", "turn_idx"])
    prev = io.read_manifest("tokens_delta")
    if prev is not None and prev["rows"] > 0:
        prev_delta = io.read_table(spark, "tokens_delta").join(
            F.broadcast(new_stale), "conv_id", "left_anti"
        )
        delta = prev_delta.unionByName(delta)
    if io.read_manifest("index_stale_convs") is not None:
        new_stale = (
            io.read_table(spark, "index_stale_convs")
            .unionByName(new_stale)
            .distinct()
        )
    m_tokens = io.commit_stage(
        delta, "tokens_delta", input_snapshot, CONFIG_HASH,
        counter_cols=["tf"], bucket_col="term", n_buckets=n_buckets,
    )
    dl = (
        io.read_table(spark, "tokens_delta")
        .groupBy("conv_id", "turn_idx")
        .agg(F.sum("tf").cast("long").alias("dl"))
    )
    m_dl = io.commit_stage(
        dl, "doc_lengths_delta", input_snapshot, CONFIG_HASH,
        counter_cols=["dl"], bucket_col="conv_id", n_buckets=n_buckets,
    )
    m_stale = io.commit_stage(
        new_stale, "index_stale_convs", input_snapshot, CONFIG_HASH,
    )
    return {"tokens_delta": m_tokens, "doc_lengths_delta": m_dl,
            "stale_convs": m_stale}


def _merged(io: TableIO, spark: SparkSession, main_name: str, delta_name: str) -> DataFrame:
    if io.read_manifest(delta_name) is None:
        return io.read_table(spark, main_name)
    delta = io.read_table(spark, delta_name)
    if io.read_manifest(main_name) is None:
        return delta  # bootstrap: first refresh ran before any main commit
    main = io.read_table(spark, main_name)
    stale = io.read_table(spark, "index_stale_convs")
    return main.join(F.broadcast(stale), "conv_id", "left_anti").unionByName(delta)


def read_tokens_merged(spark: SparkSession, io: TableIO) -> DataFrame:
    """Serving view of the index: main minus stale convs, plus delta.
    The stale list is broadcast — no shuffle of the main index."""
    return _merged(io, spark, "tokens", "tokens_delta")


def read_doc_lengths_merged(spark: SparkSession, io: TableIO) -> DataFrame:
    return _merged(io, spark, "doc_lengths", "doc_lengths_delta")


def compact_serving_index(
    spark: SparkSession, io: TableIO, input_snapshot: str, n_buckets: int = 16
) -> dict:
    """Fold delta into main (one rewrite, amortized over the refreshes
    since the last compaction), reset delta/stale to empty, and
    recommit the stage-4 corpus statistics from the merged lengths.

    Commits under ``<input_snapshot>:compacted`` — distinct from the
    refresh's own snapshot id, so the delta reset is not swallowed by
    the refresh's committed manifests, while compaction itself stays
    resume-idempotent."""
    cfg = CONFIG_HASH
    input_snapshot = f"{input_snapshot}:compacted"
    merged_tokens = read_tokens_merged(spark, io)
    m_tokens = io.commit_stage(
        merged_tokens, "tokens", input_snapshot, cfg,
        counter_cols=["tf"], bucket_col="term", n_buckets=n_buckets,
    )
    # merge the doc_lengths segments directly (same broadcast-anti +
    # union shape as the token merge) — the r4 form re-aggregated the
    # ENTIRE just-compacted token index (groupBy over every posting, a
    # full-index shuffle per compaction); the dl segments already hold
    # the per-turn sums, so merging them costs ∝ |main dl| rows, not
    # ∝ |postings|. Equality with a from-scratch rebuild stays pinned
    # in tests/test_index_maintenance.
    merged_dl = read_doc_lengths_merged(spark, io)
    m_dl = io.commit_stage(
        merged_dl, "doc_lengths", input_snapshot, cfg,
        counter_cols=["dl"], bucket_col="conv_id", n_buckets=n_buckets,
    )
    m_stats = io.commit_stage(
        corpus_stats_of(spark, io), "corpus_stats", input_snapshot, cfg,
        counter_cols=["n_docs"],
    )
    # reset the delta segment: empty tables under the compacted snapshot.
    # A JVM-side empty RDD has no partitions, so each reset write is one
    # task; createDataFrame([]) parallelizes an empty list over every core
    empty = spark.sparkContext.emptyRDD()
    for name, schema in (
        ("tokens_delta", "conv_id string, turn_idx int, term string, tf int"),
        ("doc_lengths_delta", "conv_id string, turn_idx int, dl long"),
        ("index_stale_convs", "conv_id string"),
    ):
        io.commit_stage(
            spark.createDataFrame(empty, schema), name, input_snapshot, cfg
        )
    return {"tokens": m_tokens, "doc_lengths": m_dl, "corpus_stats": m_stats}
