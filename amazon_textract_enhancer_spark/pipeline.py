"""The end-to-end extraction job (SURVEY.md §3.1 "ours"):

    transcripts (scan, column-pruned)
    → fused extraction UDF stage        (stages.extract_spans)
    → extracted_spans commit            (F1 bucketed by conv_id, F3)
    → ┬ conversation rollup commit      (F2 salted two-phase agg)
      ├ tokens inverted-index commit    (A9/C5-ii serving table)
      └ doc_lengths → corpus_stats      (serving statistics; the stats
                                         row from the doc_lengths manifest)

Every stage commits atomically with per-partition lineage counters and
resumes from the manifest if already committed for the same input
snapshot (kill-resume test: tests/test_checkpoint_resume.py). This is
also the job the bench harness runs at two parallelism levels for the
scaling-efficiency evidence (BASELINE.md protocol).

The three derived stages are independent consumers of the committed
spans table (the DAG fans out), so they run CONCURRENTLY in one
session — Spark's scheduler is thread-safe and concurrent
jobs backfill each other's idle task slots, so the level's wall is
max(stage walls), not their sum. That matters twice at scale: the
small stages (conv_rollup's aggregation, the doc_lengths map) hide
under the tokens build instead of adding serial Amdahl floor, and no
stage's tail (last task of a skewed bucket write) idles the cluster.
corpus_stats, the one stage that waits on another, aggregates nothing:
its row is read off the committed doc_lengths manifest (row count and
summed ``dl`` lineage counter), so it adds one small commit to that
chain and no scan.

Cluster launch: ``spark-submit --py-files ates.zip run_pipeline.py``
(see bench_scaling.py for the exact invocation used in-sandbox). In
production the two DEPENDENCY LEVELS are typically their own
spark-submits (extraction, then the derived fan-out in one session) —
pass ``stages=[...]`` to run a subset; the manifest resume protocol
makes the split safe.
"""

from __future__ import annotations

import time as _time
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from .operators.io_util import overlap
from .operators.scale import salted_conv_rollup
from .operators.serving import corpus_stats_of, doc_lengths_of, term_frequencies
from .sources.tableio import TableIO, snapshot_id_of
from .stages import extract_spans

CONFIG_HASH = "pipeline-v1"
STAGES = ("extracted_spans", "conv_rollup", "tokens", "corpus_stats")


def run_extraction_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    warehouse: str,
    n_buckets: int = 16,
    input_snapshot: str | None = None,
    stages: list[str] | None = None,
    retain_snapshots: int = 0,
) -> dict:
    """Run (or resume) the pipeline; returns manifests per stage plus a
    ``_stage_seconds`` timing map (per-stage wall, for the
    scaling-evidence split of compute vs commit I/O).

    ``stages``: run only the named subset (stage-per-job scheduling:
    each later stage resumes from the previous stage's committed
    table). Resume needs no check here: every stage frame is lazy, and
    ``commit_stage`` returns the committed manifest without running it
    when (input_snapshot, config) already match.

    ``n_buckets`` sizing: with the exchange pushed below the
    extraction (stage 1), the extraction stage runs on exactly
    ``n_buckets`` tasks — set it to at least the cluster's task-slot
    count (any bucketed table needs that for write parallelism anyway;
    the old exchange-above form had the identical cap on its write
    stage). ``run_pipeline.py`` defaults it to
    ``max(16, defaultParallelism)`` and exposes ``--n-buckets`` (r5
    review: the fixed 16 silently halved extraction parallelism at
    local[32]). At production scale the bucket count is a table-spec
    constant in the thousands, far above any single stage's slot
    count."""
    run_set = set(stages) if stages is not None else set(STAGES)
    stage_seconds: dict[str, float] = {}
    # retain_snapshots > 0 keeps that many superseded table snapshots
    # readable (time travel / rollback_to — the Iceberg history knob);
    # 0 keeps only the current snapshot
    io = TableIO(warehouse, retain_snapshots=retain_snapshots)
    if input_snapshot is None:
        # text included: a text-only edit must produce a new snapshot id,
        # else resume would silently serve stale spans (ADVICE round 1)
        input_snapshot = snapshot_id_of(transcripts, ["conv_id", "turn_idx", "text"])

    manifests: dict[str, dict] = {}

    # stage 1: extraction (shuffle-free UDF stage) + bucketed commit (F1)
    if "extracted_spans" in run_set:
        _t = _time.monotonic()
        # exchange BELOW the extraction (r5): bucket the raw INPUT by
        # conv_id, then extract — the UDF is a per-turn narrow map, so
        # it commutes with the repartition and preserves partition
        # identity; the commit then writes map-side (pre_bucketed). The
        # old order shuffled the extraction's OUTPUT: the same rows but
        # ~2× wider, with deeply nested table/kv structs whose UnsafeRow
        # serialization dominated the commit cost (measured: +4-26 s at
        # local[8] on 1M turns, the full-pipeline scaling gate's worst
        # component). Raw transcript rows are six flat columns — the
        # cheapest form of this data that will ever exist to shuffle.
        spans = extract_spans(transcripts.repartition(n_buckets, "conv_id"))
        manifests["extracted_spans"] = io.commit_stage(
            spans,
            "extracted_spans",
            input_snapshot,
            CONFIG_HASH,
            counter_cols=["counters.blocks_parsed", "counters.tables_reconstructed",
                          "counters.kv_pairs"],
            bucket_col="conv_id",
            n_buckets=n_buckets,
            pre_bucketed=True,
        )
        stage_seconds["extracted_spans"] = round(_time.monotonic() - _t, 2)

    if run_set - {"extracted_spans"}:
        # stage-subset safety (ADVICE r2): later stages must read spans
        # committed for THIS (input_snapshot, CONFIG_HASH) — a manifest
        # from an edited input or another config would silently feed
        # stale spans into the rollup/tokens commits under the new
        # snapshot id (the same stale-resume bug class F3 fixed for
        # snapshot ids)
        if not io.is_committed("extracted_spans", input_snapshot, CONFIG_HASH):
            m = io.read_manifest("extracted_spans")
            have = (m.get("input_snapshot"), m.get("config_hash")) if m else None
            raise RuntimeError(
                "stage-subset run needs extracted_spans committed for "
                f"(snapshot={input_snapshot}, config={CONFIG_HASH}); "
                f"found {have} — run the extracted_spans stage first"
            )
        spans = io.read_table(spark, "extracted_spans")

    # stage 2: conversation rollup (explicit salting F2)
    def _stage_conv_rollup() -> None:
        manifests["conv_rollup"] = io.commit_stage(
            salted_conv_rollup(spans), "conv_rollup", input_snapshot, CONFIG_HASH,
            counter_cols=["n_turns", "n_tables", "n_forms", "n_skipped"],
        )

    # stage 3: tokens inverted index (serving layer A9/C5)
    def _stage_tokens() -> None:
        # tf is within-turn local: run-length encoding per row, zero
        # shuffle — the only exchange is the bucket-by-term write
        toks = term_frequencies(spans, "extracted_text", ["conv_id", "turn_idx"])
        manifests["tokens"] = io.commit_stage(
            toks, "tokens", input_snapshot, CONFIG_HASH,
            counter_cols=["tf"], bucket_col="term", n_buckets=n_buckets,
        )

    # stage 4: serving statistics — per-turn token lengths plus the
    # one-row corpus aggregate (n_docs, avgdl, total_tokens). These are
    # what the index-backed rankers consume: BM25's length
    # normalization reads doc_lengths + the corpus_stats scalars
    # (serving.c5_search_bm25_indexed), and ANN's corpus-derived LSH
    # plane count reads a committed count instead of re-running
    # emb.count() per query (ADVICE r3). doc_lengths derives from the
    # committed SPANS table via the shared tokenizer (dl == sum(tf) by
    # construction; serving.doc_lengths_of) — the r4 form re-read the
    # committed token index and pushed its full posting volume through
    # a groupBy, which the 10×-input run measured going superlinear
    # through a data-independent shuffle-partition constant
    # (BENCH/scale10x.json: +152% per-turn at 10×); this form's cost is
    # ∝ turns, and its only exchange is the bucket-by-conv commit.
    # corpus_stats is read off the committed doc_lengths manifest
    # (serving.corpus_stats_of: row count and the summed dl lineage
    # counter), so it scans nothing, and a resumed run builds the same
    # row the same way.
    def _stage_corpus_stats() -> None:
        dl = doc_lengths_of(spans, "extracted_text", ["conv_id", "turn_idx"])
        manifests["doc_lengths"] = io.commit_stage(
            dl, "doc_lengths", input_snapshot, CONFIG_HASH,
            counter_cols=["dl"], bucket_col="conv_id", n_buckets=n_buckets,
        )
        manifests["corpus_stats"] = io.commit_stage(
            corpus_stats_of(spark, io), "corpus_stats", input_snapshot,
            CONFIG_HASH, counter_cols=["n_docs"],
        )

    # derived level: independent consumers of committed spans — run
    # concurrently (see module doc); wall = max(stage walls), and the
    # level's own wall is recorded as "derived_level" so harnesses
    # never sum overlapping per-stage walls
    derived_fns = {
        "conv_rollup": _stage_conv_rollup,
        "tokens": _stage_tokens,
        "corpus_stats": _stage_corpus_stats,
    }
    derived = [s for s in ("conv_rollup", "tokens", "corpus_stats") if s in run_set]

    def _timed(name: str) -> None:
        _t = _time.monotonic()
        derived_fns[name]()
        stage_seconds[name] = round(_time.monotonic() - _t, 2)

    if derived:
        _t_level = _time.monotonic()
        overlap({s: partial(_timed, s) for s in derived})
        stage_seconds["derived_level"] = round(_time.monotonic() - _t_level, 2)

    manifests["_stage_seconds"] = stage_seconds
    return manifests
