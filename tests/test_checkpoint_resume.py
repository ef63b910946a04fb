"""M4 tests — F1 bucketing, F2 salting invariants, F3 checkpoint/
kill-resume, F4 lineage counters, incremental snapshot-diff refresh,
availableNow streaming (SURVEY.md §5.3/§5.4).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from amazon_textract_enhancer_spark.fixtures import generate_transcripts, rows_to_pandas
from amazon_textract_enhancer_spark.pipeline import run_extraction_pipeline
from amazon_textract_enhancer_spark.schemas import TRANSCRIPT_SCHEMA
from amazon_textract_enhancer_spark.sources.tableio import TableIO
from amazon_textract_enhancer_spark.stages import extract_spans
from conftest import jobs_in_group


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def _hash_table(df, cols):
    h = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(1_000_000_007))
    return df.select(F.sum(h).alias("h"), F.count(F.lit(1)).alias("n")).collect()[0]


def test_pipeline_commit_and_resume_identical(spark, transcripts_df, warehouse):
    m1 = run_extraction_pipeline(spark, transcripts_df, warehouse)
    assert set(m1) == {"extracted_spans", "conv_rollup", "tokens",
                       "doc_lengths", "corpus_stats", "_stage_seconds"}

    # stage 4 consistency: the committed one-row corpus_stats must agree
    # with an independent aggregation of the committed tokens table
    io4 = TableIO(warehouse)
    stats = io4.read_table(spark, "corpus_stats").collect()[0]
    toks = io4.read_table(spark, "tokens")
    dl_check = toks.groupBy("conv_id", "turn_idx").agg(
        F.sum("tf").alias("dl"))
    n_docs = dl_check.count()
    total = dl_check.agg(F.sum("dl")).collect()[0][0]
    assert stats["n_docs"] == n_docs
    assert stats["total_tokens"] == total
    assert abs(stats["avgdl"] - total / n_docs) < 1e-9
    # exact: the row is read off the doc_lengths manifest, and total / n
    # is the same double as Spark's avg over the committed table
    assert stats["avgdl"] == total / n_docs
    assert stats["avgdl"] == io4.read_table(spark, "doc_lengths").agg(
        F.avg("dl")).collect()[0][0]
    io = TableIO(warehouse)
    h_before = _hash_table(
        io.read_table(spark, "extracted_spans"), ["conv_id", "turn_idx", "extracted_text"]
    )
    committed_at = io.read_manifest("extracted_spans")["committed_at_unix"]

    # resume: second run must be a no-op (manifests returned unchanged)
    m2 = run_extraction_pipeline(spark, transcripts_df, warehouse)
    assert io.read_manifest("extracted_spans")["committed_at_unix"] == committed_at
    h_after = _hash_table(
        io.read_table(spark, "extracted_spans"), ["conv_id", "turn_idx", "extracted_text"]
    )
    assert h_before == h_after
    assert m2["conv_rollup"]["rows"] == m1["conv_rollup"]["rows"]


def test_kill_between_stages_resumes_byte_identical(spark, transcripts_df, warehouse):
    """Simulate a kill after stage 1: only extracted_spans committed;
    rerun completes the remaining stages; extracted_spans untouched and
    final outputs equal an uninterrupted run (SURVEY.md §5.3)."""
    from amazon_textract_enhancer_spark.pipeline import CONFIG_HASH
    from amazon_textract_enhancer_spark.sources.tableio import snapshot_id_of

    io = TableIO(warehouse)
    snap = snapshot_id_of(transcripts_df, ["conv_id", "turn_idx", "text"])
    io.commit_stage(
        extract_spans(transcripts_df), "extracted_spans", snap, CONFIG_HASH,
        bucket_col="conv_id", n_buckets=16,
    )
    spans_manifest = io.read_manifest("extracted_spans")

    # "restart": full pipeline resumes from the manifest
    m = run_extraction_pipeline(spark, transcripts_df, warehouse)
    assert m["extracted_spans"]["committed_at_unix"] == spans_manifest["committed_at_unix"]

    # uninterrupted control run in a fresh warehouse
    control = warehouse + "-control"
    mc = run_extraction_pipeline(spark, transcripts_df, control)
    io_c = TableIO(control)
    for table in ("extracted_spans", "conv_rollup", "tokens"):
        a = _hash_table(io.read_table(spark, table), _key_cols(table))
        b = _hash_table(io_c.read_table(spark, table), _key_cols(table))
        assert a == b, table
    shutil.rmtree(control, ignore_errors=True)


def test_pipeline_job_counts_cold_and_resumed(spark, warehouse):
    """Exact job-count guard: a cold run starts 22 Spark jobs and a
    fully resumed re-run 2 (the snapshot hash and nothing else of
    note). No commit read-back and no read_table infers a schema from
    parquet footers (that cost one job each: 28 and 3 before), and
    corpus_stats scans nothing. Built on an uncached input so the count
    does not depend on which earlier test materialized a cache."""
    rows, _ = generate_transcripts(seed=42, n_convs=25)
    df = spark.createDataFrame(rows_to_pandas(rows), schema=TRANSCRIPT_SCHEMA)
    _, cold = jobs_in_group(
        spark, "pipeline-cold", lambda: run_extraction_pipeline(spark, df, warehouse))
    _, resumed = jobs_in_group(
        spark, "pipeline-resumed", lambda: run_extraction_pipeline(spark, df, warehouse))
    assert (cold, resumed) == (22, 2)


def _stats_row(spark, io):
    (row,) = io.read_table(spark, "corpus_stats").collect()
    return row["n_docs"], row["total_tokens"], row["avgdl"]


def test_corpus_stats_resume_after_doc_lengths_commit_bitwise(
    spark, transcripts_df, warehouse
):
    """Kill after doc_lengths commits (its manifest stays, corpus_stats
    has none): the re-run rebuilds corpus_stats from the committed
    doc_lengths manifest, bit for bit the uninterrupted run's row and
    Spark's count / sum / avg over the committed doc_lengths."""
    run_extraction_pipeline(spark, transcripts_df, warehouse)
    io = TableIO(warehouse)
    want = _stats_row(spark, io)
    agg = io.read_table(spark, "doc_lengths").agg(
        F.count(F.lit(1)), F.sum("dl"), F.avg("dl")).collect()[0]
    assert want[0] > 0 and tuple(agg) == want
    assert agg[2].hex() == want[2].hex()

    dl_committed_at = io.read_manifest("doc_lengths")["committed_at_unix"]
    os.remove(io.manifest_path("corpus_stats"))
    m = run_extraction_pipeline(spark, transcripts_df, warehouse)
    assert m["doc_lengths"]["committed_at_unix"] == dl_committed_at
    got = _stats_row(spark, io)
    assert got == want
    assert got[2].hex() == want[2].hex()


def test_corpus_stats_of_empty_corpus_is_zero_null_null(spark, warehouse):
    """A corpus whose turns are all empty or skipped has no doc_lengths
    rows: corpus_stats is (0, null, null), the empty aggregate's row."""
    rows, _ = generate_transcripts(seed=42, n_convs=3)
    for i, r in enumerate(rows):
        r["text"] = ("", None, "   ")[i % 3]
    df = spark.createDataFrame(rows_to_pandas(rows), schema=TRANSCRIPT_SCHEMA)
    m = run_extraction_pipeline(spark, df, warehouse)
    assert m["extracted_spans"]["rows"] == len(rows)
    assert m["doc_lengths"]["rows"] == 0
    assert _stats_row(spark, TableIO(warehouse)) == (0, None, None)


def _key_cols(table):
    return {
        "extracted_spans": ["conv_id", "turn_idx", "extracted_text"],
        "conv_rollup": ["conv_id", "n_turns", "n_tables", "n_forms", "n_chars"],
        "tokens": ["term", "conv_id", "turn_idx", "tf"],
    }[table]


def test_halfwritten_tmp_dir_is_garbage_collected(spark, transcripts_df, warehouse):
    io = TableIO(warehouse)
    tpath = io.table_path("extracted_spans")
    os.makedirs(os.path.join(tpath, ".tmp-deadbeef"), exist_ok=True)
    with open(os.path.join(tpath, ".tmp-deadbeef", "part-0.parquet"), "w") as f:
        f.write("junk from a killed run")
    run_extraction_pipeline(spark, transcripts_df, warehouse)
    assert not any(d.startswith(".tmp-") for d in os.listdir(tpath))
    assert io.read_manifest("extracted_spans")["rows"] > 0


def test_lineage_counters_sum_to_totals(spark, transcripts_df, warehouse):
    """F4: manifest lineage is a partition of the data (no loss/dup)."""
    run_extraction_pipeline(spark, transcripts_df, warehouse)
    io = TableIO(warehouse)
    m = io.read_manifest("extracted_spans")
    assert m["rows"] == transcripts_df.count()
    assert sum(r["rows"] for r in m["lineage"]) == m["rows"]
    total_blocks = sum(r["counters_blocks_parsed"] for r in m["lineage"])
    want = (
        extract_spans(transcripts_df)
        .agg(F.sum("counters.blocks_parsed"))
        .collect()[0][0]
    )
    assert total_blocks == want
    # bucketing recorded
    assert m["bucket_col"] == "conv_id"


def test_salting_is_a_partition_of_input(spark, transcripts_df):
    """F2 property: salted two-phase rollup == direct rollup (SURVEY.md
    §5.3 'salting is a partition of the input')."""
    from amazon_textract_enhancer_spark.operators.scale import salted_conv_rollup

    spans = extract_spans(transcripts_df)
    salted = salted_conv_rollup(spans).orderBy("conv_id").collect()
    direct = (
        spans.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum(F.size("tables")).cast("long").alias("n_tables"),
            F.sum(F.size("forms")).cast("long").alias("n_forms"),
            F.sum(F.when(F.col("counters.skipped"), 1).otherwise(0)).cast("long").alias("n_skipped"),
            F.sum(F.length("extracted_text")).cast("long").alias("n_chars"),
        )
        .orderBy("conv_id")
        .collect()
    )
    assert salted == direct


def test_incremental_snapshot_diff(spark, warehouse):
    """Only changed/new conversations are re-extracted; results match a
    full recompute."""
    from amazon_textract_enhancer_spark.streaming import incremental_extract

    rows_v1, _ = generate_transcripts(seed=42, n_convs=12)
    df_v1 = spark.createDataFrame(rows_to_pandas(rows_v1), schema=TRANSCRIPT_SCHEMA)
    r1 = incremental_extract(spark, df_v1, warehouse)
    assert r1["changed_convs"] == 12

    # v2: drop one conv, mutate one conv, add one conv
    rows_v2 = [dict(r) for r in rows_v1 if r["conv_id"] != "conv00000001"]
    for r in rows_v2:
        if r["conv_id"] == "conv00000002" and r["turn_idx"] == 0:
            r["text"] = "changed plain text content"
    extra, _ = generate_transcripts(seed=99, n_convs=1)
    for r in extra:
        r["conv_id"] = "conv99999999"
        rows_v2.append(r)
    df_v2 = spark.createDataFrame(rows_to_pandas(rows_v2), schema=TRANSCRIPT_SCHEMA)

    r2 = incremental_extract(spark, df_v2, warehouse)
    assert r2["changed_convs"] == 2  # mutated + new
    assert r2["reused_convs"] == 10

    io = TableIO(warehouse)
    got = io.read_table(spark, "extracted_spans")
    # full recompute control
    want = extract_spans(df_v2)
    a = _hash_table(got, ["conv_id", "turn_idx", "extracted_text"])
    b = _hash_table(want, ["conv_id", "turn_idx", "extracted_text"])
    assert a == b
    assert got.filter(F.col("conv_id") == "conv00000001").count() == 0


def test_text_only_edit_invalidates_snapshot(spark, transcripts_df, warehouse):
    """ADVICE r1 (high): a rerun after a text-only edit (same keys, same
    row count) must re-extract, not resume with stale spans — the
    snapshot id hashes text, not just (conv_id, turn_idx)."""
    run_extraction_pipeline(spark, transcripts_df, warehouse)
    io = TableIO(warehouse)

    marker = "TEXT-ONLY-EDIT-SENTINEL"
    edited = transcripts_df.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "conv00000000") & (F.col("turn_idx") == 0),
            F.lit(marker),
        ).otherwise(F.col("text")),
    )
    assert edited.count() == transcripts_df.count()  # keys/counts identical
    run_extraction_pipeline(spark, edited, warehouse)
    got = (
        io.read_table(spark, "extracted_spans")
        .filter((F.col("conv_id") == "conv00000000") & (F.col("turn_idx") == 0))
        .collect()
    )
    assert len(got) == 1 and got[0]["extracted_text"] == marker


def test_incremental_text_only_edit_reextracts(spark, warehouse):
    """Same invariant on the incremental path: one changed text ⇒
    changed_convs == 1 AND the committed table serves the new text."""
    from amazon_textract_enhancer_spark.streaming import incremental_extract

    rows_v1, _ = generate_transcripts(seed=42, n_convs=8)
    df_v1 = spark.createDataFrame(rows_to_pandas(rows_v1), schema=TRANSCRIPT_SCHEMA)
    incremental_extract(spark, df_v1, warehouse)

    rows_v2 = [dict(r) for r in rows_v1]
    target = None
    for r in rows_v2:
        if r["conv_id"] == "conv00000002" and r["turn_idx"] == 0:
            r["text"] = "edited plain text only"
            target = r
    assert target is not None
    df_v2 = spark.createDataFrame(rows_to_pandas(rows_v2), schema=TRANSCRIPT_SCHEMA)
    r2 = incremental_extract(spark, df_v2, warehouse)
    assert r2["changed_convs"] == 1 and r2["reused_convs"] == 7

    io = TableIO(warehouse)
    got = (
        io.read_table(spark, "extracted_spans")
        .filter((F.col("conv_id") == "conv00000002") & (F.col("turn_idx") == 0))
        .collect()
    )
    assert len(got) == 1 and got[0]["extracted_text"] == "edited plain text only"


def test_crash_mid_commit_leaves_no_stale_manifest(spark, transcripts_df, warehouse, monkeypatch):
    """ADVICE r1 (medium): a crash inside the data swap must not leave
    the OLD manifest describing deleted/replaced data. Inject a crash
    after the new data lands but before the manifest write; the table
    must read as uncommitted, and a clean re-run must recover."""
    io = TableIO(warehouse)
    spans = extract_spans(transcripts_df)
    io.commit_stage(spans, "extracted_spans", "snapA", "v1")
    assert io.is_committed("extracted_spans", "snapA", "v1")

    import json as _json

    real_dump = _json.dump

    def boom(*a, **kw):
        raise RuntimeError("injected crash before manifest write")

    monkeypatch.setattr("amazon_textract_enhancer_spark.sources.tableio.json.dump", boom)
    with pytest.raises(RuntimeError):
        io.commit_stage(spans, "extracted_spans", "snapB", "v1")
    # the old manifest is GONE (invalidate-first), not stale
    assert io.read_manifest("extracted_spans") is None
    assert not io.is_committed("extracted_spans", "snapA", "v1")

    monkeypatch.setattr("amazon_textract_enhancer_spark.sources.tableio.json.dump", real_dump)
    m = io.commit_stage(spans, "extracted_spans", "snapB", "v1")
    assert m["rows"] == transcripts_df.count()
    assert io.read_table(spark, "extracted_spans").count() == m["rows"]
    leftovers = [
        d for d in os.listdir(io.table_path("extracted_spans"))
        if d.startswith(("tmp-", ".tmp-", ".old-"))
    ]
    assert leftovers == []


def test_crash_after_write_leaves_visible_staging_dir_that_next_commit_reaps(
    spark, transcripts_df, warehouse, monkeypatch
):
    """A crash after the parquet write, before the staged files move
    into data/, leaves the staging dir behind. Its name must not start
    with '.' or '_' (Spark treats those as hidden, and the commit reads
    its own files back from there), and the next commit must delete it."""
    io = TableIO(warehouse)
    spans = extract_spans(transcripts_df)
    tpath = io.table_path("extracted_spans")

    def boom(*a, **kw):
        raise RuntimeError("injected crash after the parquet write")

    monkeypatch.setattr("amazon_textract_enhancer_spark.sources.tableio.os.replace", boom)
    with pytest.raises(RuntimeError):
        io.commit_stage(spans, "extracted_spans", "snapA", "v1")
    monkeypatch.undo()

    staged = [d for d in os.listdir(tpath) if "tmp-" in d]
    assert len(staged) == 1
    assert not staged[0].startswith((".", "_")), staged
    assert any(f.endswith(".parquet") for f in os.listdir(os.path.join(tpath, staged[0])))
    assert io.read_manifest("extracted_spans") is None

    m = io.commit_stage(spans, "extracted_spans", "snapA", "v1")
    assert m["rows"] == transcripts_df.count()
    assert not any("tmp-" in d for d in os.listdir(tpath))


def test_streaming_available_now(spark, tmp_path):
    """availableNow structured-streaming shape over a file source."""
    from amazon_textract_enhancer_spark.streaming import stream_extract

    rows, _ = generate_transcripts(seed=42, n_convs=6)
    df = spark.createDataFrame(rows_to_pandas(rows), schema=TRANSCRIPT_SCHEMA)
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df.write.parquet(input_dir)

    stream_extract(spark, input_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    assert got.count() == df.count()
    # exactly-once: second availableNow run adds nothing
    stream_extract(spark, input_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == df.count()


def test_stage_subset_requires_matching_spans_manifest(spark, transcripts_df, tmp_path):
    """ADVICE r2 (medium): a stage-subset run (stages=['conv_rollup'])
    must refuse to read an extracted_spans table committed for a
    DIFFERENT (input_snapshot, config) — silently computing rollups
    from stale spans and committing them under the new snapshot id is
    the stale-resume bug class F3 exists to kill."""
    import pytest as _pytest

    from amazon_textract_enhancer_spark.pipeline import run_extraction_pipeline

    warehouse = str(tmp_path / "wh")

    # no spans committed at all -> clear error
    with _pytest.raises(RuntimeError, match="stage-subset"):
        run_extraction_pipeline(spark, transcripts_df, warehouse,
                                stages=["conv_rollup"])

    # commit spans for the real snapshot, then ask for a subset under an
    # edited input (different snapshot) -> must also refuse
    run_extraction_pipeline(spark, transcripts_df, warehouse,
                            stages=["extracted_spans"])
    with _pytest.raises(RuntimeError, match="stage-subset"):
        run_extraction_pipeline(spark, transcripts_df, warehouse,
                                input_snapshot="edited-input-snapshot",
                                stages=["conv_rollup"])

    # matching snapshot resumes cleanly
    m = run_extraction_pipeline(spark, transcripts_df, warehouse,
                                stages=["conv_rollup"])
    assert "conv_rollup" in m


def test_range_sorted_export_shards(spark, warehouse):
    """range_col + sort_within commit: shard k holds a contiguous
    doc_id range (shards are pairwise disjoint and ordered by file
    name) and rows inside each shard file are sorted — a totally
    ordered export with no global sort on read. Manifest records the
    layout; resume semantics unchanged."""
    import glob

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("grp"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    ).repartition(13)  # scrambled input layout
    io = TableIO(warehouse)
    m = io.commit_stage(
        df, "export", "snap1", range_col="doc_id",
        sort_within=["doc_id"], n_buckets=4,
    )
    assert m["range_col"] == "doc_id" and m["sort_within"] == ["doc_id"]
    assert m["rows"] == 2000 and m["n_buckets"] == 4

    files = sorted(glob.glob(os.path.join(io.data_path("export"), "part-*")))
    assert len(files) == 4
    prev_max = -1
    for fpath in files:
        ids = [r["doc_id"] for r in spark.read.parquet(fpath).collect()]
        assert ids == sorted(ids), fpath          # sorted inside shard
        assert min(ids) > prev_max, fpath          # shards disjoint+ordered
        prev_max = max(ids)

    # mutually exclusive layouts rejected
    with pytest.raises(ValueError, match="mutually exclusive"):
        io.commit_stage(df, "export2", "snap1",
                        bucket_col="grp", range_col="doc_id")

    # resume: same (snapshot, config) is a no-op returning the manifest
    m2 = io.commit_stage(df, "export", "snap1", range_col="doc_id",
                         sort_within=["doc_id"], n_buckets=4)
    assert m2["committed_at_unix"] == m["committed_at_unix"]

