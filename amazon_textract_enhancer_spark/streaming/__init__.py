"""Incrementality (SURVEY.md §3.3) — the SNS-completion analog.

The reference is push-incremental: SNS fires per completed document
and a Lambda post-processes just that document. Our equivalents:

1. ``incremental_extract`` — batch-incremental snapshot diff: compare
   the new transcripts snapshot against the committed manifest's
   per-conversation fingerprints, re-extract ONLY new/changed
   conversations, and merge into extracted_spans. At 10^12 turns this
   is the only affordable refresh path.

2. ``stream_extract`` — Structured Streaming ``availableNow`` shape for
   file-arrival pipelines: readStream over a transcript directory →
   the same fused extraction stage (mapInArrow works on streaming
   DataFrames) → parquet sink with checkpointLocation. Exactly-once
   via the streaming commit log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tableio import TableIO
from ..stages import extract_spans


def _text_fp():
    """Content fingerprint of a turn for exact dedup: md5 of
    ``lower(coalesce(text, ''))``."""
    return F.md5(F.lower(F.coalesce("text", F.lit(""))))


def _run_available_now(df: DataFrame, output_dir: str, checkpoint_dir: str) -> None:
    """The one availableNow parquet sink of this module: append ``df``
    to ``output_dir`` with its offsets and state in ``checkpoint_dir``
    (exactly-once across restarts), process everything present and
    return once the query terminates."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def conv_fingerprints(transcripts: DataFrame) -> DataFrame:
    """(conv_id, fp): order-insensitive per-conversation content hash —
    the change-detection key for snapshot diffing."""
    h = F.pmod(F.xxhash64("conv_id", "turn_idx", "text"), F.lit(1_000_000_007))
    return transcripts.groupBy("conv_id").agg(
        F.sum(h).alias("fp"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
    )


def incremental_extract(
    spark: SparkSession,
    new_transcripts: DataFrame,
    warehouse: str,
) -> dict:
    """Snapshot-diff refresh of extracted_spans.

    Changed set = conv_ids whose fingerprint differs from (or is absent
    in) the committed spans table's source fingerprints. Unchanged
    conversations' spans are carried over without re-extraction; the
    merged table is committed atomically under the new snapshot id.
    Returns {"changed_convs": int, "reused_convs": int, "manifest": …}.
    """
    io = TableIO(warehouse)
    fp_new = conv_fingerprints(new_transcripts)

    have_prev = io.read_manifest("extracted_spans") is not None and (
        io.read_manifest("conv_fingerprints") is not None
    )
    deleted = None
    if not have_prev:
        changed = fp_new
        reused_spans = None
    else:
        fp_old = io.read_table(spark, "conv_fingerprints")
        joined = fp_new.alias("n").join(
            fp_old.alias("o"), F.col("n.conv_id") == F.col("o.conv_id"), "left"
        )
        changed = joined.filter(
            F.col("o.fp").isNull() | (F.col("n.fp") != F.col("o.fp"))
        ).select(F.col("n.conv_id").alias("conv_id"), F.col("n.fp").alias("fp"),
                 F.col("n.n_turns").alias("n_turns"))
        deleted = fp_old.join(fp_new, "conv_id", "left_anti").select("conv_id")
        prev_spans = io.read_table(spark, "extracted_spans")
        reused_spans = prev_spans.join(changed, "conv_id", "left_anti")
        # drop spans for conversations deleted from the new snapshot
        reused_spans = reused_spans.join(
            fp_new.select("conv_id"), "conv_id", "left_semi"
        )

    todo = new_transcripts.join(changed.select("conv_id"), "conv_id", "left_semi")
    new_spans = extract_spans(todo)
    merged = new_spans if reused_spans is None else reused_spans.unionByName(new_spans)

    from ..sources.tableio import snapshot_id_of

    snap = snapshot_id_of(new_transcripts, ["conv_id", "turn_idx", "text"])
    n_changed = changed.count()
    n_total = fp_new.count()
    # CDC record of this refresh's diff — committed FIRST (it reads the
    # OLD fingerprint table, which the fp_new commit below replaces) so
    # downstream incremental consumers (the main+delta serving-index
    # refresh, dedup_incremental, …) can read exactly which convs this
    # snapshot superseded or deleted, with lineage
    diff = changed.select("conv_id").withColumn("change_kind", F.lit("changed"))
    if deleted is not None:
        diff = diff.unionByName(
            deleted.withColumn("change_kind", F.lit("deleted"))
        )
    io.commit_stage(diff, "refresh_changed_convs", snap, "incremental-v1")
    manifest = io.commit_stage(
        merged, "extracted_spans", snap, "incremental-v1",
        counter_cols=["counters.blocks_parsed"], bucket_col="conv_id",
    )
    io.commit_stage(fp_new, "conv_fingerprints", snap, "incremental-v1")
    return {
        "changed_convs": n_changed,
        "reused_convs": n_total - n_changed,
        "manifest": manifest,
    }


def incremental_extract_with_index(
    spark: SparkSession,
    new_transcripts: DataFrame,
    warehouse: str,
    n_buckets: int = 16,
) -> dict:
    """The production refresh composition: snapshot-diff re-extraction
    (``incremental_extract``) followed by a main+delta serving-index
    refresh (``operators.index_maintenance``) fed from the committed
    CDC diff — end to end, a transcript-table edit flows through to
    BM25-ready serving tables at cost ∝ the diff, with the main index
    untouched. Equality with a from-scratch pipeline run is pinned in
    tests/test_index_maintenance.py."""
    from ..operators.index_maintenance import refresh_serving_index

    res = incremental_extract(spark, new_transcripts, warehouse)
    io = TableIO(warehouse)
    snap = res["manifest"]["input_snapshot"]
    diff = io.read_table(spark, "refresh_changed_convs")
    changed_ids = diff.filter(F.col("change_kind") == "changed").select("conv_id")
    # no broadcast hint: at steady state the diff is tiny and AQE
    # broadcasts it; on the bootstrap run the "diff" is the whole
    # corpus and a forced broadcast would be wrong
    changed_spans = io.read_table(spark, "extracted_spans").join(
        changed_ids, "conv_id", "left_semi"
    )
    res["index"] = refresh_serving_index(
        spark, io, changed_spans, diff.select("conv_id"), snap, n_buckets=n_buckets
    )
    return res


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """availableNow streaming run over a transcript parquet directory:
    processes all files present, commits exactly-once, terminates."""
    from ..schemas import TRANSCRIPT_SCHEMA

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    )
    spans = extract_spans(stream)
    _run_available_now(spans, output_dir, checkpoint_dir)


def stream_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    window: str = "1 day",
) -> None:
    """Event-time windowed aggregation with a watermark (late-data
    discipline for streaming ingest): counts per (event-time window,
    event_type), append mode — a window emits once the watermark passes
    its end, and later-than-watermark rows are dropped. availableNow
    trigger: one catch-up run per invocation, exactly-once via the
    checkpoint. (The reference has no stream engine — SNS push — so
    this is the Structured Streaming shape its incrementality maps to
    when input arrives as files; SURVEY.md §2.E 'Streaming' row.)
    """
    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).parquet(input_dir)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm").alias("win_start"),
            "event_type",
            "n",
        )
    )
    _run_available_now(agg, output_dir, checkpoint_dir)


def stream_stateful_conv_progress(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Custom stateful streaming operator (applyInPandasWithState):
    running per-conversation progress — cumulative turns and chars seen —
    maintained in group state across micro-batches AND across restarts
    (state lives in the checkpoint). The streaming analog of the
    reference's per-document job tracking in DynamoDB.

    Deployment note: the state-store partition count is frozen into the
    checkpoint at the query's FIRST run — set
    ``spark.sql.shuffle.partitions`` before the first trigger; it cannot
    be changed later without discarding state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..schemas import TRANSCRIPT_SCHEMA

    out_schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turns_seen", IntegerType()),
            StructField("chars_seen", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("turns", IntegerType()),
            StructField("chars", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        turns, chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            turns += len(pdf)
            chars += int(pdf["text"].fillna("").str.len().sum())
        state.update((turns, chars))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "turns_seen": [turns], "chars_seen": [chars]}
        )

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    progress = stream.groupBy("conv_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    _run_available_now(progress, output_dir, checkpoint_dir)


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 day",
) -> None:
    """STREAMING exact dedup — the ingest-time twin of the batch
    ``dedup_exact`` operator: arriving turns are dropped when their
    content fingerprint (md5 of lower(text)) was already seen within
    the watermark horizon. ``dropDuplicatesWithinWatermark`` keys the
    state store by fingerprint and expires entries once the watermark
    passes (bounded state — the difference between this and a plain
    ``dropDuplicates``, whose state grows forever on an unbounded
    stream). Duplicate suppression works across micro-batches AND
    across availableNow restarts (state lives in the checkpoint);
    exactly-once sink via the checkpoint as elsewhere.

    At 10^12-turn scale the state store is hash-partitioned by
    fingerprint across executors; the watermark bounds it to the dup
    horizon's worth of distinct fingerprints, and the fingerprint is
    computed map-side before the stateful exchange.
    """
    from ..schemas import TRANSCRIPT_SCHEMA

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    deduped = (
        stream.withColumn("fp", _text_fp())
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )
    _run_available_now(deduped, output_dir, checkpoint_dir)


def stream_join_call_results(
    spark: SparkSession,
    calls_dir: str,
    results_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    match_horizon: str = "30 minutes",
) -> None:
    """STREAM-STREAM inner join with watermarks on both sides — the
    completion-matching shape of the reference's async flow (a
    StartDocumentAnalysis submit stream joined to its SNS completion
    stream by JobId), here phrased for agent transcripts: a tool-CALL
    stream joined to its tool-RESULT stream by call_id, with the
    result required to land inside ``match_horizon`` of the call.

    The event-time range condition is what bounds state: each side
    buffers only rows newer than (watermark + horizon), so state is
    O(arrival rate x horizon) per partition, not O(stream). A result
    arriving later than the watermark allows is DROPPED, never matched
    retroactively — same late-data contract as the windowed agg. The
    join keys hash-partition both state stores identically (call_id
    equi-key), so matching is local to each state partition at any
    executor count. Exactly-once via the checkpoint; availableNow
    trigger = one catch-up run per invocation, semantics preserved
    across restarts because both watermark and buffered state live in
    the checkpoint.
    """
    calls = (
        spark.readStream.schema(
            "call_id long, conv_id string, tool string, ts timestamp"
        )
        .parquet(calls_dir)
        .withWatermark("ts", watermark)
    )
    results = (
        spark.readStream.schema("call_id long, status string, rts timestamp")
        .parquet(results_dir)
        .withWatermark("rts", watermark)
    )
    joined = calls.join(
        results,
        (calls["call_id"] == results["call_id"])
        & (results["rts"] >= calls["ts"])
        & (results["rts"] <= calls["ts"] + F.expr(f"INTERVAL {match_horizon}")),
        "inner",
    ).select(
        calls["call_id"],
        "conv_id",
        "tool",
        "status",
        calls["ts"].alias("call_ts"),
        results["rts"].alias("result_ts"),
        (F.unix_timestamp("rts") - F.unix_timestamp("ts")).alias("latency_s"),
    )
    _run_available_now(joined, output_dir, checkpoint_dir)


def compact_stream_landing(
    spark: SparkSession,
    landing_dir: str,
    io: TableIO,
    name: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 16,
    snapshot_cols: tuple[str, ...] = ("conv_id", "turn_idx", "extracted_text"),
    config_hash: str = "compact-v1",
) -> dict:
    """Compact a streaming landing zone into a bucketed serving table —
    the Iceberg ``rewrite_data_files`` analog for THIS architecture's
    one real small-file source.

    Batch commits always rewrite whole tables in n_buckets files, so
    they never fragment; but every availableNow micro-batch of
    ``stream_extract`` appends its own task files to the sink dir, and
    at production cadence (a trigger per arrival window, 10^12-turn
    corpus) the landing zone accumulates millions of small parquet
    files — each a ~KB-scale footer-bound read at serving time. This
    operator reads the landing zone ONCE, shuffles once into the
    standard bucket layout (co-locating each conv_id for the serving
    paths), and commits through the normal TableIO protocol, so the
    compacted table gets lineage counters, snapshot history, and
    resume-idempotence for free: re-running over an unchanged landing
    zone is a manifest no-op, and a landing zone that grew (new
    micro-batches) gets a NEW content snapshot id and a fresh rewrite.

    The manifest records a ``compaction`` block (source file count /
    bytes → output file count / bytes) so the rewrite is auditable.

    At 100 TB the same op is Iceberg's bin-packing rewrite scheduled
    off the snapshot log; here it composes with retain_snapshots for
    time travel across compactions.
    """
    def _dir_stats(path: str) -> tuple[int, int]:
        files = bytes_ = 0
        for root, _dirs, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    bytes_ += os.path.getsize(os.path.join(root, n))
        return files, bytes_

    from ..sources.tableio import snapshot_id_of

    df = spark.read.parquet(landing_dir)
    snap = snapshot_id_of(df, list(snapshot_cols))
    if io.is_committed(name, snap, config_hash):
        return io.read_manifest(name)
    src_files, src_bytes = _dir_stats(landing_dir)
    manifest = io.commit_stage(
        df,
        name,
        snap,
        config_hash,
        bucket_col=bucket_col,
        n_buckets=n_buckets,
        extra={"compaction": {
            "source_dir": landing_dir,
            "source_files": src_files,
            "source_bytes": src_bytes,
        }},
    )
    out_files, out_bytes = _dir_stats(io.data_path(name))
    manifest["compaction"].update(
        {"output_files": out_files, "output_bytes": out_bytes}
    )
    io.write_manifest(name, manifest)
    return manifest


def index_dedup_batch(
    spark: SparkSession,
    io: TableIO,
    output_dir: str,
    index_name: str = "stream_fp_index",
):
    """The foreachBatch body of ``stream_dedup_against_index`` as a
    testable closure: (batch_df, epoch_id) -> None.

    Replay safety (the crash between sink write and checkpoint): the
    index rows carry the epoch that added them, and a batch's
    "existing" view is ``epoch < current`` — so a REPLAYED epoch sees
    exactly the pre-epoch index (its own fps excluded), recomputes the
    identical survivor set, overwrites the same ``epoch=<id>`` output
    dir, and the index recommit is a manifest no-op (same
    (input_snapshot, config_hash)). Nothing double-drops, nothing
    double-emits."""
    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        fp = batch_df.withColumn("fp", _text_fp())
        w = Window.partitionBy("fp").orderBy("conv_id", "turn_idx")
        firsts = (
            fp.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if io.read_manifest(index_name) is None:
            existing = spark.createDataFrame([], "fp string, epoch long")
        else:
            existing = io.read_table(spark, index_name)
        prior = existing.filter(F.col("epoch") < epoch_id).select("fp")
        survivors = firsts.join(prior, "fp", "left_anti")
        (
            survivors.drop("fp")
            .write.mode("overwrite")
            .parquet(os.path.join(output_dir, f"epoch={epoch_id}"))
        )
        new_rows = survivors.select(
            "fp", F.lit(epoch_id).cast("long").alias("epoch")
        )
        io.commit_stage(
            existing.filter(F.col("epoch") < epoch_id).unionByName(new_rows),
            index_name,
            input_snapshot=f"epoch-{epoch_id}",
            config_hash="fp-index-v1",
        )

    return _batch


def stream_dedup_against_index(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    io: TableIO,
    index_name: str = "stream_fp_index",
) -> None:
    """Streaming dedup with state in a COMMITTED INDEX TABLE instead
    of the state store — the production shape once the dup horizon
    outgrows executor state: ``stream_dedup_exact`` bounds its state
    store by the watermark (old fingerprints expire and CAN re-enter);
    this operator keeps the full fingerprint history in a TableIO
    table (at 10^12 turns: an Iceberg table bucketed by fp), so a
    duplicate is dropped no matter how old its first occurrence is,
    and the "state" scales like any other table — compactable,
    snapshot-logged, time-travelable — rather than like checkpoint
    state.

    Each micro-batch: in-batch winners per fp (deterministic
    row_number tie-break) → anti-join against the pre-epoch index →
    survivors land in an epoch-keyed output dir (overwrite =
    idempotent replay) → index recommitted with the epoch tag (replay
    = manifest no-op). See ``index_dedup_batch`` for the replay proof
    obligations; the test kills and replays the epoch both before and
    after the index commit."""
    from ..schemas import TRANSCRIPT_SCHEMA

    os.makedirs(checkpoint_dir, exist_ok=True)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    q = (
        stream.writeStream.foreachBatch(
            index_dedup_batch(spark, io, output_dir, index_name)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
