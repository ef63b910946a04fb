"""Main+delta serving-index maintenance (Lucene/ES segment model) —
the oracle is EQUALITY WITH A FROM-SCRATCH REBUILD: after any sequence
of refreshes (change, add, delete, re-change) the merged view must
equal the index built directly from the current corpus. Also pins: the
main index is untouched between compactions (file mtimes), compaction
folds exactly once, and BM25 over the merged view matches BM25 over
the rebuilt index."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from amazon_textract_enhancer_spark.fixtures import generate_transcripts, rows_to_pandas
from amazon_textract_enhancer_spark.operators.index_maintenance import (
    compact_serving_index,
    read_doc_lengths_merged,
    read_tokens_merged,
    refresh_serving_index,
)
from amazon_textract_enhancer_spark.operators.serving import term_frequencies
from amazon_textract_enhancer_spark.schemas import TRANSCRIPT_SCHEMA
from amazon_textract_enhancer_spark.sources.tableio import TableIO
from amazon_textract_enhancer_spark.stages import extract_spans


def _spans(spark, seed_convs):
    """Extract spans for {seed: n_convs} fixture batches, prefixing
    conv ids per seed so batches don't collide."""
    frames = []
    for seed, n in seed_convs.items():
        rows, _ = generate_transcripts(seed=seed, n_convs=n)
        df = spark.createDataFrame(rows_to_pandas(rows), schema=TRANSCRIPT_SCHEMA)
        frames.append(df.withColumn("conv_id", F.concat(F.lit(f"s{seed}-"), "conv_id")))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return extract_spans(out)


def _index_of(spans):
    return term_frequencies(spans, "extracted_text", ["conv_id", "turn_idx"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def io(tmp_path):
    return TableIO(str(tmp_path / "wh"))


def _bootstrap(spark, io, spans):
    io.commit_stage(_index_of(spans), "tokens", "v1", "index-delta-v1",
                    bucket_col="term", n_buckets=4)
    dl = io.read_table(spark, "tokens").groupBy("conv_id", "turn_idx").agg(
        F.sum("tf").cast("long").alias("dl"))
    io.commit_stage(dl, "doc_lengths", "v1", "index-delta-v1",
                    bucket_col="conv_id", n_buckets=4)


def test_refresh_merge_equals_full_rebuild_and_main_untouched(spark, io):
    spans_v1 = _spans(spark, {11: 8}).cache()
    _bootstrap(spark, io, spans_v1)
    main_files = sorted(glob.glob(os.path.join(io.data_path("tokens"), "*.parquet")))
    main_mtimes = [os.path.getmtime(p) for p in main_files]

    # corpus v2: convs 0-1 change (re-seeded content), conv 2 deleted,
    # one brand-new batch arrives
    keep = spans_v1.filter(~F.col("conv_id").rlike("s11-conv0000000[012]$"))
    changed_new = _spans(spark, {21: 2}).withColumn(
        "conv_id", F.regexp_replace("conv_id", "^s21-", "s11-")
    ).filter(F.col("conv_id").rlike("s11-conv0000000[01]$"))
    added = _spans(spark, {31: 3})
    spans_v2 = keep.unionByName(changed_new).unionByName(added).cache()
    # non-vacuity: the change/delete filters actually selected convs
    assert changed_new.select("conv_id").distinct().count() == 2
    assert spans_v1.count() - keep.count() > 0

    stale = spark.createDataFrame(
        [(f"s11-conv0000000{i}",) for i in range(3)], "conv_id string"
    )
    refresh_serving_index(
        spark, io, changed_new.unionByName(added), stale, "v2", n_buckets=4
    )

    # EQUALITY WITH FULL REBUILD — tokens and doc_lengths
    assert _rows(read_tokens_merged(spark, io)) == _rows(_index_of(spans_v2))
    rebuilt_dl = _index_of(spans_v2).groupBy("conv_id", "turn_idx").agg(
        F.sum("tf").cast("long").alias("dl"))
    assert _rows(read_doc_lengths_merged(spark, io)) == _rows(rebuilt_dl)

    # the main index was NOT rewritten by the refresh
    assert [os.path.getmtime(p) for p in main_files] == main_mtimes

    # second refresh before compaction: conv s31-conv-0000 changes again
    changed2 = _spans(spark, {41: 1}).withColumn(
        "conv_id", F.regexp_replace("conv_id", "^s41-", "s31-"))
    stale2 = spark.createDataFrame([("s31-conv00000000",)], "conv_id string")
    spans_v3 = spans_v2.filter(F.col("conv_id") != "s31-conv00000000").unionByName(
        changed2).cache()
    refresh_serving_index(spark, io, changed2, stale2, "v3", n_buckets=4)
    assert _rows(read_tokens_merged(spark, io)) == _rows(_index_of(spans_v3))
    assert [os.path.getmtime(p) for p in main_files] == main_mtimes

    # compaction folds delta into main; merged view unchanged, delta empty
    compact_serving_index(spark, io, "v3", n_buckets=4)
    assert _rows(io.read_table(spark, "tokens")) == _rows(_index_of(spans_v3))
    assert io.read_manifest("tokens_delta")["rows"] == 0
    assert io.read_manifest("index_stale_convs")["rows"] == 0
    assert _rows(read_tokens_merged(spark, io)) == _rows(_index_of(spans_v3))
    stats = io.read_table(spark, "corpus_stats").collect()[0]
    assert stats["n_docs"] == _index_of(spans_v3).select(
        "conv_id", "turn_idx").distinct().count()
    # the stats row equals count / sum / avg over the committed
    # doc_lengths exactly (read off its manifest, not re-scanned)
    want = io.read_table(spark, "doc_lengths").agg(
        F.count(F.lit(1)), F.sum("dl"), F.avg("dl")).collect()[0]
    assert tuple(stats) == tuple(want)


def test_bm25_over_merged_matches_rebuild(spark, io):
    from amazon_textract_enhancer_spark.operators.serving import c5_search_bm25_indexed

    spans_v1 = _spans(spark, {11: 6}).cache()
    _bootstrap(spark, io, spans_v1)
    changed = _spans(spark, {51: 2})
    stale = spark.createDataFrame([("none-such",)], "conv_id string")
    refresh_serving_index(spark, io, changed, stale, "v2", n_buckets=4)
    spans_v2 = spans_v1.unionByName(changed)

    toks_m = read_tokens_merged(spark, io)
    dl_m = read_doc_lengths_merged(spark, io)
    stats = dl_m.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("a")).collect()[0]

    toks_r = _index_of(spans_v2)
    dl_r = toks_r.groupBy("conv_id", "turn_idx").agg(F.sum("tf").cast("long").alias("dl"))

    # probe the 3 highest-mass terms actually present in the corpus
    terms = tuple(
        r["term"]
        for r in toks_m.groupBy("term").agg(F.sum("tf").alias("s"))
        .orderBy(F.desc("s"), F.asc("term")).limit(3).collect()
    )
    got = _rows(c5_search_bm25_indexed(toks_m, dl_m, stats["n"], stats["a"], terms))
    want = _rows(c5_search_bm25_indexed(toks_r, dl_r, stats["n"], stats["a"], terms))
    assert got == want and len(got) > 0


def test_incremental_extract_with_index_end_to_end(spark, tmp_path):
    """Production composition: transcript-table edits flow through
    incremental_extract into the delta index; merged serving view ==
    index rebuilt from a from-scratch extraction at every step."""
    from amazon_textract_enhancer_spark.streaming import (
        incremental_extract_with_index,
    )

    wh = str(tmp_path / "wh")
    rows, _ = generate_transcripts(seed=7, n_convs=6)
    v1 = spark.createDataFrame(rows_to_pandas(rows), schema=TRANSCRIPT_SCHEMA).cache()

    res1 = incremental_extract_with_index(spark, v1, wh, n_buckets=4)
    assert res1["changed_convs"] == 6
    io = TableIO(wh)
    assert _rows(read_tokens_merged(spark, io)) == _rows(_index_of(extract_spans(v1)))

    # v2: edit one conv's text, delete one conv, add two new convs
    rows2, _ = generate_transcripts(seed=8, n_convs=2)
    added = spark.createDataFrame(rows_to_pandas(rows2), schema=TRANSCRIPT_SCHEMA
                                  ).withColumn("conv_id", F.concat(F.lit("new-"), "conv_id"))
    v2 = (
        v1.filter(F.col("conv_id") != "conv00000001")
        .withColumn(
            "text",
            F.when(F.col("conv_id") == "conv00000000",
                   F.concat(F.col("text"), F.lit(" edited token")))
            .otherwise(F.col("text")),
        )
        .unionByName(added)
        .cache()
    )
    res2 = incremental_extract_with_index(spark, v2, wh, n_buckets=4)
    assert res2["changed_convs"] == 3  # 1 edited + 2 added
    assert _rows(read_tokens_merged(spark, io)) == _rows(_index_of(extract_spans(v2)))
    assert _rows(read_doc_lengths_merged(spark, io)) == _rows(
        _index_of(extract_spans(v2)).groupBy("conv_id", "turn_idx")
        .agg(F.sum("tf").cast("long").alias("dl"))
    )
    # the CDC diff recorded the deletion
    diff = {(r["conv_id"], r["change_kind"])
            for r in io.read_table(spark, "refresh_changed_convs").collect()}
    assert ("conv00000001", "deleted") in diff and ("conv00000000", "changed") in diff


def test_merged_read_broadcasts_stale_list_no_main_shuffle(spark, io):
    """Scale contract of the segment model: the query-time merge is
    main ⟕anti(broadcast stale) ∪ delta — a map-side filter over the
    main index. A hash-partition Exchange here would shuffle the
    ~10^13-row main index per serving query."""
    from amazon_textract_enhancer_spark.plans import executed_plan

    spans_v1 = _spans(spark, {11: 4})
    _bootstrap(spark, io, spans_v1)
    refresh_serving_index(
        spark, io, _spans(spark, {61: 1}),
        spark.createDataFrame([("s11-conv00000000",)], "conv_id string"),
        "v2", n_buckets=4,
    )
    plan = executed_plan(read_tokens_merged(spark, io))
    assert "Broadcast" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
