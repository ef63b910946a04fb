"""Physical-plan assertions (SURVEY.md §4/§6): the plans are the ones
we designed for 100 TB, not merely correct — pushdown reaches the
parquet scan, projection prunes columns, small dims broadcast, top-k
avoids a full sort, and extraction is shuffle-free.
"""

from __future__ import annotations

from amazon_textract_enhancer_spark.operators import registry
from amazon_textract_enhancer_spark.plans import (
    executed_plan,
    final_plan,
    n_broadcast_joins,
    n_exchanges,
    pushed_filters,
    read_schema,
)

SF_DIR = "/root/testdata/sf0.01"


def _q(spark, name):
    return registry.SPARK_QUERIES[name](spark, SF_DIR)


def test_filter_pushdown_reaches_scan(spark):
    df = _q(spark, "b2_filter_scan_pushdown")
    pf = pushed_filters(df)
    assert "l_quantity" in pf and "l_shipdate" in pf, pf


def test_column_pruning_narrow_readschema(spark):
    df = _q(spark, "b2_filter_scan_pushdown")
    rs = read_schema(df)
    # 16-column lineitem pruned to the 5 referenced columns; the wide
    # comment-free scan is the difference between 100 TB and 30 TB read
    assert "l_orderkey" in rs and "l_extendedprice" in rs
    assert "l_partkey" not in rs and "l_returnflag" not in rs, rs


def test_small_dims_are_broadcast(spark):
    df = _q(spark, "b1_join_blockmap_lookup")
    assert n_broadcast_joins(df) >= 2  # nation and region at minimum


def test_topk_is_take_ordered_not_full_sort(spark):
    df = _q(spark, "c5_search_rank_topk")
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_bm25_plan_broadcasts_stats_and_takes_ordered(spark):
    """C5 tier (iv): the corpus aggregate (1 row) and the idf table
    (|query terms| rows) must broadcast — a shuffle join against either
    would repartition the whole postings set at corpus scale — and the
    final k must be TakeOrderedAndProject, not a full sort."""
    df = _q(spark, "c5_search_bm25_topk")
    plan = executed_plan(df)
    assert n_broadcast_joins(df) >= 2, plan
    assert "TakeOrderedAndProject" in plan


def test_indexed_search_reads_tokens_table_not_documents(spark):
    """VERDICT r3 item 5's done-criterion: the production C5-ii serving
    query must scan the COMMITTED tokens index, never re-tokenize the
    corpus — at 10^13 index rows re-derivation is a full corpus pass
    per query. Also: the term predicate pushes into the parquet scan,
    and the top-k avoids a full sort."""
    df = _q(spark, "x_search_rank_indexed")
    plan = executed_plan(df)
    # exactly one file scan, and it is the tokens table
    import re

    scans = re.findall(r"Location:.*?\[(.*?)\]", plan) or re.findall(
        r"file:[^\s,\]]*", plan
    )
    scan_str = " ".join(scans)
    assert "warehouse/tokens" in scan_str.replace("\\", "/"), plan
    for src in ("documents", "transcripts.parquet", "extracted_spans",
                "spans.parquet"):
        assert src not in scan_str, (src, scan_str)
    assert "term" in pushed_filters(df)
    assert "TakeOrderedAndProject" in plan


def test_extraction_stage_is_shuffle_free(spark, transcripts_df):
    from amazon_textract_enhancer_spark.stages import extract_spans

    df = extract_spans(transcripts_df)
    assert n_exchanges(df) == 0
    assert executed_plan(df).count("MapInArrow") == 1


def test_point_lookup_pushes_id_predicate(spark):
    df = _q(spark, "c1_point_lookup")
    assert "doc_id" in pushed_filters(df)


def test_salted_agg_is_two_exchanges_max(spark):
    # partial (salted) + final: the plan must not add extra shuffles
    df = _q(spark, "f2_salted_two_phase_agg")
    assert n_exchanges(df) <= 2, executed_plan(df)


def test_whole_stage_codegen_covers_relational_ops(spark):
    df = _q(spark, "b12_agg_confidence_stats")
    df.collect()  # AQE finalizes the plan only on execution
    plan = executed_plan(df)
    # codegen stages render as "*(n)" markers in executedPlan.toString
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    # no Python evaluation anywhere in a pure-relational query
    assert "Python" not in plan


def test_dedup_exact_single_shuffle(spark):
    df = _q(spark, "dedup_exact")
    assert n_exchanges(df) <= 1, executed_plan(df)


def test_ann_topk_broadcasts_query_vector(spark):
    df = _q(spark, "ann_cosine_topk")
    plan = executed_plan(df)
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan


def test_ann_pairs_is_distributed_cogroup_no_driver_hop(spark, monkeypatch):
    """VERDICT r1 item 2: the all-pairs verifier must be a cogrouped
    block multiply — no driver-side collect/broadcast of the matrix.
    Plan construction is guarded against DataFrame.collect, and the
    physical plan must contain the cogroup node and no CollectLimit."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("driver-side collect while building ann_pairs plan")

    monkeypatch.setattr(DataFrame, "collect", boom)
    df = _q(spark, "ann_pairs_threshold")
    monkeypatch.undo()
    plan = executed_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "CollectLimit" not in plan


def test_dedup_jaccard_reuses_grouped_exchange(spark):
    """The corpus must be scanned and shingled exactly once (r6: the
    per-doc set size rides inside the posting-list elements, so the r5
    sizes branch — and with it any need for ReusedExchange — is gone;
    the final plan is one linear scan → posting → pair chain)."""
    df = _q(spark, "dedup_ngram_jaccard")
    df.collect()  # AQE finalizes the plan only on execution
    plan = final_plan(df)
    assert "ReusedExchange" in plan or plan.count("Scan parquet") <= 1, plan


def test_b5_single_exchange_two_level_concat(spark):
    """r6: one explicit user_id repartition serves BOTH nested ordered
    aggregations (subset rule: HashPartitioning(user_id) satisfies the
    (user_id, day) clustering), so the final plan has exactly one
    shuffle."""
    df = _q(spark, "b5_two_level_ordered_concat")
    df.collect()
    fp = final_plan(df)
    n = sum(1 for line in fp.splitlines()
            if "Exchange" in line and "BroadcastExchange" not in line)
    assert n == 1, fp


def test_c6_df_is_single_count_no_expand(spark):
    """r6: per-document term dedup happens in-row (array_distinct), so
    document frequency is one count() aggregation — no Expand node, no
    second exchange from countDistinct."""
    df = _q(spark, "c6_tokenize_df")
    df.collect()
    fp = final_plan(df)
    assert "Expand" not in fp, fp
    n = sum(1 for line in fp.splitlines()
            if "Exchange" in line and "BroadcastExchange" not in line)
    assert n == 1, fp


def test_minhash_profile_materialized_once(spark):
    """r6: the minhash signature profile is localCheckpoint'ed, so the
    final plan's five profile consumers read the materialized RDD — the
    corpus parquet is scanned exactly once (inside the checkpoint job),
    never re-shingled per branch."""
    df = _q(spark, "dedup_minhash_lsh")
    df.collect()
    fp = final_plan(df)
    assert "Scan parquet" not in fp, fp
    assert "ExistingRDD" in fp or "Scan" in fp


def test_knn_join_broadcasts_query_batch(spark):
    """The k-NN join must broadcast the query batch (corpus side
    streams; one scan per batch) and rank inside the plan."""
    df = _q(spark, "ann_knn_join")
    plan = executed_plan(df)
    assert "Broadcast" in plan, plan
    assert "Window" in plan, plan
    assert "CollectLimit" not in plan


def test_x_queries_read_committed_fixture_not_udf(spark):
    """VERDICT r2 item 4: downstream x_* queries read the committed
    extracted_spans table — their plans are parquet scans + relational
    ops with NO Python evaluation node (extraction ran once at commit
    time, not per query)."""
    for name in ("x_counters_rollup", "x_extract_tables_csv",
                 "c3_table_fetch", "c4_form_fetch"):
        plan = executed_plan(_q(spark, name))
        assert "Scan parquet" in plan, (name, plan)
        for udf_node in ("MapInArrow", "BatchEvalPython", "ArrowEvalPython"):
            assert udf_node not in plan, (name, udf_node)


def test_simhash_pairs_single_doc_scan_per_branch(spark):
    """64-bit simhash pair mining stays expression-level: banded
    candidate generation + verify run from grouped exchanges (no
    Python nodes anywhere in the plan)."""
    df = _q(spark, "dedup_simhash_pairs")
    plan = executed_plan(df)
    for udf_node in ("MapInArrow", "BatchEvalPython", "ArrowEvalPython",
                     "FlatMapCoGroupsInPandas"):
        assert udf_node not in plan, udf_node


def test_mm_codec_chains_never_shuffle_payloads(spark):
    """The encode→decode multimodal stats chains are scan → (id
    re-spread) → MapInArrow → MapInArrow. Per-row independence means
    the PAYLOAD bytes may never shuffle at any corpus size; the one
    allowed exchange is the r6 id re-spread BELOW synthesis, which
    carries only the 8-byte doc_id (the fixture scan is a single row
    group → one task, serializing the whole Python codec chain on one
    core otherwise)."""
    import re

    from amazon_textract_enhancer_spark.plans import formatted_plan

    for name in ("mm_image_stats", "mm_audio_stats", "mm_video_stats",
                 "mm_gif_stats", "mm_mulaw_stats", "mm_video_rle_stats",
                 "mm_jpeg_stats", "mm_jpeg_color_stats", "mm_adpcm_stats",
                 "mm_audio_downsample"):
        df = _q(spark, name)
        assert n_exchanges(df) <= 1, (name, executed_plan(df))
        assert "MapInArrow" in executed_plan(df), name
        # every (non-broadcast) Exchange node's input must be id-only
        fp = formatted_plan(df)
        for m in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])", fp):
            inp = m.group(1)
            assert "payload" not in inp and "Input [1]" in inp, (name, inp)


def test_range_join_binned_avoids_nested_loop(spark):
    """The interval join must execute as a hash equi-join on the time
    bin with the BETWEEN predicate as a residual filter — never as
    BroadcastNestedLoopJoin / CartesianProduct (the naive theta-join
    plan, O(|E|x|W|))."""
    from amazon_textract_enhancer_spark.operators.relational import (
        range_join_binned,
    )

    df = range_join_binned(spark, SF_DIR)
    plan = executed_plan(df)
    assert "NestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_dedup_shingle_stream_has_no_pre_aggregation_distinct(spark):
    """r5 perf fix: the shingle stream's first exchange must be the
    consumer's OWN aggregation — the old pre-aggregation global
    ``distinct`` shuffled the entire (doc_id, shingle) stream a second
    time for a dedup that collect_set/min absorb for free (measured
    interleaved at sf0.1: minhash 3.02s → 1.91s median). Pins: neither
    plan contains a Deduplicate/distinct-aggregate of the raw shingle
    stream (an aggregate keyed by BOTH doc_id and shingle), and
    jaccard's posting-list exchange is still built once and reused."""
    jac = _q(spark, "dedup_ngram_jaccard")
    jac.collect()
    pj = final_plan(jac)
    mh = _q(spark, "dedup_minhash_lsh")
    mh.collect()
    pm = final_plan(mh)
    import re

    for p in (pj, pm):
        assert "Deduplicate" not in p, p
        # a distinct of the stream shows up as an aggregate grouped by
        # both the doc and shingle keys with no aggregate expressions
        assert not re.search(
            r"HashAggregate\(keys=\[(doc_id#\d+L?, (?:shingle|sh)#\d+L?"
            r"|(?:shingle|sh)#\d+L?, doc_id#\d+L?)\], functions=\[\]", p
        ), p
    assert "ReusedExchange" in pj or pj.count("Scan parquet") <= 1, pj


def test_dedup_semantic_pairs_are_vectorized_cogroup(spark):
    """r5: the within-cluster pair stage is the same cogrouped NumPy
    block multiply as ann_pairs_threshold (the expression-level HOF
    pair join it replaced cost 192 interpreted element-ops per pair —
    11.5s at sf0.1 vs ~2s vectorized); no cartesian anywhere."""
    df = _q(spark, "dedup_semantic")
    plan = executed_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_is_in_row_no_corpus_shuffle(spark):
    """r6: Lloyd assignment happens in-row against the broadcast 1-row
    codebook — the r5 form shuffled every vector through a
    groupBy(vec_id) exchange per round (and once more for the final
    assignment). Post-checkpoint consumer plan: ONE scan, ONE exchange
    (the k-row cluster agg), and no vec_id-keyed partitioning
    anywhere."""
    df = _q(spark, "embed_kmeans")
    p = executed_plan(df)
    assert "hashpartitioning(vec_id" not in p, p
    assert p.count("Scan parquet") <= 1, p


def test_bpe_encode_single_corpus_tokenize(spark):
    """r6: the encode table is the training loop's final checkpointed
    word table, so the apply side tokenizes the corpus exactly once
    (the word-occurrence stream) — the old kernel's plan carried 4
    parquet scans (re-tokenize + re-distinct + rebuild)."""
    for name in ("text_bpe_encode", "text_token_fertility"):
        df = _q(spark, name)
        p = executed_plan(df)
        assert p.count("Scan parquet") <= 1, (name, p)


def test_decontaminate_bloom_corpus_side_scan_shaped(spark):
    """r6: totals is an in-row scalar distinct count and the Bloom
    gate probes the raw codegen occurrence stream — the corpus side
    reaches the verify join without a full-stream dedup exchange. The
    eval side is checkpointed, so the final plan holds exactly the two
    corpus-side scans (totals + gate), not the r5 form's four."""
    df = _q(spark, "decontaminate_bloom")
    p = executed_plan(df)
    assert p.count("Scan parquet") <= 2, p
    # the r5 full-stream distinct: an aggregate grouped by
    # (doc_id, shingle) with no aggregate functions, feeding the gate.
    # countDistinct on the verified-hit set keeps functions=[count(...)]
    # at the final level and only dedups post-join rows.
    assert "Deduplicate" not in p, p
