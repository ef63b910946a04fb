"""Product quantization (PQ) — codebook shape, quantization-error
monotonicity, ADC shortlist recall vs exact search, and the plan
shapes that make PQ the 10^12-row compression path (broadcast
codebook, no corpus shuffle after training, TakeOrdered ranking).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_textract_enhancer_spark.operators import similarity as S
from amazon_textract_enhancer_spark.plans import executed_plan

SF_DIR = "/root/testdata/sf0.01"


def _exact_top10(spark):
    emb = S._emb_double(spark, SF_DIR)
    q = emb.filter(F.col("vec_id") == S.QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    exact = (
        emb.filter(F.col("vec_id") != S.QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("v", "qv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
    )
    return {r.vec_id for r in exact.collect()}


def test_codebook_shape_and_determinism(spark):
    cents = S.pq_train_codebooks(spark, SF_DIR).collect()
    assert len(cents) == S.PQ_M * S.PQ_K
    ds = 64 // S.PQ_M
    for r in cents:
        assert 0 <= r.s < S.PQ_M and 0 <= r.cent_id < S.PQ_K
        assert len(r.cv) == ds
    # pinned trajectory: a second run reproduces every component
    again = S.pq_train_codebooks(spark, SF_DIR).collect()
    key = lambda r: (r.s, r.cent_id)  # noqa: E731
    assert sorted((r.s, r.cent_id, r.cv) for r in cents) == sorted(
        (r.s, r.cent_id, r.cv) for r in again
    )


def test_pq_error_monotone_in_codebook_size(spark):
    """K=1 is the subspace mean — the distortion ceiling; K=4 codes
    must strictly beat it (Lloyd from k seeds can only move below the
    single-centroid floor), and all stats must be positive/ordered."""
    e4 = S.embed_pq_error(spark, SF_DIR, k=4).collect()[0]
    e1 = S.embed_pq_error(spark, SF_DIR, k=1).collect()[0]
    assert e4.n_vecs == e1.n_vecs == 500
    assert 0 < e4.avg_dist < e1.avg_dist
    assert e4.max_dist >= e4.avg_dist


def test_adc_shortlist_recall(spark):
    """PQ's production role is SHORTLIST generation (IVF-PQ: ADC ranks
    candidates, exact re-rank finishes): the ADC top-50 must capture
    >= 50% of the exact L2 top-10 even with the deliberately coarse
    twin-checkable codebook (M=4, K=4 → 256 cells). Measured 0.7 on
    the fixture corpus; gate at 0.5 for headroom."""
    exact = _exact_top10(spark)
    shortlist = {
        r.vec_id for r in S.ann_pq_adc(spark, SF_DIR, k_top=50).collect()
    }
    recall = len(exact & shortlist) / len(exact)
    assert recall >= 0.5, recall


def test_adc_rerank_recovers_exact_order(spark):
    """Shortlist-then-exact-re-rank: re-ranking the ADC top-50 by true
    L2 distance must reproduce the exact top-k restricted to the
    shortlist, in the same order — i.e. ADC loses candidates, never
    corrupts the re-rank."""
    emb = S._emb_double(spark, SF_DIR)
    q = emb.filter(F.col("vec_id") == S.QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    shortlist = S.ann_pq_adc(spark, SF_DIR, k_top=50).select("vec_id")
    rerank = (
        shortlist.join(emb, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("v", "qv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    )
    ids = [r.vec_id for r in rerank]
    ds = [r.d for r in rerank]
    assert ds == sorted(ds)
    assert len(set(ids)) == 10


def test_adc_plan_shapes(spark):
    """The ADC search plan: TakeOrderedAndProject (never a full sort),
    the codebook and LUT broadcast (BroadcastNestedLoopJoin — 1-row
    sides), and NO CartesianProduct anywhere."""
    df = S.ann_pq_adc(spark, SF_DIR)
    plan = executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def _ivf_pq_fresh(spark):
    import shutil

    wh = S.ivf_warehouse_for(SF_DIR) + "-pq"
    shutil.rmtree(wh, ignore_errors=True)
    emb = S.t(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return wh, emb


def test_ivf_pq_recall_gate(spark):
    """IVF-PQ end-to-end: probed ADC shortlist + exact re-rank must
    reach recall@10 >= 0.8 vs exact brute-force cosine at the default
    nprobe=6/8, M=8 bytes/vector, shortlist=100 (measured 1.0)."""
    wh, emb = _ivf_pq_fresh(spark)
    S.ivf_pq_build_index(spark, emb, wh)
    exact = {r.vec_id for r in S.ann_cosine_topk(spark, SF_DIR).collect()}
    got = S.ivf_pq_search(spark, wh).collect()
    sims = [r.cos_sim for r in got]
    assert sims == sorted(sims, reverse=True)
    recall = len(exact & {r.vec_id for r in got}) / len(exact)
    assert recall >= 0.8, recall


def test_ivf_pq_codes_table_shape_and_resume(spark):
    """The committed codes table: one M-byte row per indexed vector,
    every code in [0, K), hive-partitioned by bucket; a second build
    over the same snapshot is a no-op (resume)."""
    from amazon_textract_enhancer_spark.sources.tableio import TableIO

    wh, emb = _ivf_pq_fresh(spark)
    m1 = S.ivf_pq_build_index(spark, emb, wh)
    assert m1["partition_by"] == "bucket"
    m2 = S.ivf_pq_build_index(spark, emb, wh)
    assert m2["committed_at_unix"] == m1["committed_at_unix"]

    io = TableIO(wh)
    codes = io.read_table(spark, "ivf_pq_codes")
    idx = io.read_table(spark, "ivf_index")
    assert codes.count() == idx.count()
    bad = codes.filter(
        (F.size("codes") != S.IVF_PQ_M)
        | F.exists("codes", lambda c: (c < 0) | (c >= S.IVF_PQ_K_CODES))
    ).count()
    assert bad == 0


def test_ivf_pq_search_probes_prune_partitions(spark):
    """Probed search must reach the CODES scan as a partition filter
    (dynamic pruning on the hive partition column) — at 10^12 rows
    this is the difference between reading nprobe/N of the code bytes
    and reading all of them."""
    wh = S.ivf_warehouse_for(SF_DIR) + "-pq"  # committed above
    df = S.ivf_pq_search(spark, wh, nprobe=2, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("dynamicpruning" in plan.lower()
            or "PartitionFilters: [isnotnull(bucket" in plan), plan
    assert len(df.collect()) == 5


def test_ivf_pq_refresh_merge_supersede_delete_and_equivalence(spark):
    """Frozen-codebook delta maintenance: after adds + a change + a
    delete, (1) the merged codes view has exactly one row per live
    vec_id; (2) merged codes == frozen-codebook encode of the full
    current corpus under frozen centroids (the from-scratch oracle);
    (3) merged search sees the new vectors and not the deleted one."""
    import shutil

    from amazon_textract_enhancer_spark.sources.tableio import TableIO

    wh = S.ivf_warehouse_for(SF_DIR) + "-pqr"  # own warehouse: no
    shutil.rmtree(wh, ignore_errors=True)      # cross-test state
    emb = S.t(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    S.ivf_pq_build_index(spark, emb, wh)
    io = TableIO(wh)

    # adds: two new vectors near the query vector; change: vec 42
    # re-embedded; delete: vec 99
    q = emb.filter(F.col("vec_id") == S.QUERY_VEC_ID).select("v")
    qv = q.collect()[0].v
    new_rows = [
        (9001, [x * 1.01 for x in qv]),
        (9002, [x * 0.99 for x in qv]),
        (42, [-x for x in qv]),
    ]
    new_emb = spark.createDataFrame(new_rows, "vec_id long, v array<double>")
    stale = spark.createDataFrame([(99,)], "vec_id long")
    S.ivf_pq_refresh(spark, wh, new_emb, "snap-r1", stale_vec_ids=stale)

    merged = S.read_ivf_pq_codes_merged(spark, wh)
    ids = [r.vec_id for r in merged.select("vec_id").collect()]
    assert len(ids) == len(set(ids))
    assert 99 not in ids and 9001 in ids and 9002 in ids

    # from-scratch oracle: frozen centroids + frozen codebook over the
    # full current corpus must reproduce the merged view exactly
    current = (
        emb.filter(~F.col("vec_id").isin(42, 99)).unionByName(new_emb)
    )
    cents = io.read_table(spark, "ivf_centroids")
    cb = S._pq_codebook_row(io.read_table(spark, "pq_codebook"))
    oracle = (
        S._assign_buckets(S._unit_vectors(current), cents)
        .select("vec_id", "bucket", F.col("uv").alias("v"))
        .crossJoin(F.broadcast(cb))
        .select("vec_id", "bucket",
                S._pq_codes_expr("v", S.IVF_PQ_M).alias("codes"))
    )
    got = {(r.vec_id, r.bucket, tuple(r.codes)) for r in merged.collect()}
    want = {(r.vec_id, r.bucket, tuple(r.codes)) for r in oracle.collect()}
    assert got == want

    res = S.ivf_pq_search_merged(spark, wh, k=10).collect()
    got_ids = {r.vec_id for r in res}
    # the two near-duplicates of the query must rank into the top-10;
    # the deleted vector must be gone
    assert {9001, 9002} <= got_ids and 99 not in got_ids

    # compaction folds the codes delta as well as the float one: the
    # codes, merged or main, still equal the oracle (one row per live
    # vec_id, the deleted vector stays gone) and the delta is reset
    S.ivf_compact(spark, wh, "snap-r1")
    for codes in (S.read_ivf_pq_codes_merged(spark, wh),
                  io.read_table(spark, "ivf_pq_codes")):
        rows = codes.collect()
        assert len(rows) == len({r.vec_id for r in rows})
        assert 99 not in {r.vec_id for r in rows}
        assert {(r.vec_id, r.bucket, tuple(r.codes)) for r in rows} == want
    assert io.read_manifest("ivf_pq_codes_delta")["rows"] == 0


def test_pq_param_guards(spark):
    """Bad parameters fail LOUDLY at the call site, not downstream
    (r5 review): m_sub/k/n_iters < 1 raise in the shared trainer
    (covering the IVF-PQ build path too), and a non-divisible m_sub is
    rejected by the build before any codebook commits."""
    import pytest

    with pytest.raises(ValueError, match="m_sub/k/n_iters"):
        S.pq_train_codebooks(spark, SF_DIR, m_sub=0)
    wh, emb = _ivf_pq_fresh(spark)
    with pytest.raises(ValueError, match="must divide"):
        S.ivf_pq_build_index(spark, emb, wh, m_sub=7)  # 64 % 7 != 0
    with pytest.raises(ValueError, match="m_sub/k/n_iters"):
        S.ivf_pq_build_index(spark, emb, wh, k_codes=0)


def test_ivf_pq_search_derives_m_sub_from_committed_codebook(spark):
    """r5 review: search/refresh must USE the committed codebook's
    subspace count, not a caller parameter — an index built at
    m_sub=4 searched with the old default (8) made element_at return
    null for subspaces 4..7, every ADC distance null, and NULLS FIRST
    served an arbitrary shortlist. Now the kernel derives M=4 from the
    committed table: distances are non-null and the recall gate holds
    on the non-default index."""
    import shutil

    wh, emb = _ivf_pq_fresh(spark)
    wh += "-m4"
    shutil.rmtree(wh, ignore_errors=True)
    S.ivf_pq_build_index(spark, emb, wh, m_sub=4)

    from amazon_textract_enhancer_spark.sources.tableio import TableIO

    io = TableIO(wh)
    assert S._pq_m_of(io.read_table(spark, "pq_codebook")) == 4
    got = S.ivf_pq_search(spark, wh).collect()
    # and the serving path memoized it per warehouse (keyed by the
    # codebook commit) so repeat searches skip the derivation job
    assert S._PQ_M_CACHE[wh][1] == 4
    assert S._pq_m_for_warehouse(spark, io, wh) == 4
    assert len(got) == S.TOP_K
    assert all(r.cos_sim is not None for r in got)
    exact = {r.vec_id for r in S.ann_cosine_topk(spark, SF_DIR).collect()}
    recall = len(exact & {r.vec_id for r in got}) / len(exact)
    assert recall >= 0.7, recall
    shutil.rmtree(wh, ignore_errors=True)
