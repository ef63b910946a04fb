"""Similarity search over the embeddings table (array<float> column).

Brute-force cosine top-k is the exact baseline (oracle-checked against
DuckDB); the LSH-bucketed variant (random-hyperplane signs) is the
scale path — at 10^12 rows the bucket equi-join touches only candidate
buckets instead of the full cross product.

Dot products are pure Spark expressions (zip_with + aggregate over the
double-cast array) — JVM-side, no Python in the hot path.

Each piece of vector math is defined once: ``_cos`` (raw-vector
cosine), ``_sqdist6`` (the 6dp-rounded squared distance that pins every
cross-engine argmin), ``_emb_double`` (the embeddings reader),
``_block_pairs`` (the cogrouped block-pair cosine join), ``_ivf_probe``
and ``_rerank`` (IVF probe choice and exact re-rank) and
``_pq_train_codebooks_df`` (the one pinned-Lloyd trainer). K-means is
product quantization with one subspace (Jégou et al. 2011), so
``embed_kmeans`` and ``dedup_semantic`` train through the PQ trainer
with ``m_sub=1``.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .io_util import materialize, parquet_row_count, t, t_spread

QUERY_VEC_ID = 0
TOP_K = 10


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cos(a: Column, b: Column) -> Column:
    """Unrounded cosine of two raw (not unit) vectors."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _sqdist6(vec: Column, cent: Column) -> Column:
    """Squared L2 distance rounded to 6dp. This rounding point fixes
    every argmin of the pinned-Lloyd trainer, the PQ encode and the ADC
    lookup table, so the DuckDB twins replay the same decisions."""
    return F.round(
        F.aggregate(
            F.zip_with(vec, cent, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _emb_double(spark: SparkSession, sf_dir: str, *cols: str,
                read=t) -> DataFrame:
    """(vec_id, *cols, v): the embeddings table with its float vector
    cast to ``v: array<double>``. ``read`` is ``t`` or ``t_spread``."""
    return read(spark, sf_dir, "embeddings").select(
        "vec_id", *cols, F.col("embedding").cast("array<double>").alias("v")
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str,
                    k: int = TOP_K) -> DataFrame:
    """Exact brute-force cosine top-k vs the vec_id=0 query vector.
    The 1-row query side is broadcast; ranking is
    TakeOrderedAndProject (no full sort)."""
    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    sim = F.round(_cos(F.col("v"), F.col("qv")), 6)
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


PAIR_THRESHOLD = 0.45
# r6 (guide §2.2/§5): block count derived from corpus size instead of a
# fixed 8. A fixed count means block ROWS grow with the corpus (125M-row
# blocks at 10^9 vectors — per-task OOM); a fixed target block size
# bounds per-task memory at any scale and, at fixture scale, stops
# splitting 2000 vectors into 36 cogroup tasks whose Python round-trips
# dominate (A/B at sf0.1: 8 blocks 0.61s, derived 4 blocks 0.49s; the
# output is block-count-invariant — every unordered block pair is
# enumerated either way).
PAIR_TARGET_BLOCK_ROWS = 512


def pair_n_blocks_for(n_rows: int,
                      target: int = PAIR_TARGET_BLOCK_ROWS) -> int:
    import math

    return max(1, math.ceil(max(0, n_rows) / target))


def _block_pair_cosines(l, r, thresh: float, same_block: bool):
    """Numeric core of the cogrouped block-matrix pair kernel
    (``_block_pairs``) over two (vec_id, v) pandas blocks:
    row-normalize both blocks, BLAS-multiply, pre-filter at ``thresh``
    minus a 1e-6 slack, and emit (min_id, max_id, RAW cosine) arrays.
    Rounding and the exact threshold compare happen ENGINE-SIDE
    (F.round = HALF_UP, the mode DuckDB's round() uses — r5 review:
    np.round is half-to-even, a cross-engine divergence lying in wait
    at a 5e-7 boundary). The slack only bounds the emitted candidate
    set; it admits every pair the exact compare could keep."""
    import numpy as np

    if len(l) == 0 or len(r) == 0:
        none = np.empty(0, dtype=np.int64)
        return none, none, np.empty(0, dtype=np.float64)
    ids_l = l["vec_id"].to_numpy(dtype=np.int64)
    ids_r = r["vec_id"].to_numpy(dtype=np.int64)
    L = np.stack(l["v"].to_numpy())
    R = np.stack(r["v"].to_numpy())
    L = L / np.linalg.norm(L, axis=1, keepdims=True)
    R = R / np.linalg.norm(R, axis=1, keepdims=True)
    S = L @ R.T
    mask = S >= thresh - 1e-6
    if same_block:
        # same block on both sides: keep one orientation per pair
        mask &= ids_l[:, None] < ids_r[None, :]
    li, rj = np.nonzero(mask)
    a, b = ids_l[li], ids_r[rj]
    return np.minimum(a, b), np.maximum(a, b), S[li, rj]


def _block_pairs(vecs: DataFrame, n_blocks: int, thresh: float,
                 keys: tuple[str, ...] = ()) -> DataFrame:
    """(*keys, vec_a, vec_b, cos_sim): every pair of (vec_id, v) rows
    that share ``keys`` and whose 6dp-rounded cosine is >= ``thresh``,
    with vec_a < vec_b. Each vector hashes to one of ``n_blocks`` row
    blocks; every unordered block pair (i ≤ j) is a cogroup key (with
    ``keys`` in front), block i's rows replicate to keys (i, j≥i) and
    block j's to (i≤j, j), and one cogrouped applyInPandas task
    NumPy-multiplies the two blocks (``_block_pair_cosines``)."""
    import numpy as np
    import pandas as pd

    blocked = vecs.withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    # each side re-derives the key columns: one attribute cannot be a
    # cogroup key on both sides of a self-cogroup (ambiguous self-join
    # analyzer error)
    left = blocked.select(
        *[F.col(c).alias(c) for c in keys],
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        "vec_id",
        "v",
    )
    right = blocked.select(
        *[F.col(c).alias(c) for c in keys],
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        "vec_id",
        "v",
    )

    def multiply(key, l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        *group, bi, bj = key
        a, b, sims = _block_pair_cosines(l, r, thresh, bi == bj)
        cols = {c: np.full(len(a), g) for c, g in zip(keys, group)}
        return pd.DataFrame({**cols, "vec_a": a, "vec_b": b, "cos_raw": sims})

    schema = ", ".join(
        [f"{c} {vecs.schema[c].dataType.simpleString()}" for c in keys]
        + ["vec_a bigint", "vec_b bigint", "cos_raw double"]
    )
    return (
        left.groupBy(*keys, "bi", "bj")
        .cogroup(right.groupBy(*keys, "bi", "bj"))
        .applyInPandas(multiply, schema)
        .select(*keys, "vec_a", "vec_b",
                F.round("cos_raw", 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= F.lit(thresh))
    )


def ann_pairs_threshold(
    spark: SparkSession, sf_dir: str, *, n_blocks: int | None = None
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= 0.45), exact — the
    verification stage of an embedding dedup pipeline.

    Fully distributed block-matrix self-multiply (VERDICT r1 fix: the
    r1 form collect()ed the whole embedding table to the driver):
    ``_block_pairs`` cogroups every unordered block pair and one
    applyInPandas task NumPy-multiplies the two blocks and emits only
    above-threshold pairs. No driver hop, no full-matrix broadcast:
    shuffle volume is (n_blocks+1)·|rows| and per-task memory is two
    n/n_blocks-row blocks — both chosen, not emergent. An
    expression-level pair join (zip_with + aggregate per pair) measured
    25s at 2k vectors — interpreted higher-order functions per element;
    the block multiply is <1s at the same scale.

    At 10^12 rows exact all-pairs is infeasible under ANY plan shape —
    there the candidate set comes from LSH buckets (ann_lsh_bucketed)
    or IVF partitions (ann_ivf_topk) and THIS operator is the exact
    verifier over each bounded bucket (same cogroup shape, bucket id as
    the key).
    """
    if n_blocks is None:
        # metadata-only row count (no scan) → scale-adaptive blocking;
        # see pair_n_blocks_for.
        n_blocks = pair_n_blocks_for(parquet_row_count(sf_dir, "embeddings"))
    return _block_pairs(_emb_double(spark, sf_dir), n_blocks, PAIR_THRESHOLD)


LSH_N_PLANES = 8
LSH_BUCKET_CAP = 500
LSH_TARGET_BUCKET = 250  # aim buckets at half the cap


def lsh_n_planes_for(n_rows: int, target_bucket: int = LSH_TARGET_BUCKET) -> int:
    """Plane count derived from corpus size (VERDICT r2 item 5): with a
    fixed 8 planes a 10^12-row corpus lands everything in 256 buckets
    and the cap drops the lot. ceil(log2(n / target_bucket)) planes put
    the EXPECTED bucket size at ``target_bucket`` (floor 8 so small
    corpora keep the tested recall geometry). 500 rows → 8; 1M → 12;
    10^12 → 32."""
    import math

    return max(8, math.ceil(math.log2(max(1.0, n_rows / target_bucket))))


def lsh_bucketed_vectors(emb: DataFrame, n_planes: int = LSH_N_PLANES) -> DataFrame:
    """(vec_id, v, bucket): random-hyperplane LSH signature. Bit b =
    sign(dot(v, plane_b)) with deterministic pseudo-planes derived from
    xxhash64(dim, b) — no randomness, no driver-side plane matrix."""
    # plane_b[dim] = (xxhash64(dim, b) % 2001 - 1000) / 1000  in [-1, 1]
    def plane_component(dim: Column, b: int) -> Column:
        return (F.pmod(F.xxhash64(dim.cast("int"), F.lit(b)), F.lit(2001)) - 1000) / 1000.0

    sig = F.lit(0).cast("long")
    for b in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                F.col("v"),
                F.transform(F.sequence(F.lit(0), F.size("v") - 1), lambda i: plane_component(i, b)),
                lambda x, p: x * p,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << b)).otherwise(0)
    return emb.select("vec_id", "v", sig.alias("bucket"))


def ann_lsh_bucketed(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_planes: int | None = None,
    corpus_count: int | None = None,
    multi_probe: bool = True,
    bucket_cap: int = LSH_BUCKET_CAP,
    threshold: float = 0.4,
) -> DataFrame:
    """✂ Scale path: random-hyperplane LSH with MULTI-PROBE (flip one
    signature bit per probe — the standard recall amplifier). The probe
    side replicates each vector to its own bucket plus the n_planes
    one-bit-flip buckets; the build side stays at its home bucket, so a
    pair is found iff the two signatures differ in ≤ 1 bit, and each
    such pair matches exactly once (no distinct needed: a vector has
    one replica per distinct bucket and vec_a < vec_b fixes the
    orientation). Same-bucket candidates are exactly verified; rows-only
    driver check (engine-specific hashing).

    ``n_planes=None`` derives the plane count from the corpus count via
    ``lsh_n_planes_for`` (VERDICT r2 item 5) — fixed 8 planes at 10^12
    rows would put every vector in 256 buckets and trip the cap. The
    count comes from ``corpus_count`` (a committed stats/manifest
    number — TableIO manifests carry per-table row counts) or, when
    not passed, from the parquet FOOTER metadata (``parquet_row_count``
    — no Spark job, no data pages; the Iceberg-manifest analog). The
    old fallback ran ``emb.count()`` as a full-scan job PER QUERY CALL
    (ADVICE r4); the plane count only needs the order of magnitude, so
    a slightly stale committed count is fine.

    Skew cap: buckets holding more than ``bucket_cap`` vectors are
    dropped from the BUILD side via a broadcast anti-join (the hot
    self-join blowup is |bucket|²). The PROBE side is built from the
    UNCAPPED table (ADVICE r2): a vector whose home bucket is hot still
    probes its one-bit-flip neighbors, so only hot×hot pairs are lost —
    probes INTO a dropped bucket match nothing, and hot-home vectors
    keep their reachable cold-bucket pairs. Recall honesty: P(bit
    differs) = θ/π per plane, so with 8 planes hamming ≤ 1 covers ~0.97
    of pairs at cos 0.99, ~0.9 at cos 0.98, but almost nothing at
    cos 0.45 — this is the NEAR-DUPLICATE structure
    (tests/test_lsh_recall.py plants cos≥0.99 dups and gates recall
    ≥ 0.9); mid-similarity search belongs to ann_pairs_threshold /
    ann_ivf_topk."""
    emb = _emb_double(spark, sf_dir, read=t_spread)
    if n_planes is None:
        if corpus_count is None:
            # footer-metadata count (no Spark job) — the committed-stats
            # read the docstring mandates; the old emb.count() fallback
            # was a full-scan job per query call (ADVICE r4)
            corpus_count = parquet_row_count(sf_dir, "embeddings")
        n_planes = lsh_n_planes_for(corpus_count)
    bucketed = lsh_bucketed_vectors(emb, n_planes)
    hot = (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > bucket_cap)
        .select("bucket")
    )
    kept = bucketed.join(F.broadcast(hot), "bucket", "left_anti")
    probes = [F.col("bucket")]
    if multi_probe:
        probes += [F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)]
    # probe from the UNCAPPED table; only the build side is capped
    probe_side = bucketed.select(
        "vec_id", "v", F.explode(F.array(*probes)).alias("bucket")
    )
    a = probe_side.alias("a")
    b2 = kept.alias("b")
    # join WITHOUT an id orientation predicate, then canonicalize: with
    # `a.vec_id < b.vec_id` in the join, a hot-homed vector h and a
    # cold-homed vector c with c.id < h.id could only be found as
    # (a=c probing h's bucket) — but h's build row is capped away, and
    # the surviving orientation (a=h probing c's bucket) was rejected
    # by the predicate. Canonicalizing after the join keeps every pair
    # reachable from EITHER endpoint's probe; only hot×hot pairs (both
    # build rows capped) are lost, which is what the docstring promises.
    cand = a.join(
        b2,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    )
    cos = _cos(F.col("a.v"), F.col("b.v"))
    return (
        cand.select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_a"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


KNN_JOIN_QUERIES = 5  # vec_id 0..4 form the query set
KNN_JOIN_K = 5


def ann_knn_join(spark: SparkSession, sf_dir: str,
                 n_queries: int = KNN_JOIN_QUERIES,
                 k: int = KNN_JOIN_K) -> DataFrame:
    """k-NN JOIN (★): exact top-k neighbors for EACH vector in a query
    set — the batch-retrieval shape (RAG context fetch, eval-set
    nearest-neighbor audits), not the single-query ann_cosine_topk.

    Plan: the query side is filtered and BROADCAST (a query batch is
    <<1M rows in practice; the corpus side streams through one
    BroadcastNestedLoopJoin), ranking is a window per query_id +
    rank<=k filter. At 10^12 corpus rows this is one full scan per
    query BATCH — constant in the number of queries, which is the point
    of the join form; for sub-scan latency the same query set probes
    the committed IVF index instead (ann_ivf_topk's path)."""
    from pyspark.sql import Window

    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    sim = F.round(_cos(F.col("v"), F.col("qv")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def embed_norm_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregate: avg L2 norm per label (oracle-checked)."""
    emb = _emb_double(spark, sf_dir, "label")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(_norm(F.col("v"))), 4).alias("avg_norm"),
    )


# Defaults tuned on the sf0.01 fixture: recall@10 = 1.0 at 6/8 probes
# after 3 Lloyd iterations (tests/test_ivf_ann.py pins >= 0.9). The
# synthetic embeddings are near-uniform on the sphere — the hardest
# case for IVF selectivity; real embedding corpora cluster far better,
# so nprobe/n_centroids can drop well below 6/8 at the same recall.
IVF_N_CENTROIDS = 8
IVF_NPROBE = 6
IVF_LLOYD_ITERS = 3


def _unit_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v, uv): append the L2-normalized vector (zero vectors
    dropped — they have no direction)."""
    return (
        emb.withColumn("nrm", _norm(F.col("v")))
        .filter(F.col("nrm") > 0)
        .withColumn("uv", F.transform("v", lambda x: x / F.col("nrm")))
        .drop("nrm")
    )


def _assign_buckets(unit: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, uv, bucket): nearest-centroid assignment. Broadcast
    the (tiny) centroid table, partial-aggregated max_by picks the
    argmax cosine map-side — the n×C expansion never crosses a shuffle
    at full width, only n rows do."""
    sim = _dot(F.col("uv"), F.col("cv"))
    return (
        unit.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),
            F.first("uv").alias("uv"),
            F.max_by(
                "cent_id", F.struct(sim.alias("s"), F.col("cent_id").alias("c"))
            ).alias("bucket"),
        )
    )


def ivf_build_index(
    spark: SparkSession,
    emb: DataFrame,
    warehouse: str,
    *,
    n_centroids: int = IVF_N_CENTROIDS,
    n_iters: int = IVF_LLOYD_ITERS,
    input_snapshot: str | None = None,
) -> dict:
    """✂ IVF index build — phase 1 of 2 (VERDICT r1: split from search,
    no driver-side index, committed via TableIO).

    Seeding: the ``n_centroids`` vectors with the smallest
    xxhash64(vec_id) — a deterministic uniform sample of actual data
    points (TakeOrderedAndProject, distributed). Refinement: ``n_iters``
    spherical-Lloyd iterations, fully relational — assign via broadcast
    max_by, recompute centroid means with posexplode → groupBy(bucket,
    dim) → ordered array rebuild, renormalize. The final assignment is
    committed hive-partitioned BY BUCKET, so probed search is partition
    pruning, not a post-scan filter (on a real cluster: Iceberg identity
    partition on bucket). Resume-aware: same (snapshot, config) no-ops.
    """
    from pyspark.sql import Window

    from ..sources.tableio import TableIO, snapshot_id_of

    io = TableIO(warehouse)
    if input_snapshot is None:
        input_snapshot = snapshot_id_of(emb, ["vec_id", "v"])
    cfg = f"ivf-c{n_centroids}-i{n_iters}"
    if io.is_committed("ivf_index", input_snapshot, cfg) and io.is_committed(
        "ivf_centroids", input_snapshot, cfg
    ):
        return io.read_manifest("ivf_index")

    unit = _unit_vectors(emb)
    seed_order = [F.xxhash64("vec_id").asc(), F.col("vec_id").asc()]
    top = unit.select("vec_id", "uv").orderBy(*seed_order).limit(n_centroids)
    cents = top.select(
        (F.row_number().over(Window.orderBy(*seed_order)) - 1).alias("cent_id"),
        F.col("uv").alias("cv"),
    )
    for _ in range(n_iters):
        assigned = _assign_buckets(unit, cents)
        dims = assigned.select("bucket", F.posexplode("uv").alias("dim", "x"))
        means = dims.groupBy("bucket", "dim").agg(F.avg("x").alias("m"))
        raw = (
            means.groupBy("bucket")
            # a vector, not a string join: no ordered_concat
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("a"))
            .select(
                F.col("bucket").alias("cent_id"),
                F.transform("a", lambda s: s["m"]).alias("cv_raw"),
            )
        )
        cents = (
            raw.withColumn("nrm", _norm(F.col("cv_raw")))
            .filter(F.col("nrm") > 0)
            .select("cent_id", F.transform("cv_raw", lambda x: x / F.col("nrm")).alias("cv"))
        )

    io.commit_stage(cents, "ivf_centroids", input_snapshot, cfg)
    final = _assign_buckets(unit, io.read_table(spark, "ivf_centroids"))
    return io.commit_stage(
        final.select("vec_id", "v", "uv", "bucket"),
        "ivf_index",
        input_snapshot,
        cfg,
        partition_by="bucket",
    )


def ivf_search(
    spark: SparkSession,
    warehouse: str,
    *,
    query_vec_id: int = QUERY_VEC_ID,
    nprobe: int = IVF_NPROBE,
    k: int = TOP_K,
) -> DataFrame:
    """✂ IVF probed search — phase 2 of 2. Reads the committed index;
    ranks centroids against the query vector (broadcast 1-row query ×
    tiny centroid table), then scans ONLY the ``nprobe`` nearest
    buckets — the bucket semi-join hits the hive partition column, so
    Spark prunes unprobed partitions (dynamic partition pruning; at
    production scale, Iceberg partition pruning). Exact cosine + global
    top-k within the probed subset. No driver hop anywhere: query
    lookup, probe choice, and ranking are all in the plan."""
    from ..sources.tableio import TableIO

    io = TableIO(warehouse)
    return _ivf_probe_search(
        io.read_table(spark, "ivf_index"),
        io.read_table(spark, "ivf_centroids"),
        query_vec_id, nprobe, k,
    )


def _ivf_probe_search(
    idx: DataFrame,
    cents: DataFrame,
    query_vec_id: int,
    nprobe: int,
    k: int,
) -> DataFrame:
    """Shared probe-search kernel over any (vec_id, uv, bucket) index
    view — main or main+delta merged."""
    q, probe = _ivf_probe(idx, cents, query_vec_id, nprobe)
    return _rerank(
        idx.join(F.broadcast(probe), "bucket", "left_semi")
        .filter(F.col("vec_id") != query_vec_id),
        q, k,
    )


def _ivf_probe(idx: DataFrame, cents: DataFrame, query_vec_id: int,
               nprobe: int) -> tuple[DataFrame, DataFrame]:
    """(q, probe): the 1-row query unit vector ``qv`` looked up in the
    index view, and the ``nprobe`` buckets whose centroids have the
    largest dot product with it (ties → smallest cent_id)."""
    q = idx.filter(F.col("vec_id") == query_vec_id).select(F.col("uv").alias("qv"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cent_id", _dot(F.col("cv"), F.col("qv")).alias("s"))
        .orderBy(F.desc("s"), F.asc("cent_id"))
        .limit(nprobe)
        .select(F.col("cent_id").alias("bucket"))
    )
    return q, probe


def _rerank(cand: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """(vec_id, cos_sim): exact top-k of the candidate index rows by
    6dp-rounded cosine of unit vectors against the broadcast query."""
    cos = F.round(_dot(F.col("uv"), F.col("qv")), 6)
    return (
        cand.crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _ivf_assign(spark: SparkSession, io, new_emb: DataFrame) -> DataFrame:
    """(vec_id, v, uv, bucket) of new/changed vectors under the FROZEN
    committed centroids."""
    cents = io.read_table(spark, "ivf_centroids")
    return _assign_buckets(_unit_vectors(new_emb), cents).select(
        "vec_id", "v", "uv", "bucket"
    )


def _ivf_stale_keys(new_emb: DataFrame, stale_vec_ids: DataFrame | None) -> DataFrame:
    """Every changed vector's id lands in the stale set (its main row is
    superseded), so an explicit ``stale_vec_ids`` list (deletes) UNIONS
    with ``new_emb``'s ids rather than replacing them — a mixed call
    (changed vectors + deletes) must mask both (ADVICE r5)."""
    keys = new_emb.select("vec_id")
    if stale_vec_ids is not None:
        keys = keys.unionByName(stale_vec_ids.select("vec_id"))
    return keys


def ivf_index_refresh(
    spark: SparkSession,
    warehouse: str,
    new_emb: DataFrame,
    input_snapshot: str,
    *,
    stale_vec_ids: DataFrame | None = None,
) -> dict:
    """Main+delta refresh of the committed IVF index — the FAISS
    add-with-frozen-quantizer pattern, on the segment policy of
    ``index_maintenance`` (group ``IVF_INDEX``): new/changed vectors
    are assigned to the EXISTING committed centroids (the quantizer is
    a model artifact; retraining it would re-bucket the whole corpus)
    and committed as an accumulating ``ivf_index_delta`` segment,
    hive-partitioned by bucket like main; the ``ivf_stale_vecs`` list
    masks superseded/deleted vectors out of main at query time
    (broadcast anti-join — main is never rewritten).

    Deleted vectors are passed via ``stale_vec_ids`` with no row in
    ``new_emb``. Cost per refresh ∝ delta size: one broadcast-centroid
    argmax over the new vectors plus two small commits — at 10^12
    indexed vectors a daily 0.1% diff costs 10^9 assignment rows, not
    an index rebuild. Centroid drift is handled at compaction cadence
    (``ivf_compact`` folds under the same centroids; a full retrain is
    a new ``ivf_build_index``)."""
    from ..sources.tableio import TableIO
    from .index_maintenance import IVF_INDEX, refresh_segments

    io = TableIO(warehouse)
    return refresh_segments(
        spark, io, IVF_INDEX,
        {"ivf_index": _ivf_assign(spark, io, new_emb)},
        _ivf_stale_keys(new_emb, stale_vec_ids), input_snapshot,
    )


def read_ivf_index_merged(spark: SparkSession, warehouse: str) -> DataFrame:
    """Query-time view: main minus stale vec_ids (broadcast anti-join,
    no shuffle of main), plus the delta segment."""
    from ..sources.tableio import TableIO
    from .index_maintenance import IVF_INDEX, read_merged

    return read_merged(spark, TableIO(warehouse), IVF_INDEX, "ivf_index")


def ivf_search_merged(
    spark: SparkSession,
    warehouse: str,
    *,
    query_vec_id: int = QUERY_VEC_ID,
    nprobe: int = IVF_NPROBE,
    k: int = TOP_K,
) -> DataFrame:
    """IVF probed search over the merged (main+delta) index view —
    identical ranking semantics to ``ivf_search``, refresh-aware."""
    from ..sources.tableio import TableIO

    io = TableIO(warehouse)
    return _ivf_probe_search(
        read_ivf_index_merged(spark, warehouse),
        io.read_table(spark, "ivf_centroids"),
        query_vec_id, nprobe, k,
    )


def ivf_compact(spark: SparkSession, warehouse: str, input_snapshot: str) -> dict:
    """Fold the delta segments into main under the SAME centroids and
    codebook (one rewrite each, amortized over the refreshes since the
    last compaction) and reset delta/stale — ``compact_segments`` over
    the ``IVF_INDEX`` group, the ANN analog of
    ``index_maintenance.compact_serving_index``. The float index and,
    when an IVF-PQ refresh committed one, the ``ivf_pq_codes_delta``
    are both folded before the shared stale list is reset."""
    from ..sources.tableio import TableIO
    from .index_maintenance import IVF_INDEX, compact_segments

    return compact_segments(spark, TableIO(warehouse), IVF_INDEX, input_snapshot)


@functools.cache
def _ivf_root() -> str:
    """This process's own warehouse root, made on first use and removed
    at exit: two processes over the same sf dir must not share one, or
    each commit's cleanup deletes the other's staging dirs and each
    data swap replaces files the other is reading."""
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="ates-ivf-")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def ivf_warehouse_for(sf_dir: str) -> str:
    """Per-dataset warehouse path for the IVF stages, stable within one
    process and private to it."""
    import os

    return os.path.join(_ivf_root(), sf_dir.strip("/").replace("/", "_"))


def ann_ivf_topk(spark: SparkSession, sf_dir: str, n_centroids: int = IVF_N_CENTROIDS,
                 nprobe: int = IVF_NPROBE, k: int = TOP_K) -> DataFrame:
    """✂ IVF ANN, two-phase: build-and-commit the index (resume-aware —
    repeated queries over the same snapshot reuse the committed index;
    this is the registered-query wrapper over ivf_build_index +
    ivf_search). Recall gate: tests/test_ivf_ann.py asserts recall@10
    >= 0.9 vs the exact ann_cosine_topk at nprobe < n_centroids, plus
    the nprobe = n_centroids ≡ brute-force invariant."""
    emb = _emb_double(spark, sf_dir)
    wh = ivf_warehouse_for(sf_dir)
    ivf_build_index(spark, emb, wh, n_centroids=n_centroids)
    return ivf_search(spark, wh, nprobe=nprobe, k=k)


KMEANS_K = 4
KMEANS_ITERS = 2
SEMDEDUP_TAU = 0.45


def _argmin_entry(vec: Column, entries: Column) -> Column:
    """struct(d, c) of the winning entry for row vector ``vec``
    against ``entries`` (array<struct<..., cent_id, cv>>): ``_sqdist6``
    distance, ties → smallest cent_id (struct comparison is d first,
    then c) — the exact ``min_by(cent_id, struct(d, c))`` argmin of the
    r5 broadcast-join form, computed IN-ROW so the corpus never crosses
    an exchange to be assigned (r6, guide §2.3: the r5 form shuffled
    every row — carrying its full vector — through a groupBy(vec_id)
    per Lloyd round just to reduce the k joined copies). This ONE
    expression pins the cross-engine argmin trajectory of the
    pinned-Lloyd trainer (kmeans, SemDeDup AND PQ) — keep the (d, c)
    field order here only."""
    # named_struct, not struct(...alias...): aliases on expressions
    # built inside HOF lambdas are silently dropped by the analyzer in
    # some nestings, auto-naming the field colN
    return F.array_min(
        F.transform(
            entries,
            lambda e: F.named_struct(
                F.lit("d"), _sqdist6(vec, e["cv"]), F.lit("c"), e["cent_id"]
            ),
        )
    )


def _cb_assign() -> Column:
    """``_argmin_entry`` of row column ``v`` over the full broadcast
    1-row codebook ``cb`` (its ``s`` field is not read)."""
    return _argmin_entry(F.col("v"), F.col("cb"))


def embed_kmeans(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = KMEANS_K,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Fixed-iteration Lloyd K-MEANS over the embedding column (★) —
    the topic-balance / corpus-clustering primitive (cluster-then-
    sample curation, SemDeDup-style semantic grouping). Unlike the ✂
    IVF build (spherical, committed index), this is the plain
    Euclidean form with a fully deterministic recurrence, which is
    what makes an EXACT DuckDB twin possible: init = the k smallest
    vec_ids' vectors; each iteration assigns by 6dp-ROUNDED squared
    distance (ties → smallest cent_id) and recomputes means rounded
    to 6dp — the rounding pins every argmin decision and every
    centroid component across engines, so the twin replays the
    identical trajectory (the mm_adpcm recursive-twin discipline
    applied to an iterative ML algorithm).

    K-means is product quantization with ONE subspace, so training is
    the one pinned-Lloyd trainer, ``_pq_train_codebooks_df`` with
    ``m_sub=1``: per iteration ONE broadcast of the centroid codebook
    as a single row, IN-ROW argmin (the n×k expansion never exists,
    let alone crosses a shuffle), and one (cluster, dim)-keyed mean agg
    — k·d rows out. No driver traffic at all inside the loop (the loop
    is unrolled into the plan; n_iters is fixed, the production form
    of "iterate until budget"). Returns per-cluster size and inertia —
    the convergence audit every clustering run reports."""
    emb = _emb_double(spark, sf_dir)
    cb = _pq_train_codebooks_df(emb, m_sub=1, k=k, n_iters=n_iters)
    # r6: final assignment in-row too (inline(array(struct)) evaluates
    # the argmin ONCE per row and yields its d/c fields as columns) —
    # the r5 groupBy(vec_id) shuffled the whole corpus one more time
    # just to reduce the k broadcast-joined copies
    final = emb.crossJoin(F.broadcast(cb)).select(
        F.inline(F.array(_cb_assign()))
    )
    return final.groupBy(F.col("c").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.sum("d"), 2).alias("inertia"),
    )


def dedup_semantic(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = KMEANS_K,
    n_iters: int = KMEANS_ITERS,
    tau: float = SEMDEDUP_TAU,
) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (★) — Abbas et al. 2023's
    cluster-then-compare recipe: k-means first, then cosine pairs
    ONLY within each cluster, so the O(n^2) pair space shrinks to
    within-cluster blocks (at 10^12 rows with k ~ n/target_block the
    per-block pair count is bounded; a skewed cluster takes the same
    salting treatment as F2). Reuses the deterministic Lloyd training
    of ``embed_kmeans`` (same 6dp-pinned trajectory, so the DuckDB twin
    replays identical assignments), then drops every vector that has
    a same-cluster neighbour with 6dp-rounded cosine >= tau and a
    SMALLER vec_id (keep-first rule — deterministic, no RNG).
    Returns the dropped rows with their keeper (min qualifying
    vec_id) and the strongest similarity, i.e. the audit trail a
    curation run logs for every semantic-dup eviction.

    Scale shape: one cluster-keyed self-join (shuffle on cluster),
    pair work bounded per block; the centroid table is k rows,
    broadcast. tau defaults to PAIR_THRESHOLD's 0.45 — the fixture
    corpus's planted near-dup band."""
    emb = _emb_double(spark, sf_dir)
    cb = _pq_train_codebooks_df(emb, m_sub=1, k=k, n_iters=n_iters)
    # r6: in-row assignment against the broadcast 1-row codebook — the
    # r5 groupBy(vec_id) shuffled every vector (payload included)
    # through an exchange just to argmin the k broadcast-joined copies
    assigned = emb.crossJoin(F.broadcast(cb)).select(
        "vec_id", "v", _cb_assign().getField("c").alias("cluster")
    )
    # r6 (guide §2.4, §5): the assignment table feeds BOTH cogroup
    # sides; without materialization the whole Lloyd chain + argmin
    # re-ran per side (8 parquet scans measured). One checkpoint per
    # invocation — the committed cluster-assignment table at scale.
    assigned = materialize(assigned, "dedup_semantic:assignments")
    # within-cluster pairs via the ann_pairs_threshold block-pair
    # kernel, sub-blocked (4 blocks) so a whale cluster splits into
    # bounded (cluster, bi, bj) tasks (r5: the expression-level pair
    # join this replaced spent 192 interpreted HOF element-ops per
    # pair — 11.5s at sf0.1; the vectorized block multiply is ~1s, and
    # the DuckDB twin replays the identical unit-vector dot + 6dp round)
    pairs = _block_pairs(assigned, 4, tau, keys=("cluster",))
    return pairs.groupBy(F.col("vec_b").alias("vec_id"), "cluster").agg(
        F.min("vec_a").alias("duplicate_of"),
        F.max("cos_sim").alias("max_cos"),
    )


NORM_OUTLIER_P = (0.05, 0.95)


def embed_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus HYGIENE (★) — the pre-ANN sanity pass every
    vector pipeline runs: flag vectors whose L2 norm falls outside the
    corpus [p5, p95] band (broken encoders emit near-zero or exploded
    vectors; both poison cosine/IVF index quality silently). The
    exact-percentile boundaries are 4dp-rounded so both engines make
    identical band decisions (the sample_curriculum device); the band
    is a knob — it must sit inside the healthy-norm mass, because the
    comparison is strict and a boundary landing ON a tied outlier
    value would silently unflag it (the p1/p99 default did exactly
    that on the 2%-planted fixture).

    Plan shape at 10^10 vectors: norms are a map-side higher-order
    expression; the two boundary numbers come from ONE percentile agg
    and BROADCAST back — no global sort, no second pass semantics."""
    emb = _emb_double(spark, sf_dir, "label")
    # the fixture corpus is EXACTLY unit-norm (no natural outliers), so
    # broken-encoder vectors are PLANTED deterministically in-plan —
    # every 97th vector exploded 3x, every 101st collapsed to 0.01x —
    # and the identical plant exists in the DuckDB twin, so the oracle
    # compares the detector, not the plant (the text_pii_scrub rule)
    scale = (
        F.when(F.col("vec_id") % 97 == 0, F.lit(3.0))
        .when(F.col("vec_id") % 101 == 0, F.lit(0.01))
        .otherwise(F.lit(1.0))
    )
    emb = emb.select(
        "vec_id", "label",
        F.transform(F.col("v"), lambda x: x * scale).alias("v"),
    )
    lo_p, hi_p = NORM_OUTLIER_P
    normed = emb.select(
        "vec_id", "label", F.round(_norm(F.col("v")), 6).alias("nrm")
    )
    qs = normed.agg(
        F.round(F.percentile("nrm", F.lit(lo_p)), 4).alias("lo"),
        F.round(F.percentile("nrm", F.lit(hi_p)), 4).alias("hi"),
    )
    return normed.crossJoin(F.broadcast(qs)).select(
        "vec_id",
        "label",
        "nrm",
        ((F.col("nrm") < F.col("lo")) | (F.col("nrm") > F.col("hi"))).alias(
            "is_outlier"
        ),
    )


def embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding COVARIANCE matrix (★) — the one-scan statistic under
    PCA/whitening/drift monitoring: upper-triangular (i, j, cov_ij)
    over the embedding column, 1-based indices.

    Plan shape: per row the d(d+1)/2 products are generated IN-ROW
    (nested transform over the array + a slice so only i<=j exists,
    then one explode) and partially aggregated map-side — the shuffle
    carries at most d(d+1)/2 keys per task regardless of corpus size,
    which is the d²-accumulator plan you want at 10^12 vectors. Means
    come from a second, d-key agg over the same scan lineage.

    Cross-engine determinism: each product (and each component, for
    the means) is rounded to 6dp and summed exactly at integer scale
    (×1e6 as long — see the in-body note; value-identical to the
    DECIMAL(24,6) sum the r5 form used and the DuckDB twin still
    performs), so the sum is order-independent and the twin (different
    partitioning, different order) lands on the identical value; the
    final covariance combines the two exact sums and rounds once
    more."""
    # r6 (guide §1.2 "per-task work", measured 6.6s → 2.8s at sf0.1):
    # two changes, output byte-identical (A/B-verified on all 2080
    # cells). (1) The d(d+1)/2 products per row were built as nested
    # interpreted ``transform``s allocating a struct per product and
    # flattening; two codegen Generates over sequence() with
    # element_at() produce the same (i, j, product) stream with no
    # per-product allocation. (2) The order-independent exact sum runs
    # in LONG arithmetic instead of DECIMAL(24,6): round(x, 6) is the
    # double nearest k/1e6 (|err| ≤ ulp/2), so round(round(x,6)*1e6, 0)
    # recovers the integer k EXACTLY for |x| ≲ 1e9, and summing k as
    # long is the same exact integer-scaled sum the decimal performed
    # (overflow headroom 2^63/1e6 ≈ 9.2e12 unit-scale products per
    # cell — same order as the decimal's 10^18/1e6). The final
    # /1e6-as-double equals decimal→double: both are correctly rounded
    # conversions of the identical exact rational.
    emb = _emb_double(spark, sf_dir, read=t_spread)
    p_long = F.round(
        F.round(
            F.element_at("v", F.col("i")) * F.element_at("v", F.col("j")), 6
        )
        * 1e6,
        0,
    ).cast("long")
    sij = (
        emb.select("v", F.explode(F.sequence(F.lit(1), F.size("v"))).alias("i"))
        .select(
            "v", "i", F.explode(F.sequence(F.col("i"), F.size("v"))).alias("j")
        )
        .select("i", "j", p_long.alias("p"))
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sl_ij"), F.count(F.lit(1)).alias("n"))
    )
    x_long = F.round(F.round(F.col("x"), 6) * 1e6, 0).cast("long")
    si = (
        emb.select(F.posexplode("v").alias("i0", "x"))
        .select((F.col("i0") + 1).alias("i"), x_long.alias("xr"))
        .groupBy("i")
        .agg(F.sum("xr").alias("sl"))
    )
    mi = F.broadcast(si.select(F.col("i").alias("mi_i"), F.col("sl").alias("sl_i")))
    mj = F.broadcast(si.select(F.col("i").alias("mj_j"), F.col("sl").alias("sl_j")))
    cov = (
        F.col("sl_ij").cast("double") / 1e6
        - (F.col("sl_i").cast("double") / 1e6)
        * (F.col("sl_j").cast("double") / 1e6)
        / F.col("n")
    ) / F.col("n")
    return (
        sij.join(mi, F.col("i") == F.col("mi_i"))
        .join(mj, F.col("j") == F.col("mj_j"))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            # + 0.0 folds IEEE negative zero into +0.0 (DuckDB
            # stringifies -0.0 distinctly, which would break the
            # value-hash compare on near-zero covariances)
            (F.round(cov, 6) + F.lit(0.0)).alias("cov_ij"),
        )
    )


JL_DIMS = 8


def _jl_proj(r: int) -> Column:
    """The ``r`` unscaled projections of the double vector ``v`` onto
    the derived ±1 directions: sign(i, k) = +1 iff the first hex digit
    of md5("i_k") < '8'. Each dot product is an in-order fold, so it
    is IEEE-identical to the DuckDB twins' list_sum; callers apply
    their own scale, rounding or sign bits."""
    return F.expr(
        f"""
        transform(sequence(1, {r}), k ->
            aggregate(
                zip_with(v, sequence(1, size(v)), (x, i) ->
                    CASE WHEN conv(substring(md5(concat(
                             cast(i AS STRING), '_', cast(k AS STRING))),
                             1, 1), 16, 10) < 8
                         THEN x ELSE -x END),
                CAST(0.0 AS DOUBLE), (acc, e) -> acc + e))
        """
    )


def embed_random_projection(
    spark: SparkSession, sf_dir: str, *, r: int = JL_DIMS
) -> DataFrame:
    """Johnson-Lindenstrauss RANDOM PROJECTION (★) — the
    dimensionality-reduction front end for ANN/sketching: project each
    embedding onto ``r`` pseudo-random ±1 directions (Achlioptas 2001
    sign matrix), scaled by 1/sqrt(r). Output long form
    (vec_id, k, y) so the value hash pins every coordinate.

    The sign matrix is DERIVED, not stored: sign(i, k) = +1 iff the
    first hex digit of md5("i_k") < '8' — recomputable identically in
    any engine and on any executor, which is what makes the plan
    ZERO-SHUFFLE: each row folds its own d×r products in-row (ordered
    aggregate, so float addition order is fixed and the DuckDB twin's
    in-order list_sum lands on the identical IEEE value), then a
    map-side posexplode emits the r coordinates. At 10^12 vectors this
    is scan-shaped with no exchange at all; the d·r md5 evaluations
    per row are the price of never materializing or broadcasting the
    matrix (swap in a broadcast sign table if CPU ever beats
    network — same output either way)."""
    emb = _emb_double(spark, sf_dir, read=t_spread)
    proj = F.transform(
        _jl_proj(r), lambda y: F.round(y / F.sqrt(F.lit(r)), 6) + 0.0
    )
    return (
        emb.select("vec_id", F.posexplode(proj).alias("k0", "y"))
        .select(
            "vec_id", (F.col("k0") + 1).cast("int").alias("k"), "y"
        )
    )


ANN_PORTABLE_BITS = 8


def ann_lsh_portable(
    spark: SparkSession, sf_dir: str, *, k: int = TOP_K
) -> DataFrame:
    """Hyperplane-LSH ANN with ENGINE-PORTABLE planes (★) — the
    bucket-probed sibling of ``ann_lsh_bucketed`` whose every stage the
    DuckDB twin replays: the ``ANN_PORTABLE_BITS`` sign bits of the JL
    projections (``embed_random_projection``'s derived ±1 planes) form
    a bucket id; the query probes its own bucket plus all 1-bit flips
    (multi-probe — 9 buckets of 256); candidates get an EXACT cosine
    verify and a deterministic top-k. In-order folds keep every dot
    product IEEE-identical across engines, so sign decisions, bucket
    ids, the candidate set and the ranking all hash-match.

    Scale shape: one map-side bucket computation over the corpus (zero
    exchanges — same derived-sign trick as the JL operator), a
    broadcast of the 1-row query, a bucket-membership FILTER (the 9
    probe ids fold into an array-contains against the broadcast query
    bucket — no shuffle), then TakeOrdered. At 10^12 vectors the
    bucketed table is committed and the probe is partition pruning —
    the IVF pattern with hyperplane geometry."""
    emb = _emb_double(spark, sf_dir, read=t_spread)
    proj = _jl_proj(ANN_PORTABLE_BITS)
    bucket = F.expr(
        f"aggregate(zip_with(proj, sequence(0, {ANN_PORTABLE_BITS - 1}), "
        "(y, b) -> if(y >= 0, shiftleft(1, b), 0)), 0, (acc, x) -> acc | x)"
    )
    bucketed = emb.withColumn("proj", proj).select(
        "vec_id", "v", bucket.alias("bucket")
    )
    q = bucketed.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    probes = F.expr(
        f"transform(sequence(0, {ANN_PORTABLE_BITS}), j -> "
        "if(j = 0, qb, CAST(qb ^ shiftleft(1, j - 1) AS INT)))"
    )
    sim = F.round(_cos(F.col("v"), F.col("qv")), 6)
    return (
        bucketed.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .filter(F.array_contains(probes, F.col("bucket")))
        .select("vec_id", F.col("bucket").cast("int").alias("bucket"),
                sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


# ── Product quantization (the compression half of FAISS-style IVF-PQ) ──
#
# At 10^12 vectors the raw float corpus is ~0.25 PB at d=64; PQ codes
# at M=4 subspaces × K=4..256 codes are M bytes per vector — a 64×
# shrink that turns the re-ranking candidate scan into a byte-table
# scan with an M×K lookup table per query (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search"). The codebooks
# are tiny (M·K·(d/M) floats) and train on a sample at scale; encode
# is a ZERO-SHUFFLE map (broadcast codebook, in-row argmin), and ADC
# search is a map + TakeOrdered — no shuffle touches the corpus.
PQ_M = 4       # subspaces (d/M dims each)
PQ_K = 4       # codes per subspace (twin-unrolled like KMEANS_K)
PQ_ITERS = 2   # unrolled Lloyd rounds (the embed_kmeans twin shape)


def _pq_sub_slice(v: Column, s: int, m_sub: int) -> Column:
    """Subvector ``s`` of ``v``: the ds = floor(len(v)/m_sub) dims
    starting at s*ds (0-based). Pure expression — no Python per row.
    If m_sub does not divide d the trailing d mod m_sub dims are
    EXCLUDED from quantization — identically in the DuckDB twin
    (len//m_sub), so the choice is consistent, not a divergence; pick
    m_sub | d to quantize every dimension."""
    ds = (F.size(v) / m_sub).cast("int")
    return F.slice(v, F.lit(s) * ds + 1, ds)


def pq_train_codebooks(
    spark: SparkSession,
    sf_dir: str,
    *,
    m_sub: int = PQ_M,
    k: int = PQ_K,
    n_iters: int = PQ_ITERS,
) -> DataFrame:
    """Per-subspace codebooks (s, cent_id, cv), one row per code, from
    the one pinned-Lloyd trainer ``_pq_train_codebooks_df`` (init = the
    k smallest vec_ids' subvectors; 6dp-rounded distances pin every
    argmin; means re-rounded to 6dp) — ALL subspaces train in ONE
    plan, the subspace id is just another grouping key. ``embed_kmeans``
    is the same trainer at ``m_sub=1``. At 10^12 rows codebooks train
    on a committed sample (standard PQ practice — the codebook is a
    d/M-dim quantizer, not a corpus statistic); the full-corpus form
    here keeps the DuckDB twin exact."""
    return _pq_train_codebooks_df(
        _emb_double(spark, sf_dir), m_sub=m_sub, k=k, n_iters=n_iters
    ).select(F.inline("cb"))


def _pq_train_codebooks_df(
    emb: DataFrame, *, m_sub: int, k: int, n_iters: int
) -> DataFrame:
    """The pinned-Lloyd trainer over (vec_id, v) rows: ``n_iters``
    unrolled rounds over ``m_sub`` subspaces, returning the final
    codebook as ONE checkpointed row ``cb: array<struct<s, cent_id,
    cv>>`` sorted by (s, cent_id) (an empty cluster simply has no
    entry). ``m_sub=1`` is k-means (``embed_kmeans``,
    ``dedup_semantic``); ``pq_train_codebooks`` and the IVF-PQ build
    ``inline`` the row into (s, cent_id, cv) rows.

    Per iteration (r6 shape): the M·K-entry codebook broadcasts as ONE
    row, assignment is in-row per subspace, and only (s, cluster, dim)
    mean rows reach an exchange — nothing corpus-sized shuffles.
    Guards the parameters HERE so every caller is covered (r5 review:
    a wrapper-only guard let ivf_pq_build_index(m_sub=0) commit an
    empty codebook that failed far away, as an IndexError inside the
    ADC fold)."""
    from pyspark.sql import Window

    if m_sub < 1 or k < 1 or n_iters < 1:
        raise ValueError(
            f"pinned-Lloyd training needs m_sub/k/n_iters >= 1, got "
            f"{m_sub}/{k}/{n_iters}"
        )
    seeds = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("cent_id"),
            "v",
        )
    )
    scents = seeds.select(
        "cent_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).cast("int").alias("s"),
                    _pq_sub_slice(F.col("v"), s, m_sub).alias("cv"),
                )
                for s in range(m_sub)
            ])
        ).alias("e"),
    ).select("e.s", "cent_id", "e.cv")
    # ONE-ROW training codebook: array<struct<s, cent_id, cv>> sorted
    # by (s, cent_id) — the training-loop sibling of _pq_codebook_row.
    # Checkpointed per round (kilobytes): without it each round's
    # broadcast build re-executes every earlier round's chain nested
    # inside one deep job tree (interleaved A/B: ~2.0s → ~1.65s for
    # the 2-round train at sf0.1). Each round's checkpoint releases
    # the one it was computed from.
    cb = materialize(scents.groupBy().agg(
        # a codebook array, not a string join: no ordered_concat
        F.array_sort(F.collect_list(F.struct("s", "cent_id", "cv")))
        .alias("cb")
    ), "pq_train:codebook")

    def _sub_assign(s: int) -> Column:
        # argmin code of subvector s against the row's broadcast cb —
        # the shared _argmin_entry expression restricted to subspace s
        return _argmin_entry(
            _pq_sub_slice(F.col("v"), s, m_sub),
            F.filter("cb", lambda e: e["s"] == F.lit(s)),
        ).getField("c")

    for _ in range(n_iters):
        # r6 (guide §2.3): assignment happens IN-ROW against the 1-row
        # broadcast codebook — the r5 form shuffled every (vec, s)
        # subvector through a groupBy(vec_id, s) exchange per round
        # just to argmin the k broadcast-joined copies. The mean agg
        # reads (s, dim) straight off the full-vector position
        # (s = i0 div ds, dim = i0 mod ds — the trailing d mod m_sub
        # dims stay excluded via the slice), so the per-vec subvector
        # explode is gone too. 2 exchanges per round, none
        # corpus-sized.
        ds = (F.size("v") / m_sub).cast("int")
        # two selects on purpose: the codes array must be BOUND in a
        # Project below the posexplode Generate — a single select puts
        # every non-generator expression in the Project ABOVE the
        # Generate, re-running the m_sub argmins once per exploded
        # element (a d× interpreted blowup, measured 2s → 14s)
        with_cl = emb.crossJoin(F.broadcast(cb)).select(
            "v",
            F.array(*[_sub_assign(s) for s in range(m_sub)]).alias("cl"),
            ds.alias("ds"),
        )
        assigned = with_cl.select(
            "cl",
            "ds",
            F.posexplode(
                F.slice("v", 1, F.col("ds") * m_sub)
            ).alias("i0", "x"),
        )
        flat = (
            assigned.select(
                (F.col("i0") / F.col("ds")).cast("int").alias("s"),
                F.element_at(
                    "cl", (F.col("i0") / F.col("ds")).cast("int") + 1
                ).alias("cluster"),
                F.pmod("i0", "ds").alias("dim"),
                "x",
            )
            .groupBy("s", "cluster", "dim")
            .agg(F.round(F.avg("x"), 6).alias("mu"))
        )
        # collapse (s, cluster, dim, mu) straight back into the 1-row
        # codebook: array_sort orders by (s, cluster, dim), so the
        # filter-per-(s, cluster) reshape reads means in dim order (a
        # codebook array, not a string join: no ordered_concat)
        cb = materialize(flat.groupBy().agg(
            F.array_sort(
                F.collect_list(F.struct("s", "cluster", "dim", "mu"))
            ).alias("fl")
        ).select(
            F.transform(
                F.array_distinct(
                    F.transform(
                        "fl",
                        lambda e: F.named_struct(
                            F.lit("s"), e["s"], F.lit("c"), e["cluster"]
                        ),
                    )
                ),
                lambda p: F.named_struct(
                    F.lit("s"),
                    p["s"].cast("int"),
                    F.lit("cent_id"),
                    p["c"].cast("int"),
                    F.lit("cv"),
                    F.transform(
                        F.filter(
                            "fl",
                            lambda e: (e["s"] == p["s"])
                            & (e["cluster"] == p["c"]),
                        ),
                        lambda e: e["mu"],
                    ),
                ),
            ).alias("cb")
        ), "pq_train:codebook", replaces=cb)
    # r6 (guide §2.4, §5): the trained codebook (M·K rows — kilobytes)
    # feeds every consumer through broadcast crossJoins (ADC builds it
    # twice, the distortion audit once more); without materialization
    # each broadcast build re-ran the whole unrolled Lloyd chain over
    # the corpus. The final round's checkpoint above IS the one
    # materialization per invocation — the in-query analog of the
    # committed pq_codebook table the IVF-PQ build writes.
    return cb


def _pq_codebook_row(cents: DataFrame) -> DataFrame:
    """Collapse (s, cent_id, cv) into ONE row
    ``codebook: array<array<array<double>>>`` (subspace → code →
    centroid) so encode/search broadcast it and stay shuffle-free.
    M·K·(d/M) doubles — kilobytes at any corpus size. r6: ONE
    all-rows collect instead of a groupBy("s") + groupBy() pair — the
    table is M·K rows, so the two-level shuffle bought nothing but an
    extra stage barrier; the nested reshape happens in-row on the
    single collected row (sorted by (s, cent_id), so subspaces come
    out s-ascending and codes cent_id-ascending — identical layout)."""
    fl = cents.groupBy().agg(
        # a codebook array, not a string join: no ordered_concat
        F.array_sort(F.collect_list(F.struct("s", "cent_id", "cv")))
        .alias("fl")
    )
    return fl.select(
        F.transform(
            F.array_distinct(F.transform("fl", lambda e: e["s"])),
            lambda s: F.transform(
                F.filter("fl", lambda e: e["s"] == s),
                lambda e: e["cv"],
            ),
        ).alias("codebook")
    )


def _pq_m_of(cents: DataFrame) -> int:
    """Number of PQ subspaces recorded in a committed codebook table
    (rows are (s, cent_id, cv); the table is M·K rows — kilobytes, so
    the 1-row agg is metadata-cheap). Search/refresh DERIVE m_sub from
    here instead of trusting a caller parameter: a caller-supplied
    m_sub larger than the committed one would make element_at on the
    codebook return null, every ADC distance null, and NULLS-FIRST
    ordering would silently serve an arbitrary shortlist (r5 review)."""
    m = cents.agg((F.max("s") + 1).alias("m")).collect()[0]["m"]
    if m is None or m < 1:
        raise ValueError("committed pq_codebook is empty — build first")
    return int(m)


_PQ_M_CACHE: dict[str, tuple[tuple, int]] = {}


def _pq_m_for_warehouse(spark: SparkSession, io, warehouse: str) -> int:
    """``_pq_m_of`` memoized per warehouse: the codebook is FROZEN
    after build (refresh re-encodes against it; only a rebuild commits
    a new one), so the subspace count is derived with one aggregation
    job per (warehouse, commit) instead of one per search call (r5
    review: probed search is the serving path — a per-query metadata
    job is pure added latency). Validity key = the codebook manifest's
    (snapshot_seq, committed_at_unix, rows), a file read with no Spark
    job; a recommitted codebook misses and re-derives. snapshot_seq is
    strictly monotonic per commit (ADVICE r5: committed_at_unix has
    1-second resolution, so a same-second rebuild that changed m_sub
    while keeping M*K constant could have served a stale subspace
    count on the old (time, rows) stamp)."""
    m = io.read_manifest("pq_codebook")
    stamp = None if m is None else (
        m.get("snapshot_seq"), m.get("committed_at_unix"), m.get("rows")
    )
    hit = _PQ_M_CACHE.get(warehouse)
    if hit is not None and stamp is not None and hit[0] == stamp:
        return hit[1]
    val = _pq_m_of(io.read_table(spark, "pq_codebook"))
    if stamp is not None:
        _PQ_M_CACHE[warehouse] = (stamp, val)
    return val


def _pq_sub_dists(vcol: str, s: int, m_sub: int) -> Column:
    """array of 6dp-rounded squared distances from subvector ``s`` of
    row column ``vcol`` to every code centroid of subspace ``s`` (the
    row carries the broadcast ``codebook``)."""
    sv = _pq_sub_slice(F.col(vcol), s, m_sub)
    return F.transform(
        F.element_at("codebook", s + 1), lambda cv: _sqdist6(sv, cv)
    )


def _decimal_chain(terms: list[Column]) -> Column:
    """Fixed-order exact sum: each term cast DECIMAL(18,6), added in
    subspace order with a width-pinning re-cast — order-independent
    and ulp-free in BOTH engines (the text_zipf_fit discipline)."""
    total = terms[0].cast("decimal(18,6)")
    for x in terms[1:]:
        total = (total + x.cast("decimal(18,6)")).cast("decimal(18,6)")
    return total


def embed_pq_error(
    spark: SparkSession,
    sf_dir: str,
    *,
    m_sub: int = PQ_M,
    k: int = PQ_K,
    n_iters: int = PQ_ITERS,
) -> DataFrame:
    """PQ quantization-distortion audit (★): per-vector squared
    reconstruction error = Σ_s min-code distance of subvector s —
    the number that decides whether a codebook is good enough to ship
    (the int8 audit ``embed_quantize_error``'s PQ sibling). Encode is
    in-row (broadcast codebook crossJoin, per-subspace argmin by
    6dp-rounded distance), per-vector totals are fixed-order
    DECIMAL(18,6) chains, corpus stats one 1-row agg — after codebook
    training, NOTHING shuffles on the corpus."""
    emb = _emb_double(spark, sf_dir)
    cents = pq_train_codebooks(spark, sf_dir, m_sub=m_sub, k=k,
                               n_iters=n_iters)
    rows = emb.crossJoin(F.broadcast(_pq_codebook_row(cents)))
    per_vec = rows.select(
        "vec_id",
        _decimal_chain(
            [F.array_min(_pq_sub_dists("v", s, m_sub))
             for s in range(m_sub)]
        ).alias("dist"),
    )
    return per_vec.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(
            F.sum("dist").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_dist"),
        F.max("dist").cast("double").alias("max_dist"),
    )


def ann_pq_adc(
    spark: SparkSession,
    sf_dir: str,
    *,
    k_top: int = TOP_K,
    m_sub: int = PQ_M,
    k: int = PQ_K,
    n_iters: int = PQ_ITERS,
) -> DataFrame:
    """PQ asymmetric-distance top-k (★): the query builds an M×K
    lookup table ONCE (distances from its subvectors to every code
    centroid — a 1-row broadcast), each candidate row folds its M
    codes through the table (fixed-order DECIMAL chain), and ranking
    is TakeOrderedAndProject. Per-candidate work is M table lookups —
    independent of d; the corpus never shuffles. Production form
    scans a COMMITTED codes table (M bytes/vector — the 64× shrink)
    inside IVF partitions (``ann_ivf_topk`` generates candidates, PQ
    ranks them: IVF-PQ); here encode happens in-plan so the twin
    replays the whole chain."""
    emb = _emb_double(spark, sf_dir)
    cents = pq_train_codebooks(spark, sf_dir, m_sub=m_sub, k=k,
                               n_iters=n_iters)
    cb = _pq_codebook_row(cents)
    codes = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(cb))
        .select("vec_id", _pq_codes_expr("v", m_sub).alias("codes"))
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    return _adc_topk(codes, q, cb, m_sub, k_top)


def _adc_topk(codes: DataFrame, q: DataFrame, cb: DataFrame, m_sub: int,
              n: int) -> DataFrame:
    """(vec_id, adc_d): the ``n`` rows of ``codes`` (vec_id, codes)
    nearest the 1-row query ``q`` (qv) by asymmetric distance. The
    query builds its M×K lookup table against the 1-row ``codebook``
    ONCE; each row folds its M codes through it in a fixed-order
    DECIMAL chain; ties → smallest vec_id."""
    lut = q.crossJoin(F.broadcast(cb)).select(
        F.array(*[_pq_sub_dists("qv", s, m_sub)
                  for s in range(m_sub)]).alias("lut")
    )
    terms = [
        F.element_at(F.element_at("lut", s + 1),
                     F.element_at("codes", s + 1) + 1)
        for s in range(m_sub)
    ]
    return (
        codes.crossJoin(F.broadcast(lut))
        .select("vec_id", _decimal_chain(terms).cast("double").alias("adc_d"))
        .orderBy(F.asc("adc_d"), F.asc("vec_id"))
        .limit(n)
    )


def _pq_codes_expr(vcol: str, m_sub: int) -> Column:
    """array<int> of 0-based per-subspace code ids for row column
    ``vcol`` (the row carries the broadcast ``codebook``) — ties break
    to the smallest code id (array_position finds the FIRST min)."""
    cols = []
    for s in range(m_sub):
        ds_ = _pq_sub_dists(vcol, s, m_sub)
        cols.append(
            (F.array_position(ds_, F.array_min(ds_)) - 1).cast("int")
        )
    return F.array(*cols)


IVF_PQ_K_CODES = 16
IVF_PQ_M = 8          # more subspaces than the twin-checked PQ_M=4:
                      # 8 bytes/vector is still a 32× shrink at d=64
                      # and measured recall@10 goes 0.7 → 1.0
IVF_PQ_SHORTLIST = 100


def ivf_pq_build_index(
    spark: SparkSession,
    emb: DataFrame,
    warehouse: str,
    *,
    n_centroids: int = IVF_N_CENTROIDS,
    n_iters: int = IVF_LLOYD_ITERS,
    m_sub: int = IVF_PQ_M,
    k_codes: int = IVF_PQ_K_CODES,
    pq_iters: int = PQ_ITERS,
    input_snapshot: str | None = None,
) -> dict:
    """✂ IVF-PQ build (FAISS ``IndexIVFPQ`` analog, by_residual=false):
    the committed IVF index supplies the coarse partitioning; PQ
    codebooks train on its unit vectors (pinned Lloyd, one plan for
    all subspaces) and every vector's M-byte code row is committed
    hive-partitioned BY BUCKET — the table a 10^12-row deployment
    actually scans (M bytes/vector instead of d floats; probed search
    reads nprobe partitions of the CODES table, never the float
    corpus). Resume-aware at every stage: same (snapshot, config)
    no-ops through the normal TableIO protocol."""
    from ..sources.tableio import TableIO, snapshot_id_of

    io = TableIO(warehouse)
    if input_snapshot is None:
        input_snapshot = snapshot_id_of(emb, ["vec_id", "v"])
    ivf_build_index(spark, emb, warehouse, n_centroids=n_centroids,
                    n_iters=n_iters, input_snapshot=input_snapshot)
    cfg = f"ivfpq-m{m_sub}-k{k_codes}-i{pq_iters}"
    if io.is_committed("pq_codebook", input_snapshot, cfg) and \
            io.is_committed("ivf_pq_codes", input_snapshot, cfg):
        return io.read_manifest("ivf_pq_codes")
    idx = io.read_table(spark, "ivf_index")
    # committed-layout validation (one metadata-cheap 1-row job — the
    # build path commits tables, so it is not collect-free anyway):
    # m_sub must divide d, else ds=0 slices quantize nothing while the
    # committed index LOOKS healthy (r5 review)
    d = idx.agg(F.min(F.size("uv")).alias("d")).collect()[0]["d"]
    if d is None or m_sub > d or d % m_sub != 0:
        raise ValueError(
            f"ivf_pq_build_index: m_sub={m_sub} must divide the "
            f"embedding dim (d={d})"
        )
    cents = _pq_train_codebooks_df(
        idx.select("vec_id", F.col("uv").alias("v")),
        m_sub=m_sub, k=k_codes, n_iters=pq_iters,
    ).select(F.inline("cb"))
    io.commit_stage(cents, "pq_codebook", input_snapshot, cfg)
    cb = _pq_codebook_row(io.read_table(spark, "pq_codebook"))
    codes = (
        idx.select("vec_id", "bucket", F.col("uv").alias("v"))
        .crossJoin(F.broadcast(cb))
        .select("vec_id", "bucket", _pq_codes_expr("v", m_sub).alias("codes"))
    )
    return io.commit_stage(codes, "ivf_pq_codes", input_snapshot, cfg,
                           partition_by="bucket")


def ivf_pq_search(
    spark: SparkSession,
    warehouse: str,
    *,
    query_vec_id: int = QUERY_VEC_ID,
    nprobe: int = IVF_NPROBE,
    k: int = TOP_K,
    shortlist: int = IVF_PQ_SHORTLIST,
) -> DataFrame:
    """✂ IVF-PQ probed search: probe choice as in ``ivf_search``
    (broadcast 1-row query × tiny centroid table), then the CODES
    table of only the probed buckets is ADC-ranked — on unit vectors
    ||a−b||² = 2−2·cos, so squared-L2 ADC order IS cosine order — and
    the top ``shortlist`` ids are exact-re-ranked by true cosine
    against the float index (a |shortlist|-row broadcast semi-join —
    point lookups at scale, never a corpus scan). The float corpus is
    touched for exactly |shortlist| + 1 rows; everything else reads
    M-byte codes. Returns (vec_id, cos_sim) like the exact searchers."""
    from ..sources.tableio import TableIO

    io = TableIO(warehouse)
    return _ivf_pq_search_kernel(
        io.read_table(spark, "ivf_index"),
        io.read_table(spark, "ivf_centroids"),
        io.read_table(spark, "ivf_pq_codes"),
        _pq_codebook_row(io.read_table(spark, "pq_codebook")),
        query_vec_id, nprobe, k, shortlist,
        _pq_m_for_warehouse(spark, io, warehouse),
    )


def _ivf_pq_search_kernel(
    idx: DataFrame,
    cents_ivf: DataFrame,
    codes: DataFrame,
    cb: DataFrame,
    query_vec_id: int,
    nprobe: int,
    k: int,
    shortlist: int,
    m_sub: int,
) -> DataFrame:
    """Shared probe+ADC+re-rank kernel over any (index, codes) view —
    main-only or main+delta merged."""
    q, probe = _ivf_probe(idx, cents_ivf, query_vec_id, nprobe)
    short = _adc_topk(
        codes.join(F.broadcast(probe), "bucket", "left_semi")
        .filter(F.col("vec_id") != query_vec_id),
        q, cb, m_sub, shortlist,
    )
    return _rerank(
        idx.join(F.broadcast(short.select("vec_id")), "vec_id", "left_semi"),
        q, k,
    )


def ann_ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    *,
    nprobe: int = IVF_NPROBE,
    k: int = TOP_K,
    shortlist: int = IVF_PQ_SHORTLIST,
) -> DataFrame:
    """✂ IVF-PQ ANN, two-phase registered-query wrapper (build-and-
    commit once per snapshot, then probed ADC + exact re-rank).
    Recall gate vs the exact searcher in tests/test_pq.py."""
    emb = _emb_double(spark, sf_dir)
    wh = ivf_warehouse_for(sf_dir)
    ivf_pq_build_index(spark, emb, wh)
    return ivf_pq_search(spark, wh, nprobe=nprobe, k=k, shortlist=shortlist)


def ivf_pq_refresh(
    spark: SparkSession,
    warehouse: str,
    new_emb: DataFrame,
    input_snapshot: str,
    *,
    stale_vec_ids: DataFrame | None = None,
) -> dict:
    """Main+delta refresh of the committed IVF-PQ index: the float rows
    are assigned as in ``ivf_index_refresh`` (frozen centroids), and
    the SAME new/changed vectors are encoded with the FROZEN committed
    codebook (a quantizer is a model artifact — re-training it would
    re-code the whole corpus). Both land in one ``refresh_segments``
    call over the ``IVF_INDEX`` group — ``ivf_index_delta`` and
    ``ivf_pq_codes_delta``, bucket-partitioned like their mains — so
    one stale list (``ivf_stale_vecs``) masks both tables. Cost per
    refresh ∝ delta size; main codes are never rewritten. Compaction is
    ``ivf_compact``: it folds the codes delta into ``ivf_pq_codes``
    through the same merged view (the delta rows are already encoded,
    so the fold re-encodes nothing) and resets both deltas and the
    stale list only after both folds."""
    from ..sources.tableio import TableIO
    from .index_maintenance import IVF_INDEX, refresh_segments

    io = TableIO(warehouse)
    assigned = _ivf_assign(spark, io, new_emb)
    cb = _pq_codebook_row(io.read_table(spark, "pq_codebook"))
    # encode with the COMMITTED subspace count — a caller-supplied
    # m_sub could append wrong-length code rows into the merged view
    m_sub = _pq_m_for_warehouse(spark, io, warehouse)
    new_codes = (
        assigned.select("vec_id", "bucket", F.col("uv").alias("v"))
        .crossJoin(F.broadcast(cb))
        .select("vec_id", "bucket", _pq_codes_expr("v", m_sub).alias("codes"))
    )
    return refresh_segments(
        spark, io, IVF_INDEX,
        {"ivf_index": assigned, "ivf_pq_codes": new_codes},
        _ivf_stale_keys(new_emb, stale_vec_ids), input_snapshot,
    )


def read_ivf_pq_codes_merged(spark: SparkSession, warehouse: str) -> DataFrame:
    """Query-time codes view: main minus the shared stale list
    (broadcast anti-join — main is never rewritten), plus the delta
    segment."""
    from ..sources.tableio import TableIO
    from .index_maintenance import IVF_INDEX, read_merged

    return read_merged(spark, TableIO(warehouse), IVF_INDEX, "ivf_pq_codes")


def ivf_pq_search_merged(
    spark: SparkSession,
    warehouse: str,
    *,
    query_vec_id: int = QUERY_VEC_ID,
    nprobe: int = IVF_NPROBE,
    k: int = TOP_K,
    shortlist: int = IVF_PQ_SHORTLIST,
) -> DataFrame:
    """IVF-PQ probed search over the merged (main+delta) views —
    identical ranking semantics to ``ivf_pq_search``, refresh-aware."""
    from ..sources.tableio import TableIO

    io = TableIO(warehouse)
    return _ivf_pq_search_kernel(
        read_ivf_index_merged(spark, warehouse),
        io.read_table(spark, "ivf_centroids"),
        read_ivf_pq_codes_merged(spark, warehouse),
        _pq_codebook_row(io.read_table(spark, "pq_codebook")),
        query_vec_id, nprobe, k, shortlist,
        _pq_m_for_warehouse(spark, io, warehouse),
    )
