"""64-bit SimHash (VERDICT r2 item 2) + connected-components size gate
(item 3) + the shingle-DF-cap parity guard (ADVICE r2).

The r2 SimHash used a 16-bit fingerprint: 65,536 possible values, so at
>= ~10^7 docs every band bucket exceeds the cap and recall collapses to
zero. These tests pin the fixes: the fingerprint space is genuinely
64-bit (a corpus larger than 2^16 docs still buckets non-degenerately),
banding finds the planted near-dups, and CC picks its partitioning from
the edge count instead of a hardcoded coalesce(1).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazon_textract_enhancer_spark.operators.dedup import (
    BAND_BUCKET_CAP,
    SHINGLE_DF_CAP,
    SIMHASH_HAMMING_MAX,
    _shingles,
    connected_components,
    dedup_ngram_jaccard,
    dedup_simhash,
    dedup_simhash_pairs,
    lsh_hot_buckets as simhash_hot_buckets,
    simhash_banded,
    simhash_candidates,
    simhash_fingerprints,
)

SF_DIR = "/root/testdata/sf0.01"


def test_fingerprint_space_exceeds_16_bits(spark):
    """70k docs with distinct token sets must produce far more than
    65,536 distinct fingerprints (impossible in the r2 16-bit space)
    and non-degenerate band bucketing (no bucket anywhere near holding
    the whole corpus)."""
    n = 70_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("alpha"), (F.col("id") % 251).cast("string")),
            F.concat(F.lit("bravo"), (F.col("id") % 499).cast("string")),
            F.concat(F.lit("charl"), (F.col("id") % 997).cast("string")),
            F.concat(F.lit("delta"), (F.col("id") % 1999).cast("string")),
            F.concat(F.lit("echo"), (F.col("id") % 4001).cast("string")),
            F.concat(F.lit("fox"), (F.col("id") % 7993).cast("string")),
        ).alias("text"),
    )
    fp = simhash_fingerprints(docs)
    distinct = fp.select("simhash").distinct().count()
    assert distinct > 65_536, distinct  # the 16-bit space cannot do this

    banded = simhash_banded(fp)
    top = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    # non-degenerate: the hottest (band, bucket) holds a tiny corpus
    # fraction, so the default cap drops almost nothing
    assert top < n / 10, top
    hot = simhash_hot_buckets(banded, BAND_BUCKET_CAP).count()
    dropped_docs = (
        banded.join(
            simhash_hot_buckets(banded, BAND_BUCKET_CAP).select("band", "bucket"),
            ["band", "bucket"],
        ).select("doc_id").distinct().count()
    )
    assert dropped_docs < n / 10, (hot, dropped_docs)


def test_banding_guarantees_small_hamming(spark):
    """Pigeonhole: every pair within hamming <= SIMHASH_HAMMING_MAX of
    each other must appear in the block-probed candidates (8 disjoint
    8-bit blocks, C(8,5) probes; <= 3 flipped bits leave >= 5 blocks
    intact, so one probe combination matches exactly)."""
    base = (1 << 60) | (1 << 37) | (1 << 13) | 7
    fps = [
        (0, base),
        (1, base ^ (1 << 5)),                       # hamming 1
        (2, base ^ (1 << 5) ^ (1 << 21)),           # hamming 2 from 1
        (3, base ^ (1 << 5) ^ (1 << 21) ^ (1 << 47)),  # hamming 3 from 2
    ]
    fp = spark.createDataFrame(fps, "doc_id bigint, simhash bigint")
    cand = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_candidates(fp).collect()
    }
    for a in range(4):
        for b in range(a + 1, 4):
            want_h = bin(fps[a][1] ^ fps[b][1]).count("1")
            if want_h <= SIMHASH_HAMMING_MAX:
                assert (a, b) in cand and cand[(a, b)] == want_h


def test_simhash_pairs_recall_on_planted_dups(spark):
    """The jaccard-verified simhash pairs must recover most of the exact
    3-gram-jaccard >= 0.8 pairs (banding misses only pairs whose
    simhash hamming spreads across all 4 bands — the documented
    trade)."""
    exact = {(r["doc_a"], r["doc_b"])
             for r in dedup_ngram_jaccard(spark, SF_DIR).collect()}
    got = {(r["doc_a"], r["doc_b"])
           for r in dedup_simhash_pairs(spark, SF_DIR).collect()}
    assert len(exact) >= 20
    assert all(a < b for a, b in got)  # canonical pair orientation
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, (recall, exact - got)
    # every emitted pair is exactly verified
    assert all(
        r["jaccard"] >= 0.8 for r in dedup_simhash_pairs(spark, SF_DIR).collect()
    )


def test_blocked_keyspace_does_not_saturate(spark):
    """VERDICT r3 item 4's done-criterion: on a synthetic corpus LARGER
    than 2^16 fingerprints, the probe-key space must not converge on
    hot buckets (the r3 16-bit band scheme had 65,536 buckets/band —
    above ~3x10^7 docs the AVERAGE bucket tripped the cap and recall
    was audited-zero). With 40-bit keys over ~random fingerprints the
    hottest bucket stays O(1) and the cap drops nothing."""
    n = 70_000
    fp = spark.range(n).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("simhash")
    )
    banded = simhash_banded(fp)
    stats = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.max("cnt").alias("mx"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("cnt").alias("n_rows"),
        )
        .collect()[0]
    )
    assert stats["n_rows"] == n * 70  # C(8,4) probes per doc
    # ~random 40-bit keys over 70k docs: collisions are rare, nothing
    # within an order of magnitude of the cap
    assert stats["mx"] < BAND_BUCKET_CAP / 10, stats["mx"]
    assert stats["n_buckets"] > n * 50, stats["n_buckets"]
    assert simhash_hot_buckets(banded, BAND_BUCKET_CAP).count() == 0


def test_simhash_clusters_nonempty_and_hamming_bounded(spark):
    clusters = dedup_simhash(spark, SF_DIR).collect()
    assert len(clusters) > 0
    assert all(r["n_docs"] >= 2 for r in clusters)
    # keep_id is the min member
    for r in clusters:
        members = [int(x) for x in r["members"].split(",")]
        assert r["keep_id"] == min(members)


def test_cc_multi_partition_equals_single(spark):
    """The CC kernel is partition-count agnostic: forcing the parallel
    layout must produce identical labels to the single-partition loop
    (VERDICT r2 item 3's done-criterion)."""
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (20, 21)]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint").repartition(5)
    single = {r["doc_id"]: r["label"]
              for r in connected_components(df, single_partition=True).collect()}
    multi = {r["doc_id"]: r["label"]
             for r in connected_components(df, single_partition=False).collect()}
    auto = {r["doc_id"]: r["label"]
            for r in connected_components(df).collect()}
    assert single == multi == auto
    assert single[3] == 0 and single[12] == 10 and single[21] == 20


def test_cc_size_gate_picks_parallel_for_big_graphs(spark):
    """The auto gate chooses multi-partition above the edge threshold:
    with a tiny threshold the output must still be correct (proving the
    parallel path actually ran and converged)."""
    chain = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(chain, "doc_a bigint, doc_b bigint").repartition(4)
    labels = {r["doc_id"]: r["label"]
              for r in connected_components(df, max_iters=50,
                                            small_graph_edges=1).collect()}
    assert set(labels.values()) == {0} and len(labels) == 41


def test_cc_unconverged_raises(spark):
    """ADVICE r2: exhausting max_iters with labels still moving must
    raise, not silently return split clusters."""
    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, "doc_a bigint, doc_b bigint")
    # max_iters/strict guard the ITERATIVE path (the union-find fast
    # path is exact in one shot and can't under-converge) — force it
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iters=2, single_partition=False)
    # strict=False returns the partial labels instead
    labels = connected_components(
        df, max_iters=2, strict=False, single_partition=False
    ).collect()
    assert len(labels) == 31


def test_fixture_shingle_df_far_below_cap(spark):
    """ADVICE r2: dedup_ngram_jaccard's DuckDB oracle has no DF cap, so
    parity silently depends on the fixture's max shingle document
    frequency staying far below SHINGLE_DF_CAP. Pin that margin so a
    future testdata change cannot break parity invisibly."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    max_df = (
        _shingles(docs).groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df").alias("mx")).collect()[0]["mx"]
    )
    assert max_df <= SHINGLE_DF_CAP / 10, (
        f"fixture max shingle df {max_df} is within 10x of the cap "
        f"{SHINGLE_DF_CAP}; the capless oracle twin would diverge"
    )
