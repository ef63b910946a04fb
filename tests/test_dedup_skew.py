"""Dedup skew caps (VERDICT r1 item 4): a pathological corpus — 1,000
byte-identical boilerplate docs — must not quadratically blow up the
pair-generating joins. The caps drop the hot shingles / hot LSH buckets
(identical docs are exact-dedup's job), the drop is audited (never
silent), and genuinely-near-duplicate pairs among normal docs are still
found."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazon_textract_enhancer_spark.operators.dedup import (
    _minhash_bands,
    _minhash_profile,
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    lsh_hot_buckets,
    shingle_df_dropped,
)

N_IDENTICAL = 1000
BOILER = "breaking news " + " ".join(f"boiler{i}" for i in range(30))
# two 50-token docs differing only in the last token → 3-gram jaccard
# 45/51 ≈ 0.88 ≥ 0.8 threshold
BASE = " ".join(f"tok{i}" for i in range(49))
NEAR_A = BASE + " alpha"
NEAR_B = BASE + " omega"


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory):
    rows = [(i, BOILER, "en", "boiler", len(BOILER)) for i in range(N_IDENTICAL)]
    rows.append((5001, NEAR_A, "en", "web", len(NEAR_A)))
    rows.append((5002, NEAR_B, "en", "web", len(NEAR_B)))
    rows.append((5003, "a totally different short document here today", "en", "web", 46))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    d = tmp_path_factory.mktemp("skewsf")
    df.coalesce(2).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_ngram_jaccard_cap_bounds_blowup(spark, skew_dir):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, skew_dir, df_cap=50).collect()
    }
    # the 1000 identical docs produce ZERO pairs here (their shingles are
    # over-cap) — without the cap this join emits ~500k pairs per shingle
    assert all(a >= 5001 for a, _ in got)
    assert (5001, 5002) in got and got[(5001, 5002)] >= 0.8


def test_ngram_drop_is_audited(spark, skew_dir):
    docs = spark.read.parquet(f"{skew_dir}/documents.parquet")
    dropped = shingle_df_dropped(docs, df_cap=50).collect()
    assert len(dropped) > 0
    assert all(r["df"] == N_IDENTICAL for r in dropped)


def test_minhash_lsh_bucket_cap_bounds_blowup(spark, skew_dir):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash_lsh(spark, skew_dir, bucket_cap=50).collect()
    }
    assert all(a >= 5001 for a, _ in got)
    # every surviving pair is exact-verified — jaccard really >= 0.8
    assert all(j >= 0.8 for j in got.values())
    # the planted near-dup pair survives (banding found it on this corpus)
    assert (5001, 5002) in got


def test_lsh_hot_buckets_audit(spark, skew_dir):
    docs = spark.read.parquet(f"{skew_dir}/documents.parquet")
    # the banding dedup_minhash_lsh runs, over its own profile
    banded = _minhash_bands(_minhash_profile(docs), F.xxhash64)
    hot = lsh_hot_buckets(banded, bucket_cap=50).collect()
    # identical docs share identical signatures → one hot bucket per band
    assert len(hot) == 4
    assert all(r["n"] == N_IDENTICAL for r in hot)


def test_identical_docs_are_exact_dedups_job(spark, skew_dir):
    clusters = dedup_exact(spark, skew_dir).filter(F.col("n_dups") > 1).collect()
    assert len(clusters) == 1 and clusters[0]["n_dups"] == N_IDENTICAL


def test_simhash_pairs_hamming_probe_and_cap(spark, skew_dir):
    """SimHash pair mining: 64-bit banded candidates find near-dup
    pairs, exact Jaccard verification kills fingerprint coincidences,
    and the hot-band-bucket cap drops the identical-doc flood."""
    from amazon_textract_enhancer_spark.operators.dedup import dedup_simhash_pairs

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_simhash_pairs(spark, skew_dir, bucket_cap=50).collect()
    }
    # identical boilerplate docs are over-cap -> no pairs among them
    assert all(a >= 5001 for a, _ in got)
    # every emitted pair is exactly verified
    assert all(j >= 0.8 for j in got.values())


def test_connected_components_transitive_clusters(spark, tmp_path_factory):
    """Cluster resolution is transitive: A~B and B~C (each >= 0.8) with
    A!~C (< 0.8) must land in ONE cluster keyed by min doc_id; disjoint
    pairs form their own cluster; docs with no near-dup never appear."""
    from amazon_textract_enhancer_spark.operators.dedup import dedup_components

    base = [f"t{i}" for i in range(49)]
    A = " ".join(base + ["alpha"])
    B = " ".join(base + ["omega"])          # ~A (differ last token)
    C = " ".join(["zeta"] + base[1:] + ["omega"])  # ~B (differ first), !~A
    D = " ".join(f"d{i}" for i in range(50))
    E = " ".join(f"d{i}" for i in range(49)) + " dx"  # ~D
    F_ = " ".join(f"f{i}" for i in range(50))  # isolated
    rows = [(1, A), (2, B), (3, C), (10, D), (11, E), (20, F_)]
    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    d = tmp_path_factory.mktemp("ccsf")
    df.write.parquet(str(d / "documents.parquet"))

    got = {r["keep_id"]: (r["n_docs"], r["members"])
           for r in dedup_components(spark, str(d)).collect()}
    assert got == {1: (3, "1,2,3"), 10: (2, "10,11")}


def test_incremental_dedup_verdicts(spark):
    """Incremental ingest dedup: every planted clone must come back
    'exact' pointing at its source; near matches must clear the
    threshold against an EXISTING doc; new-batch ids never appear as
    matched_id (new-vs-new is out of scope by design)."""
    from amazon_textract_enhancer_spark.operators.dedup import (
        INCR_CLONE_OFFSET,
        JACCARD_THRESHOLD,
        dedup_incremental,
    )

    rows = dedup_incremental(spark, "/root/testdata/sf0.01").collect()
    by_verdict = {}
    for r in rows:
        by_verdict.setdefault(r["verdict"], []).append(r)
    assert set(by_verdict) == {"exact", "near", "unique"}
    for r in by_verdict["exact"]:
        assert r["doc_id"] >= INCR_CLONE_OFFSET
        assert r["matched_id"] == r["doc_id"] - INCR_CLONE_OFFSET
        assert r["jaccard"] is None
    new_ids = {r["doc_id"] for r in rows}
    for r in by_verdict["near"]:
        assert r["jaccard"] >= JACCARD_THRESHOLD
        assert r["matched_id"] not in new_ids  # matched an EXISTING doc
    for r in by_verdict["unique"]:
        assert r["matched_id"] is None and r["jaccard"] is None


def test_minhash_portable_sound_and_high_recall_vs_exact(spark):
    """The portable (md5-hash) MinHash chain: every emitted pair is a
    TRUE >= 0.8 Jaccard pair (the verify is exact, so zero false
    positives regardless of banding luck), and recall vs the exact
    n-gram operator clears the banding expectation (P(candidate) ~ 0.86
    at j=0.8 and ~1 at the fixture's planted j>=0.9)."""
    from amazon_textract_enhancer_spark.operators.dedup import (
        dedup_minhash_portable,
        dedup_ngram_jaccard,
    )

    sf = "/root/testdata/sf0.01"
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, sf).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash_portable(spark, sf).collect()
    }
    assert set(got) <= set(exact)          # sound: exact-verified
    for k, j in got.items():
        assert j == exact[k]               # same Jaccard values
    assert len(got) >= 0.8 * len(exact), (len(got), len(exact))


def test_simhash_portable_banding_is_pigeonhole_complete(spark):
    """The Manku guarantee under test: C(6,3) block-combination probing
    finds EVERY pair at hamming <= 3 (two 60-bit prints differing in
    <= 3 bits agree on >= 3 of 6 blocks, so some probed combination
    collides) — verified against a banding-free brute-force self-join
    of the same fingerprints. (High-Jaccard does NOT imply low hamming
    on short docs — simhash majorities are noisy at ~50 tokens — so
    completeness, not Jaccard recall, is the honest contract.)"""
    import pyspark.sql.functions as F

    from amazon_textract_enhancer_spark.operators import dedup as D
    from amazon_textract_enhancer_spark.operators import serving

    sf = "/root/testdata/sf0.01"
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.dedup_simhash_portable(spark, sf).collect()
    }
    # brute force: same md5-60bit fingerprints, NO banding
    docs = D.t(spark, sf, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), serving.TOKEN_PATTERN)
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select("doc_id", D._md5_hash60(F.col("tok"), "t").alias("h"))
    )
    sums_sql = ", ".join(
        f"sum(shiftrightunsigned(h, {b}) & 1L)" for b in range(D.PSIM_BITS)
    )
    agg = toks.groupBy("doc_id").agg(
        F.expr(f"array({sums_sql})").alias("bs"),
        F.count(F.lit(1)).alias("n"),
    )
    fp_expr = F.expr(
        f"aggregate(zip_with(bs, sequence(0, {D.PSIM_BITS - 1}), "
        "(s, b) -> if(2 * s > n, shiftleft(1L, b), 0L)), "
        "0L, (acc, x) -> acc | x)"
    )
    fp = agg.select("doc_id", fp_expr.alias("fp"))
    a, b = fp.alias("a"), fp.alias("b")
    brute = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= D.PSIM_HAMMING_MAX)
        .collect()
    }
    assert brute, "fixture should contain hamming <= 3 pairs"
    assert got == brute
