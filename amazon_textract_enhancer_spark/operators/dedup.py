"""Deduplication operators for a large-scale training-data pipeline.

Exact (hash groupBy), n-gram Jaccard (shingle equi-join — fully
relational, oracle-checked), MinHash+LSH (shingle→minhash→band→
bucket-join, ALL Spark built-ins, no UDF), SimHash (bitwise majority
over token hashes).

The five hash-based near-dup miners (``dedup_minhash_lsh``,
``dedup_minhash_portable``, ``dedup_simhash``, ``dedup_simhash_pairs``,
``dedup_simhash_portable``) differ only in their hash family and
geometry; each states those and composes the same candidate-and-verify
steps, every one written once here:

- ``_hot_keys`` — the ``groupBy(keys).count > cap`` skew list (behind
  ``lsh_hot_buckets``, ``shingle_df_dropped`` and the incremental
  existing-side shingle cap);
- ``_band_pairs`` — the broadcast hot-bucket anti-join plus the
  ``(band, bucket)`` self-join on ``a.doc_id < b.doc_id``;
- ``_minhash_bands`` — the one-explode LSH banding of a minhash
  profile, with the bucket expression as an argument;
- ``_verify_jaccard`` / ``_jaccard_at_least`` — the profile
  ``array_intersect`` verify and the rounded Jaccard ratio with its
  threshold filter (also used by ``dedup_ngram_jaccard`` and
  ``dedup_incremental``);
- ``_majority_fp`` / ``_manku_keys`` / ``_hamming_pairs`` — the SimHash
  bitwise-majority fingerprint over ``(doc_id, h)``, the Manku
  block-combination keys and the hamming-verified band pairs, each with
  its geometry as arguments;
- ``_clusters`` / ``_ngram_labels`` — cluster rows from CC labels and
  the n-gram-Jaccard → ``connected_components`` labels.

The DuckDB twins of the ``*_portable`` miners replay the whole chain
independently, so they pin exactly the plumbing the fast miners run.

Scale notes (100 TB): every step is expression-level (whole-stage
codegen) — shingling via transform/sequence, hashing via xxhash64.
The only shuffles are the groupBys/joins on (shingle|band|fingerprint),
which are the minimal theoretical data movement for these algorithms.

Skew discipline (VERDICT r1): both pair-generating joins are capped —
a shingle shared by d documents emits d² pairs, so (a) the raw-shingle
equi-join drops shingles with document frequency > SHINGLE_DF_CAP and
(b) the LSH band join drops (band, bucket) groups larger than
BAND_BUCKET_CAP. The hot lists are by definition tiny, so the caps are
broadcast anti-joins (no extra shuffle of the big side). Dropped volume
is never silent: ``shingle_df_dropped`` / ``lsh_hot_buckets`` report it,
and the caps default far above anything the sf≤0.1 fixtures produce, so
oracle parity is unaffected while a boilerplate-heavy corpus at scale
stays sub-quadratic (standard MinHashLSH practice; ultra-common
shingles carry no near-dup signal — identical docs are exact-dedup's
job). Caching: no ``.cache()`` here — the registry sweep runs ~70
queries in one session and executor-cache accumulation is a leak; the
shingle subplan is recomputed (map-side cheap) and at production scale
would instead be committed once via TableIO (two-phase, like the IVF
index build).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .io_util import materialize, overlap, t
from .relational import ordered_concat
from .serving import kgram_array, kgrams, split_terms, terms, tokenize

N_MINHASH = 16  # signature length
N_BANDS = 4  # 4 bands x 4 rows: P(candidate) = 1-(1-j^4)^4
JACCARD_THRESHOLD = 0.8
SHINGLE_DF_CAP = 1000  # max docs sharing a shingle before it is dropped
BAND_BUCKET_CAP = 500  # max docs in one LSH band bucket before it is dropped


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint groupBy; keeper = min(doc_id).
    One shuffle on the fingerprint."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def _shingles_raw(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, shingle) WITH within-document duplicates — the pure
    map-side explode (whole-stage codegen; a higher-order ``transform``
    form was tried and runs ~8× slower interpreted). Consumers that are
    duplicate-insensitive (min-aggregates) or that dedup inside their
    OWN aggregation (collect_set) read this and save a full shuffle:
    the r5 perf fix — ``_shingles``'s global ``distinct`` exchanged the
    entire (doc_id, shingle) stream once BEFORE the consumer's
    aggregation exchanged it again (VERDICT r4: ~2× warm regression on
    the dedup headliners)."""
    base = df.select("doc_id", split_terms(text_col).alias("L"))
    rows, parts = kgrams(base.filter(F.size("L") >= k), k, ["doc_id"])
    return rows.select("doc_id", F.concat_ws(" ", *parts).alias("shingle"))


def _shingle_hash_array(k: int = 3):
    """In-row expression: the DISTINCT int64 shingle-hash array of the
    bound token array ``L`` of one document (r6, guide §2.3/§2.4). A
    document is ONE source row, so its shingle set — and therefore its
    set size and any per-document aggregate of it — needs no shuffle
    at all: ``array_distinct`` over ``kgram_array`` replaces the
    explode → groupBy(doc_id) round-trip. Hash values are
    byte-identical to the ``kgrams`` posting-list keys of
    ``dedup_ngram_jaccard`` (same xxhash64 over the same k token
    columns), so consumers see the same sets. Contract (bound ``L``,
    caller filters rows with fewer than k tokens) is ``kgram_array``'s."""
    return F.array_distinct(kgram_array(k, lambda parts: F.xxhash64(*parts)))


def _shingles(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct k-token shingles, pure expressions.
    Costs one dedup exchange; prefer ``_shingles_raw`` + set-aggregation
    where the consumer can absorb duplicates."""
    return _shingles_raw(df, text_col, k).distinct()


def _hot_keys(df: DataFrame, keys: list[str], cap: int, n: str) -> DataFrame:
    """(*keys, n) groups with more than ``cap`` rows — the skew list of
    a pair-generating join. Tiny by construction (partial aggregation
    map-side), so it is safe to broadcast."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(n))
        .filter(F.col(n) > cap)
    )


def shingle_df_dropped(docs: DataFrame, df_cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Audit view of the cap: (shingle, df) rows that the pair join
    drops. Pipelines log this count — truncation is never silent."""
    return _hot_keys(_shingles(docs), ["shingle"], df_cap, "df")


def lsh_hot_buckets(banded: DataFrame, bucket_cap: int = BAND_BUCKET_CAP) -> DataFrame:
    """(band, bucket, n) groups larger than the cap — the audit view of
    what the band join drops. Tiny by construction; broadcastable."""
    return _hot_keys(banded, ["band", "bucket"], bucket_cap, "n")


def _band_pairs(banded: DataFrame, bucket_cap: int, *extra: Column) -> DataFrame:
    """(doc_a, doc_b, *extra) — the capped band self-join of a
    (doc_id, band, bucket, …) table: (band, bucket) groups larger than
    ``bucket_cap`` are dropped via a broadcast anti-join BEFORE the
    self-join (one hot bucket of identical boilerplate otherwise emits
    |bucket|² candidate rows; identical docs are exact-dedup's job;
    ``lsh_hot_buckets`` audits the drop), then every same-bucket pair is
    emitted once per shared band, oriented doc_a < doc_b. ``extra`` are
    pair columns over the ``a``/``b`` sides; callers dedup across
    bands."""
    kept = banded.join(
        F.broadcast(lsh_hot_buckets(banded, bucket_cap).select("band", "bucket")),
        ["band", "bucket"],
        "left_anti",
    )
    a = kept.alias("a")
    b = kept.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"), *extra)


def _jaccard_at_least(df: DataFrame, keys: list[str], i: Column,
                      sz_a: str, sz_b: str) -> DataFrame:
    """(*keys, jaccard) rows of ``df`` whose Jaccard |A∩B| / |A∪B| =
    i / (sz_a + sz_b - i), rounded to 4 places (the DuckDB twins round
    the same way), is at least JACCARD_THRESHOLD."""
    a, b = F.col(sz_a), F.col(sz_b)
    return df.select(*keys, F.round(i / (a + b - i), 4).alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def _verify_jaccard(candidates: DataFrame, prof: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact verify of candidate pairs over a
    (doc_id, hs, sz) profile of per-doc sorted shingle-hash sets: the
    intersection is ``size(array_intersect(hs_a, hs_b))``, an
    expression over the two candidates' own hash sets, never a
    corpus-wide shingle re-join."""

    def side(s: str) -> DataFrame:
        return prof.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("hs").alias(f"hs_{s}"),
            F.col("sz").alias(f"sz_{s}"),
        )

    i = F.size(F.array_intersect("hs_a", "hs_b"))
    return _jaccard_at_least(
        candidates.join(side("a"), "doc_a").join(side("b"), "doc_b"),
        ["doc_a", "doc_b"], i, "sz_a", "sz_b",
    )


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, *, df_cap: int = SHINGLE_DF_CAP
) -> DataFrame:
    """Near-dup by 3-gram shingle Jaccard, fully relational (DuckDB
    oracle twin exists): inverted shingle index → within-posting-list
    pair explosion → intersection counts → |A∩B| / (|A|+|B|-|A∩B|)
    >= 0.8. Disjoint documents never pair up.

    Plan shape (one shingle scan, VERDICT r1 perf fix): group shingles
    once into posting lists (shingle → [doc_id…]); document sizes and
    candidate pairs BOTH derive from that grouped exchange (Catalyst
    ReusedExchange), instead of four independent re-shinglings + a
    corpus-wide self-join. Pair emission per shingle is bounded by the
    skew cap: posting lists longer than df_cap are dropped (a shingle
    shared by d docs emits d(d-1)/2 pairs — boilerplate shingles at
    corpus scale are the classic quadratic blowup, and they carry no
    near-dup signal). Sizes are computed over the FULL posting lists so
    the Jaccard denominator stays exact for every surviving pair. At
    10^12-row scale the posting-list array for a mega-hot shingle is
    itself the skew risk — there the hot list comes from a committed
    shingle-DF stats table and is anti-joined BEFORE grouping; the
    in-query form accepts the bounded array (fixture max df << cap).

    ORACLE-PARITY CONTRACT (ADVICE r2): the DuckDB twin has NO df cap,
    so parity holds only while the fixture's max shingle df stays far
    below SHINGLE_DF_CAP — tests/test_simhash64.py pins a 10x margin so
    a testdata change cannot silently break the hash compare. Note also
    that the cap interacts with the Jaccard denominator: sizes come
    from FULL posting lists while intersections only see under-cap
    shingles, so a pair sharing many over-cap shingles would be
    UNDERCOUNTED (conservative: drops, never fabricates) — by design,
    since ultra-common shingles carry no near-dup signal."""
    docs = t(spark, sf_dir, "documents")
    # r5 perf fix: group the RAW shingle stream and dedup inside the
    # aggregation (collect_set ≡ collect_list over pre-distinct rows):
    # one exchange instead of distinct + groupBy — the map-side partial
    # set also dedups before anything ships. r5b: the index never reads
    # shingle text back, so the key is the map-side int64 hash — the
    # one exchange ships 8-byte longs, not shingle strings; the
    # collision bound is this query's row of SCALE.md's approximation
    # register.
    #
    # r6 restructure (guide §2.3/§2.4, OPTIMIZATION_r06.md): the r5
    # shape branched the posting-list aggregation into a sizes branch
    # and a pair branch and re-joined sizes twice at the end; Catalyst
    # column pruning specialized each branch's aggregate, ReusedExchange
    # never fired, and the executed plan scanned + re-shingled the
    # corpus THREE times (measured: 3 parquet scans, 6 exchanges,
    # 2.8s median at sf0.1). This form is one LINEAR chain — a document
    # is one source row, so its distinct shingle set AND its set size
    # are in-row map-side expressions (``_shingle_hash_array``; no
    # doc_id shuffle exists at all), the size rides INSIDE the
    # posting-list elements, and the Jaccard denominator needs no join:
    # scan once → in-row size + codegen hash-stream explode → posting
    # lists of (doc_id, sz) structs (shuffle by shingle hash; map-side
    # partial collect_set dedups before anything ships) → capped pair
    # explosion → pair counts (shuffle by pair). 1 scan, 2 exchanges,
    # 0 joins — also the 10^12-row shape, where the old per-doc-size
    # join sides are far beyond broadcast range.
    #
    # NB (r6, measured 9.8s regression before this shape): do NOT
    # explode the in-row distinct array itself — InferFiltersFromGenerate
    # adds isnotnull/size>0 on the generator input and predicate
    # pushdown substitutes the aliases all the way down, inlining the
    # split() INSIDE the interpreted lambda (re-evaluated per element,
    # O(tokens²) per row). Exploding the cheap sequence() keeps the
    # Generate codegen'd; only the scalar ``sz`` uses the in-row array.
    sized = (
        docs.select("doc_id", split_terms("text").alias("L"))
        .filter(F.size("L") >= 3)
        .select("doc_id", F.size(_shingle_hash_array()).alias("sz"), "L")
    )
    rows, parts = kgrams(sized, 3, ["doc_id", "sz"])
    posting = (
        rows.select("doc_id", "sz", F.xxhash64(*parts).alias("sh"))
        .groupBy("sh")
        .agg(F.collect_set(F.struct("doc_id", "sz")).alias("ids"))
    )
    # (A slice-based i<j combination enumeration — half the generated
    # rows, no a<b filter — was A/B-measured marginally SLOWER than
    # this double explode: the per-position slice() allocation costs
    # more than the discarded half-pairs. Kept the simple form.)
    kept = posting.filter(F.size("ids") <= df_cap)
    pairs = (
        kept.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    inter = pairs.groupBy(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.sz").alias("sz_a"),
        F.col("b.sz").alias("sz_b"),
    ).agg(F.count(F.lit(1)).alias("i"))
    return _jaccard_at_least(inter, ["doc_a", "doc_b"], F.col("i"), "sz_a", "sz_b")


def _shingle_profile(docs: DataFrame, *aggs: Column) -> DataFrame:
    """(doc_id, *aggs, hs, sz) — the verify profile of ``_verify_jaccard``:
    ONE groupBy(doc_id) over the raw shingle stream (collect_set dedups
    in the aggregation, no ``distinct`` exchange) computes ``aggs``, the
    sorted shingle-hash set and its size."""
    return _shingles_raw(docs).groupBy("doc_id").agg(
        *aggs, F.sort_array(F.collect_set(F.xxhash64("shingle"))).alias("hs"),
    ).withColumn("sz", F.size("hs"))


def _minhash_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h15, hs, sz) — ``dedup_minhash_lsh``'s xxhash64
    family: the 16 seeded minima ride in the shingle profile's one
    groupBy."""
    return _shingle_profile(docs, *[
        F.min(F.xxhash64(F.col("shingle"), F.lit(s))).alias(f"h{s}")
        for s in range(N_MINHASH)
    ])


def _minhash_bands(prof: DataFrame, bucket_of) -> DataFrame:
    """(doc_id, band, bucket) — LSH banding of a (doc_id, h0..h15)
    minhash profile into N_BANDS bands of N_MINHASH // N_BANDS rows:
    ONE explode over N_BANDS in-row structs (a per-band union re-runs
    the profile once per branch). ``bucket_of(*band_cols)`` is the
    hash family's bucket key."""
    rpb = N_MINHASH // N_BANDS
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            bucket_of(*[F.col(f"h{band * rpb + r}") for r in range(rpb)]).alias("bucket"),
        )
        for band in range(N_BANDS)
    ]
    return prof.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _minhash_lsh(prof: DataFrame, label: str, bucket_of, bucket_cap: int) -> DataFrame:
    """(doc_a, doc_b, jaccard) — the MinHash chain over a (doc_id,
    h0..h15, hs, sz) profile: materialize it once (label ``label``),
    band it, cap and self-join the band buckets, dedup the candidates
    across bands and verify them exactly against the profile."""
    prof = materialize(prof, label)
    candidates = _band_pairs(_minhash_bands(prof, bucket_of), bucket_cap).distinct()
    return _verify_jaccard(candidates, prof)


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, *, bucket_cap: int = BAND_BUCKET_CAP
) -> DataFrame:
    """MinHash + LSH banding (✂ rows-only: hash functions are engine-
    specific). Pipeline: shingle → 16-way minhash signature → 4 bands of
    4 rows → band-bucket equi-join → candidate pairs → exact Jaccard
    verify >= 0.8. At 10^12 scale the band join replaces the O(n^2)
    pair space with bucket-local pairs.

    Candidate recall at 4×4 bands: P(candidate) = 1-(1-j^4)^4 ≈ 0.86 at
    j=0.8 (rises steeply: 0.97 at j=0.9, 0.999+ at j=0.95) — the
    documented trade of banding; tests/test_skew_whale.py pins observed
    recall vs the exact path on the fixture corpus.

    Plan shape: ONE groupBy(doc_id) over the raw shingle stream (r5:
    min() is duplicate-insensitive and collect_set dedups in-agg, so
    the old pre-distinct exchange is gone — measured 3.0→1.9s median
    at sf0.1) computes the 16 minhash minima AND the sorted
    shingle-hash set AND the set size per document ("profile"); the
    verify intersection is ``size(array_intersect(hs_a, hs_b))`` — an
    expression over the two candidate documents' own hash sets, not a
    corpus-wide shingle re-join (at r1 the verify re-joined the full
    shingle table twice — 47% of the whole bench suite). 64-bit
    shingle hashing makes a false intersection hit ~k²/2⁶⁵ —
    negligible. Column pruning specializes the profile per consumer
    (banding reads minima, verify reads hs/sz), so Catalyst recomputes
    the pruned aggregation per branch — cheaper than a checkpoint at
    fixture scale (measured). At 10^12 rows the profile is a COMMITTED
    signature table (one scan, reused by every query — the
    fixture_tokens discipline), never recomputed in-query.

    Skew caps (VERDICT r1): (band, bucket) groups larger than bucket_cap
    are dropped via a broadcast anti-join BEFORE the self-join — one hot
    bucket of identical boilerplate otherwise emits |bucket|² candidate
    rows (identical docs are exact-dedup's job); ``lsh_hot_buckets``
    audits the drop."""
    # r5 perf fix ×2: (1) aggregate the RAW shingle stream — min() is
    # duplicate-insensitive and collect_set dedups in the aggregation,
    # so the old pre-distinct exchange bought nothing (one shuffle, not
    # two); (2) band via ONE array-explode pass instead of a 4-way
    # union (which re-runs the final aggregation once per band).
    # r6 (guide §2.4, §5 caching): the profile feeds FIVE consumers
    # (banding → hot-bucket audit + anti-join side, the self-join's two
    # candidate sides, and the two verify profile joins); Catalyst
    # column pruning specializes each branch's aggregate so
    # ReusedExchange never fires and the executed r5 plan scanned +
    # re-shingled + re-aggregated the corpus SIX times (measured: 6
    # parquet scans, 8 exchanges, 2.3s median at sf0.1). One eager
    # localCheckpoint materializes the signature table once per
    # invocation — the in-query analog of the committed signature table
    # this docstring already prescribes at 10^12 rows (and what the
    # production pipeline does via TableIO). Nothing persists across
    # invocations: each call recomputes the checkpoint from the parquet
    # input. Downstream join strategy is left to AQE, which sees the
    # real (small) checkpoint sizes at runtime. (An all-in-row HOF
    # profile — 17 interpreted transform passes per row — was measured
    # SLOWER than this codegen explode + partially-aggregated groupBy,
    # whose exchange ships one complete buffer per doc, not the raw
    # stream; see OPTIMIZATION_r06.md.)
    prof = _minhash_profile(t(spark, sf_dir, "documents"))
    return _minhash_lsh(prof, "dedup_minhash_lsh:profile", F.xxhash64, bucket_cap)


# 64-bit SimHash (VERDICT r2 item 3: the r2 16-bit space held only
# 65,536 fingerprints — degenerate beyond ~10^7 docs). Candidate
# generation is Manku-style block-combination probing (Manku, Jain &
# Das Sarma, WWW'07 — VERDICT r3 item 4): the fingerprint splits into
# SIMHASH_BLOCKS = 8 disjoint 8-bit blocks, and each doc is keyed by
# every C(8,4) = 70 combination of 4 block values — a 32-bit key per
# combination. Pigeonhole: <= (8 - 4) = 4 flipped bits touch <= 4
# blocks, leaving >= 4 blocks intact, so at least one 4-combination
# matches EXACTLY for every pair within hamming 4 — close pairs are
# found with certainty (the guarantee radius exceeds the cluster
# verify radius SIMHASH_HAMMING_MAX = 3, so verified output is
# probe-scheme independent). The r3 scheme (4 bands of 16 bits) had a
# 2^16 bucket keyspace per band: beyond n ≈ cap·2^16 ≈ 3×10^7 docs the
# AVERAGE bucket tripped BAND_BUCKET_CAP and recall collapsed to
# audited-zero. The 32-bit keyspace saturates at cap·2^32 ≈ 2×10^12
# docs; a corpus past that sets SIMHASH_PROBE_BLOCKS = 5 below
# (C(8,5)=56 probes, 40-bit keys, ceiling 5×10^14, guarantee radius
# 3), the geometry simhash_banded passes to _manku_keys. Cost: 70
# narrow rows/doc instead of 4 (the standard Manku space-for-guarantee
# trade); hot (band, bucket) groups are capped + audited exactly like
# LSH.
SIMHASH_BITS = 64
SIMHASH_BLOCKS = 8
SIMHASH_HAMMING_MAX = 3  # cluster-form verify radius
SIMHASH_PROBE_BLOCKS = 4  # guarantee radius = BLOCKS - PROBE_BLOCKS = 4
# loose exact-hamming pre-filter for the jaccard-verified pairs path
# (VERDICT r3 item 3): a recall/cost knob, NOT a correctness bound —
# near-dups at jaccard >= 0.8 sit at hamming <= ~6 on 64-bit simhash,
# far inside 12, while raw band collisions (hamming up to ~40) pay an
# array_intersect over full shingle sets each; the pre-filter cuts the
# verify set ~100x (232k -> ~2k at sf0.1).
SIMHASH_PAIRS_PREFILTER = 12


def _majority_fp(toks: DataFrame, bits: int) -> DataFrame:
    """(doc_id, simhash) — ``bits``-bit bitwise-majority fingerprint of
    a (doc_id, h) token-hash stream, expression-only (bits x bit-count
    sums).

    Majority bit b is (2 * ones_b > n_tokens) — bit 1 iff strictly
    more ones than zeros, ties -> 0. The per-bit sums build as ONE
    SQL string parsed JVM-side: constructing 64 aggregate Columns
    through the Python API costs ~2.7s of py4j round trips PER QUERY
    CONSTRUCTION (measured, r4) — pure driver-side overhead that
    re-occurs every time the query is planned; a single F.expr parse
    is milliseconds. Reconstruction folds the ones-count array with a
    higher-order aggregate (shiftleft's shift amount can be a column
    in SQL, unlike the Python API). shiftleft(1L, 63) wraps to
    Long.MIN_VALUE on the JVM — exactly the sign-bit mask we want."""
    sums_sql = ", ".join(
        f"sum(shiftrightunsigned(h, {b}) & 1L)" for b in range(bits)
    )
    agg = toks.groupBy("doc_id").agg(
        F.expr(f"array({sums_sql})").alias("bs"),
        F.count(F.lit(1)).alias("n"),
    )
    fp = F.expr(
        f"aggregate(zip_with(bs, sequence(0, {bits - 1}), "
        "(s, b) -> if(2 * s > n, shiftleft(1L, b), 0L)), "
        "0L, (acc, x) -> acc | x)"
    )
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — the 64-bit fingerprint over token xxhash64
    values."""
    toks = tokenize(docs, "text", ["doc_id"]).select(
        "doc_id", F.xxhash64("term").alias("h")
    )
    return _majority_fp(toks, SIMHASH_BITS)


def _manku_keys(fp: DataFrame, bits: int, n_blocks: int, probe: int) -> DataFrame:
    """(doc_id, simhash, band, bucket) — Manku block-combination keys
    of a ``bits``-bit fingerprint split into ``n_blocks`` disjoint
    blocks: ``band`` indexes one of the C(n_blocks, probe) combinations
    (itertools order), ``bucket`` is that combination's concatenated
    block values (a ``probe * block_bits``-bit integer). Column names
    kept from the r3 banding so the hot-bucket audit and the pair
    self-join are scheme-agnostic.

    The combination table is a LITERAL array column walked with
    higher-order functions (transform + aggregate fold into a
    base-2^block_bits key) instead of 70 unrolled struct expressions:
    the unrolled form's 1000+-node tree cost ~2.3s of fixed
    analysis/codegen per query REGARDLESS of data size (measured at
    n=50 == n=5000); the HOF form plans in milliseconds and evaluates
    the same fold per row."""
    block_bits = bits // n_blocks
    mask = F.lit((1 << block_bits) - 1).cast("long")
    radix = F.lit(1 << block_bits).cast("long")
    blocks = F.array(*[
        F.shiftrightunsigned("simhash", i * block_bits).bitwiseAND(mask)
        for i in range(n_blocks)
    ])
    combos_lit = F.array(*[
        F.array(*[F.lit(b) for b in combo])
        for combo in combinations(range(n_blocks), probe)
    ])
    with_blocks = fp.select(
        "doc_id", "simhash", blocks.alias("blk"), combos_lit.alias("combos")
    )
    # one key per combination: fold the combo's block values into a
    # base-2^block_bits integer (order is fixed per combo, so equal
    # keys <=> equal block values — the same candidate semantics as
    # bit concatenation)
    keys = F.transform(
        "combos",
        lambda c: F.aggregate(
            c,
            F.lit(0).cast("long"),
            lambda acc, b: acc * radix + F.element_at(F.col("blk"), b + 1),
        ),
    )
    return with_blocks.select(
        "doc_id", "simhash", F.posexplode(keys).alias("band", "bucket")
    ).select(
        "doc_id", "simhash", F.col("band").cast("int").alias("band"), "bucket"
    )


def simhash_banded(fp: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, bucket) — the 64-bit geometry: 8 blocks
    of 8 bits, C(8,4) = 70 probe keys of 32 bits each (see the module
    constants for the keyspace ceiling)."""
    return _manku_keys(fp, SIMHASH_BITS, SIMHASH_BLOCKS, SIMHASH_PROBE_BLOCKS)


def _hamming_pairs(banded: DataFrame, bucket_cap: int,
                   max_hamming: int | None) -> DataFrame:
    """(doc_a, doc_b, hamming) — capped band pairs of a
    ``_manku_keys`` table with their exact hamming distance (bit_count
    over xor), deduped across bands."""
    pairs = _band_pairs(
        banded, bucket_cap,
        F.bit_count(
            F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
        ).cast("int").alias("hamming"),
    )
    if max_hamming is not None:
        # hamming is a pure function of the pair, so filtering BEFORE
        # the cross-band dedup is semantically identical — and shrinks
        # the distinct's input from every band collision to just the
        # verified pairs (232k → ~500 on the sf0.1 fixture)
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs.distinct()


def simhash_candidates(fp: DataFrame, *, bucket_cap: int = BAND_BUCKET_CAP,
                       max_hamming: int | None = None) -> DataFrame:
    """(doc_a, doc_b, hamming) — banded candidate pairs with their exact
    hamming distance. Hot (band, bucket) groups are dropped from BOTH
    sides before the self-join (``_band_pairs``).

    The banded fingerprint table is materialized once: it feeds both
    the hot-bucket audit and the self-join, and recomputing it would
    re-run the full token scan + 64-bit majority aggregation twice. It
    is 70 narrow rows per doc — at corpus scale this is the fingerprint
    table a production pipeline commits (TableIO) between the
    fingerprint and pairing stages; in-plan materialization is the
    single-job equivalent."""
    banded = materialize(simhash_banded(fp), "simhash_candidates:banded")
    return _hamming_pairs(banded, bucket_cap, max_hamming)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """✂ SimHash near-dup CLUSTERS: 64-bit fingerprints → banded
    candidates → exact hamming verify (<= SIMHASH_HAMMING_MAX, the
    banding-guaranteed radius) → connected components → one cluster row
    (keep_id = min doc_id, sorted member list). This is the production
    simhash-dedup shape (Manku et al., WWW'07: fingerprint, band,
    hamming-verify, union) rather than the r2 exact-collision grouping,
    which at 64 bits would only ever catch byte-identical token
    streams."""
    fp = simhash_fingerprints(t(spark, sf_dir, "documents"))
    pairs = simhash_candidates(fp, max_hamming=SIMHASH_HAMMING_MAX)
    return _clusters(connected_components(pairs.select("doc_a", "doc_b")))


def dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, *, bucket_cap: int = BAND_BUCKET_CAP
) -> DataFrame:
    """✂ SimHash near-dup PAIRS: 64-bit block-probed candidates pass a
    loose exact-hamming pre-filter (<= SIMHASH_PAIRS_PREFILTER — bit
    arithmetic on the two longs already in the joined row, VERDICT r3
    item 3: skipping it made every raw collision pay a full-shingle
    array_intersect, 3x the rest of the bench combined), then EXACT
    3-gram shingle Jaccard verification via array_intersect over
    per-doc shingle-hash sets (``_shingle_profile``, the profile
    dedup_minhash_lsh extends with its minima), so every emitted pair
    is a true near-dup, not a fingerprint coincidence. Differs from
    dedup_simhash in the verify metric: this is the content-verified
    pair list (feeds the same CC resolution as the other pair miners);
    the cluster form verifies in hamming space only."""
    docs = t(spark, sf_dir, "documents")

    # r6 (guide §2.4, §2.6, §5): the verify profile feeds both sides —
    # without materialization the shingle scan + aggregation ran
    # twice (column pruning blocks ReusedExchange, as in the
    # minhash ops) — AND the candidate chain's banded checkpoint is
    # independent of it, so the two materialization jobs overlap
    # instead of running back-to-back.
    # Interleaved A/B at sf0.1: serial 2.31s → overlapped 1.73s median,
    # identical output.
    def _mk_cand():
        fp = simhash_fingerprints(docs)
        return simhash_candidates(
            fp, bucket_cap=bucket_cap, max_hamming=SIMHASH_PAIRS_PREFILTER
        ).select("doc_a", "doc_b")

    def _mk_prof():
        return materialize(_shingle_profile(docs), "dedup_simhash_pairs:profile")

    built = overlap({"candidates": _mk_cand, "profile": _mk_prof})
    return _verify_jaccard(built["candidates"], built["profile"])


def turn_dedup_within_conv(spans: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Within-conversation near-duplicate turn flagging (grouped-map
    applyInPandas — SURVEY.md §2.E UDF surface): consecutive turns with
    difflib ratio >= threshold are marked duplicates of their
    predecessor. Sequential per-group logic that SQL can't express
    cleanly; groups are conversations, so the shuffle key is conv_id
    and whale skew is bounded by per-turn text length, not turn count
    (the comparison window is 1).

    Output: (conv_id, turn_idx, dup_of_prev boolean, sim double).
    """
    import difflib

    import pandas as pd

    def per_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        texts = pdf["extracted_text"].fillna("").tolist()
        sims, dups = [], []
        prev = None
        for t in texts:
            if prev is None or not prev or not t:
                sims.append(0.0)
                dups.append(False)
            else:
                s = difflib.SequenceMatcher(None, prev, t).ratio()
                sims.append(round(s, 4))
                dups.append(s >= threshold)
            prev = t
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"],
                "turn_idx": pdf["turn_idx"],
                "dup_of_prev": dups,
                "sim": sims,
            }
        )

    return spans.select("conv_id", "turn_idx", "extracted_text").groupBy(
        "conv_id"
    ).applyInPandas(per_conv, "conv_id string, turn_idx int, dup_of_prev boolean, sim double")


SMALL_GRAPH_EDGES = 10_000_000


def _cc_union_find_one_task(both: DataFrame) -> DataFrame:
    """Exact union-find over the whole edge list in ONE task: all edges
    share a constant group key, so grouped-map applyInPandas ships them
    to a single Arrow batch and the classic path-compressed union-find
    labels every vertex with its component minimum (union keeps the
    smaller root, so each tree's root IS the component min). This is
    the small-graph fast path behind ``connected_components``'s size
    gate — one Spark job instead of ~3 shuffle jobs per propagation
    round; the result is edge-order independent (labels are a pure
    function of the edge set), so it is deterministic under any
    partitioning of the input."""
    import pandas as pd

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # smaller root wins → root = component min
        ids = sorted(parent)
        return pd.DataFrame({"doc_id": ids, "label": [find(x) for x in ids]})

    return (
        both.select("doc_a", "doc_b")
        .withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(uf, "doc_id bigint, label bigint")
    )


def connected_components(
    edges: DataFrame,
    max_iters: int = 20,
    single_partition: bool | None = None,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
    strict: bool = True,
) -> DataFrame:
    """(doc_id, label) — connected components of an undirected pair
    graph via Pregel-style min-label propagation: every vertex starts
    labelled with itself; each round takes the min over its own and its
    neighbors' labels; fixpoint in <= graph-diameter rounds. Lineage is
    truncated per round (``materialize``) so the plan stays O(1) deep,
    and each round releases the previous round's labels;
    the convergence check is a metadata count, not a data collect. At
    corpus scale this is the standard label-propagation CC (the
    large-star/small-star optimization halves rounds on long chains —
    not needed at near-dup-cluster diameters, which are tiny).

    ``edges``: (doc_a, doc_b) pairs, any orientation.
    ``single_partition``: None (default) SIZE-GATES the choice on the
    materialized edge count (VERDICT r2 item 3: the r2 default was a
    hardcoded coalesce(1) — a serialization point waiting for a
    boilerplate-heavy corpus): below ``small_graph_edges`` the whole
    graph fits ONE task, so run exact union-find in a single
    grouped-map call (one job, no rounds — the iterative form costs
    ~3 shuffle jobs PER ROUND, which dwarfs the work on small graphs);
    at or above it, run the parallel iterative propagation. Pass
    True/False to force a path. Both paths produce identical labels
    (component-min; pinned by test_cc_multi_partition_equals_single).
    ``max_iters``/``strict`` apply to the ITERATIVE path only (the
    union-find path is exact in one shot): raise if the loop exhausts
    ``max_iters`` while labels are still changing — unconverged labels
    are split clusters, and truncation is never silent in this module
    (ADVICE r2).
    """
    # materialize the edge list ONCE: it is re-joined every round, and
    # leaving it lazy would re-run the (expensive) pair-mining plan per
    # iteration
    both = materialize(edges.select("doc_a", "doc_b").unionByName(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ), "connected_components:edges")
    if single_partition is None:
        # `both` holds two rows per undirected edge — halve before
        # comparing so the gate fires at the documented edge count
        single_partition = both.count() // 2 < small_graph_edges
    if single_partition:
        return _cc_union_find_one_task(both)
    # round_ck: the checkpoint `labels` reads, released by the next round
    labels = round_ck = materialize(
        both.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        "connected_components:labels",
    )
    changed = 0
    for _ in range(max_iters):
        neigh = (
            both.join(
                labels.select(
                    F.col("doc_id").alias("doc_b"), F.col("label").alias("nlabel")
                ),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nlabel").alias("min_neigh"))
            .select(F.col("doc_a").alias("doc_id"), "min_neigh")
        )
        # carry the previous label through the select so the
        # convergence check is a filter+count on the checkpointed
        # round output, not an extra join against the old labels
        round_ck = materialize(
            labels.join(neigh, "doc_id", "left").select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("min_neigh", F.col("label"))
                ).alias("label"),
                F.col("label").alias("prev_label"),
            ),
            "connected_components:labels",
            replaces=round_ck,
        )
        changed = round_ck.filter(
            F.col("label") != F.col("prev_label")
        ).count()
        labels = round_ck.select("doc_id", "label")
        if changed == 0:
            break
    if changed != 0 and strict:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — graph diameter exceeds "
            "max_iters; raise max_iters (or pass strict=False to accept "
            "partially merged clusters)"
        )
    return labels


def _clusters(labels: DataFrame) -> DataFrame:
    """(keep_id, n_docs, members) — one row per CC cluster of (doc_id,
    label) labels: keep_id is the cluster min, members the sorted ids
    joined by ','."""
    return labels.groupBy(F.col("label").alias("keep_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        # not ordered_concat: the ids themselves are the sort key
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
        ).alias("members"),
    )


def _ngram_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, label) — connected components of the 3-gram Jaccard
    near-dup pairs (``dedup_ngram_jaccard``)."""
    return connected_components(
        dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster resolution: near-dup pairs (3-gram Jaccard >= 0.8)
    → connected components → one keeper per cluster (min doc_id) with
    the sorted member list. The iterative Spark label propagation is
    oracle-checked against a DuckDB recursive-CTE transitive closure —
    the pipeline step that turns pairwise near-dup evidence into an
    actionable drop list."""
    return _clusters(_ngram_labels(spark, sf_dir))


INCR_CLONE_OFFSET = 1_000_000
INCR_EXISTING_PREFIX_LT = "c"  # md5 first hex < 'c' → ~3/4 existing


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingest dedup (★) — the production shape: a NEW
    batch is checked against the EXISTING corpus index only, never
    against itself (new-vs-new is the next batch's nightly CC job).
    Per new doc: 'exact' (content fingerprint hit; matched_id = min
    matching existing doc), else 'near' (3-gram Jaccard >= JACCARD_THRESHOLD
    vs an existing doc via the inverted shingle index; best match by
    jaccard desc, id asc), else 'unique'.

    Fixture split: existing = docs whose md5(doc_id) first hex < 'c'
    (~3/4); the new batch is the remaining quarter PLUS planted clones
    (every 50th existing doc re-identified at doc_id+1,000,000 with
    identical text — mirrored verbatim in the DuckDB twin) so the
    exact path has non-empty evidence at every sf.

    Plan shape: one fp equi-join (tiny), then shingle-index join of
    new-side shingles against existing-side postings — cost ∝ shared
    shingles, not |new|·|existing|; per-new-doc argmax is a window.
    The hot-shingle cap applies IN-QUERY exactly as in
    dedup_ngram_jaccard: shingles whose existing-side document
    frequency exceeds ``SHINGLE_DF_CAP`` are broadcast-anti-joined out
    of BOTH sides before the candidate join (a shingle shared by d_e
    existing and d_n new docs emits d_e·d_n candidate rows — the
    cross-batch form of the quadratic blowup), while Jaccard
    denominators use FULL per-doc shingle counts so surviving pairs
    stay exact. The capless DuckDB twin stays hash-equal because the
    fixture's max df is pinned at 10x below the cap
    (test_simhash64::test_fixture_shingle_df_far_below_cap). At corpus
    scale the existing side's fp and shingle tables are COMMITTED
    index tables (TableIO) maintained across batches."""
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    is_existing = (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        < INCR_EXISTING_PREFIX_LT
    )
    existing = docs.filter(is_existing).select("doc_id", "text")
    clones = existing.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + INCR_CLONE_OFFSET).alias("doc_id"), "text"
    )
    # r6 (guide §2.4, §2.6, §5): the r5 plan re-derived every shared
    # input per consumer — `new` (2 scans) feeds nfp/remaining/base, and
    # the existing-side shingle index feeds sizes, the hot list and the
    # candidate join — 25 parquet scans and repeated shingle
    # explode+distinct aggregations in the executed plan (4.3s at
    # sf0.1). The three multi-consumer intermediates now materialize
    # once per invocation; at corpus scale they are exactly the
    # COMMITTED batch/index tables the docstring already prescribes.
    # `new` and the existing-side shingle index are independent, so
    # their materialization jobs overlap.
    built = overlap({
        "new": lambda: materialize(
            docs.filter(~is_existing).select("doc_id", "text").unionByName(clones),
            "dedup_incremental:new",
        ),
        "existing_shingles": lambda: materialize(
            _shingles(existing).select(F.col("doc_id").alias("old_id"), "shingle"),
            "dedup_incremental:existing_shingles",
        ),
    })
    new, she = built["new"], built["existing_shingles"]

    efp = existing.select(F.col("doc_id").alias("old_id"),
                          F.md5("text").alias("fp"))
    nfp = new.select("doc_id", F.md5("text").alias("fp"))
    exact = (
        nfp.join(efp, "fp")
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("matched_id"))
    )

    remaining = new.join(exact.select("doc_id"), "doc_id", "left_anti")
    shn = materialize(_shingles(remaining).select("doc_id", "shingle"),
                      "dedup_incremental:new_shingles")
    # full-list sizes FIRST (exact denominators), then drop hot
    # shingles from both candidate sides
    sz_n = shn.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_n"))
    sz_e = she.groupBy("old_id").agg(F.count(F.lit(1)).alias("sz_e"))
    hot = F.broadcast(
        _hot_keys(she, ["shingle"], SHINGLE_DF_CAP, "df").select("shingle")
    )
    inter = (
        shn.join(hot, "shingle", "left_anti")
        .join(she.join(hot, "shingle", "left_anti"), "shingle")
        .groupBy("doc_id", "old_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = _jaccard_at_least(
        inter.join(sz_n, "doc_id").join(sz_e, "old_id"),
        ["doc_id", "old_id"], F.col("i"), "sz_n", "sz_e",
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("old_id").asc()
    )
    near = (
        jac.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("old_id").alias("matched_id"), "jaccard")
    )

    base = new.select("doc_id")
    out = (
        base.join(exact.withColumnRenamed("matched_id", "exact_id"),
                  "doc_id", "left")
        .join(near.withColumnRenamed("matched_id", "near_id"),
              "doc_id", "left")
    )
    verdict = (
        F.when(F.col("exact_id").isNotNull(), "exact")
        .when(F.col("near_id").isNotNull(), "near")
        .otherwise("unique")
    )
    return out.select(
        "doc_id",
        verdict.alias("verdict"),
        F.coalesce("exact_id", "near_id").alias("matched_id"),
        F.when(F.col("exact_id").isNull(), F.col("jaccard")).alias("jaccard"),
    )


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL step (★): apply the cluster drop list
    — every doc whose CC label is not itself is a duplicate of its
    cluster keeper and is anti-joined away; survivors are the training
    corpus. One broadcast anti-join against the (tiny) drop list; at
    10^12 rows the drop list is a committed table and this is a
    map-side bloom/anti join on the scan."""
    labels = _ngram_labels(spark, sf_dir)
    drops = labels.filter(F.col("doc_id") != F.col("label")).select("doc_id")
    docs = t(spark, sf_dir, "documents")
    return docs.join(F.broadcast(drops), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


HOLDOUT_HEX_LT = "2"  # md5 first hex digit < '2' → ~1/8 holdout


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/holdout split (★) — the eval-hygiene step
    after dedup clustering: the split unit is the NEAR-DUP CLUSTER,
    not the document, so two near-duplicates can never land on
    opposite sides of the split (the classic eval-contamination bug a
    doc-keyed random split ships silently). Docs in no cluster are
    their own singleton cluster; the holdout decision is
    md5(cluster) — content-free, reproducible, and shared by every
    member by construction.

    Plan shape at 10^12 docs: the labels table is the committed CC
    output (here recomputed in-query to stay self-contained, exactly
    like ``dedup_survivors``); assignment is one doc-keyed left join
    + a cluster-keyed window for the size audit. No driver traffic."""
    labels = _ngram_labels(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id")
    lab = docs.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster")
    split = F.when(
        F.substring(F.md5(F.col("cluster").cast("string")), 1, 1)
        < F.lit(HOLDOUT_HEX_LT),
        "holdout",
    ).otherwise("train")
    return lab.select(
        "doc_id",
        "cluster",
        F.count(F.lit(1)).over(w).cast("int").alias("cluster_size"),
        split.alias("split"),
    )


CDC_BOUNDARY_HEX = "0"  # md5 first hex == '0' → ~1/16 boundary rate


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup census (★) — the FastCDC/Rabin
    family's answer to shifted text, complementing the fixed-k
    ``dedup_repeated_spans``: chunk boundaries are HASH-GATED (a token
    opens a new chunk when md5(token) starts with '0', ~1/16 rate), so
    inserting a sentence shifts ONE chunk instead of every k-gram —
    identical downstream content re-aligns on the same boundaries and
    fingerprints equal. Output: chunk fingerprints appearing in >= 2
    distinct docs, with doc/occurrence counts — the shared-boilerplate
    census at chunk granularity.

    Plan shape at 10^12 docs: boundary flags and the running chunk
    index are ONE doc_id-keyed window over the exploded token stream
    (docs are short here; for book-length docs the cumsum runs inside
    a grouped-map per doc instead — same semantics, bounded memory);
    chunk assembly is ``ordered_concat`` per (doc, chunk); the census
    is one fingerprint-keyed agg — the repeated-spans shape, no pair
    join anywhere."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    stream = docs.select(
        "doc_id", F.posexplode(terms("text")).alias("pos", "w")
    ).withColumn(
        "is_boundary",
        (F.substring(F.md5("w"), 1, 1) == CDC_BOUNDARY_HEX).cast("int"),
    )
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    chunked = stream.withColumn(
        "chunk_idx", F.sum("is_boundary").over(wcum).cast("int")
    )
    chunks = chunked.groupBy("doc_id", "chunk_idx").agg(
        F.md5(ordered_concat(["pos"], "w", " ")).alias("chunk_fp"),
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
    )
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.countDistinct("doc_id").cast("int").alias("n_docs"),
            F.count(F.lit(1)).cast("int").alias("n_occurrences"),
            F.max("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("sample_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def _md5_hash60(col, seed) -> "F.Column":
    """Engine-portable 60-bit hash: the first 15 hex digits of
    md5('<seed>|' || value) as a BIGINT — identical in Spark
    (conv/substring) and DuckDB ('0x' || substr cast), unlike
    xxhash64, which only Spark implements."""
    tagged = F.concat(F.lit(f"{seed}|"), col)
    return F.conv(F.substring(F.md5(tagged), 1, 15), 16, 10).cast("long")


def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH with ENGINE-PORTABLE hashing (★) — the same
    pipeline as ``dedup_minhash_lsh`` (one-pass profile agg, 4x4
    banding, hot-bucket cap, exact set-intersection verify) but every
    hash is md5-derived, so the DuckDB twin replays the ENTIRE
    chain — signature minima, band buckets, candidate pairs, verify —
    and the driver value-hash pins it end to end. ``dedup_minhash_lsh``
    stays the production fast path (xxhash64 is far cheaper per
    shingle; its banding behavior is pinned rows-only + by the recall
    test); this operator is the correctness witness that the LSH
    machinery itself — not just its inputs — computes what the
    definition says. Band bucket = the concatenated 4 minima (a
    string key; at 10^12 docs the fast path's 64-bit rehash is the
    right key — documented difference).

    Hash family: ONE md5 per shingle splits into two 56-bit halves
    (A, B) and the 16 signature functions are h_s = (A + s*B) mod 2^56
    — the Kirsch-Mitzenmacher two-hash construction (their 2006
    "Less Hashing, Same Performance" result). 56 bits keeps s*B + A
    inside signed-64 range in both engines; the verify set reuses A
    directly. This cut the operator from 22.6s to a few seconds at
    sf0.1 — 17 md5 evaluations per shingle became one."""
    docs = t(spark, sf_dir, "documents")
    sh = _shingles(docs).select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 14), 16, 10)
        .cast("long").alias("ha"),
        F.conv(F.substring(F.md5("shingle"), 15, 14), 16, 10)
        .cast("long").alias("hb"),
    )
    m56 = F.lit(1 << 56).cast("long")
    prof = sh.groupBy("doc_id").agg(
        *[F.min(F.pmod(F.col("ha") + F.lit(s) * F.col("hb"), m56))
          .alias(f"h{s}") for s in range(N_MINHASH)],
        F.sort_array(F.collect_set("ha")).alias("hs"),
        F.count(F.lit(1)).alias("sz"),
    )
    # r6 (guide §2.4, §5): same two fixes as dedup_minhash_lsh — the
    # r5 plan re-ran the shingle scan + profile aggregation once per
    # band UNION branch plus once per verify side (measured: 18 parquet
    # scans, 28 exchanges, 2.9s at sf0.1). The profile materializes
    # once per invocation (the committed-signature-table analog) and
    # banding is ONE explode over 4 in-row structs instead of a 4-way
    # union; (band, bucket) values are unchanged.
    return _minhash_lsh(
        prof, "dedup_minhash_portable:profile",
        lambda *h: F.concat_ws("_", *[c.cast("string") for c in h]),
        BAND_BUCKET_CAP,
    )


# portable-simhash geometry: 60 bits (15 md5 hex digits — the widest
# width whose unsigned value still fits a signed 64-bit in BOTH
# engines), 6 blocks x 10 bits, probe C(6,3) = 20 combinations ->
# pigeonhole-exact for hamming <= 3
PSIM_BITS = 60
PSIM_BLOCKS = 6
PSIM_PROBE = 3
PSIM_HAMMING_MAX = 3


def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS with ENGINE-PORTABLE hashing (★) — the
    md5-60bit sibling of ``dedup_minhash_portable``: fingerprint
    (bitwise majority over ALL token occurrences, ties -> 0), Manku
    block-combination banding, hot-bucket cap, exact hamming verify
    (<= PSIM_HAMMING_MAX) — every stage replayed verbatim by the
    DuckDB twin, so the driver value-hash pins majority votes, block
    keys, candidate generation and the hamming verify. The 64-bit
    xxhash64 form (``dedup_simhash``/``dedup_simhash_pairs``) stays
    the production fast path; 60-vs-64 bits costs ~6% fingerprint
    resolution and nothing structural."""
    docs = t(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", ["doc_id"]).select(
        "doc_id", _md5_hash60(F.col("term"), "t").alias("h")
    )
    # r6 (guide §2.4, §5): the 60-bit majority aggregation materializes
    # once per invocation — the r5 form re-ran the token scan + 60-sum
    # aggregate once per probe-combination UNION branch (20×) inside
    # the banded checkpoint job (4.6s median at sf0.1). Banding is ONE
    # posexplode over the 20 fold keys (itertools.combinations band
    # order and base-2^block_bits key arithmetic, as in the DuckDB twin).
    fp = materialize(_majority_fp(toks, PSIM_BITS),
                     "dedup_simhash_portable:fingerprints")
    return _hamming_pairs(
        _manku_keys(fp, PSIM_BITS, PSIM_BLOCKS, PSIM_PROBE),
        BAND_BUCKET_CAP, PSIM_HAMMING_MAX,
    )
