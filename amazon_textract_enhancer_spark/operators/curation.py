"""Training-data CURATION operators (round 3): the filter/scrub family
a large-scale pretraining pipeline runs between extraction and packing.

- ``text_gopher_quality``   — repetition heuristics (Gopher-style
  duplicate-n-gram / top-bigram rules, Rae et al. 2021, arXiv
  2112.11446 §A1.1) re-expressed over this corpus's single-line texts.
- ``text_pii_scrub``        — regex PII redaction (emails / phones /
  IPv4) with per-doc counts and a scrubbed-content fingerprint.
- ``decontaminate_ngram_overlap`` — benchmark decontamination: flag
  corpus docs whose k-token n-grams overlap a held-out eval set
  (the GPT-3/PaLM 13-gram-overlap recipe, here k=5 on short fixtures).
- ``embed_quantize_error``  — int8 symmetric per-vector quantization
  of the embedding column with reconstruction-error stats per label.

Every operator is pure Spark SQL expressions (whole-stage codegen, no
Python in the hot path) except nothing — there are no UDFs here at
all — and each has a DuckDB oracle twin in the registry. Scale notes
live on each docstring; none of these shuffles more than once on a
per-doc key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import _shingles
from .io_util import materialize, overlap, t, t_spread
from .serving import kgram_array, kgrams, split_terms, terms

# Gopher-style thresholds (arXiv 2112.11446 §A1.1 uses 0.18 for the
# top-2-gram character fraction; the duplicate-5-gram family uses
# ~0.15-0.30 by n — we expose one knob per metric)
TOP_BIGRAM_CHAR_FRAC_MAX = 0.18
DUP_TRIGRAM_FRAC_MAX = 0.30

# PII patterns — deliberately written WITHOUT backslash escapes
# (character classes only) so the identical literal is valid in both
# Java regex (Spark) and RE2 (DuckDB) and survives SQL string quoting.
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
PII_PHONE = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
PII_IPV4 = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"

# decontamination: eval-set membership is the md5 first hex digit --
# ~1/16 of docs act as the held-out benchmark; at production scale the
# benchmark set is the real eval suites (tiny), which is why the
# n-gram join below broadcasts it
DECONTAM_K = 5
DECONTAM_OVERLAP_MIN = 0.3


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filtering (★) — the Gopher rules
    reshaped for this corpus's single-line texts: per doc,

    - ``distinct_token_ratio``  = |distinct tokens| / |tokens|
    - ``dup_trigram_frac``      = 1 − |distinct 3-grams| / |3-grams|
    - ``top_bigram_char_frac``  = chars covered by the most frequent
      word bigram / total chars (Gopher's top-2-gram rule, threshold
      0.18)
    - ``flag_repetitive``       = either repetition rule fires

    Plan shape: the array metrics are MAP-SIDE ONLY (split → distinct
    inside the row, no explode); the top-bigram mode needs a per-
    (doc, bigram) count, which is ONE shuffle keyed by doc_id+bigram
    (partial-aggregated map-side, so the exchange carries one row per
    distinct bigram per doc) and a doc_id-keyed window for the
    deterministic argmax (count desc, bigram desc). At 10^12 docs both
    keys are fine-grained — no skew, no driver involvement."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.length("text").alias("nch"), terms("text").alias("L")
    ).filter(F.size("L") >= 3)

    nt = F.size("L")
    tris = kgram_array(3, lambda parts: F.concat_ws(" ", *parts))
    arr_metrics = base.select(
        "doc_id",
        "nch",
        nt.cast("int").alias("n_tokens"),
        F.round(F.size(F.array_distinct("L")) / nt, 4).alias(
            "distinct_token_ratio"
        ),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(tris)) / F.size(tris), 4
        ).alias("dup_trigram_frac"),
    )

    rows, parts = kgrams(base, 2, ["doc_id", "nch"])
    bg = rows.select("doc_id", "nch", F.concat_ws(" ", *parts).alias("bg"))
    bgc = bg.groupBy("doc_id", "nch", "bg").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.col("bg").desc()
    )
    top = (
        bgc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.round(F.col("n") * F.length("bg") / F.col("nch"), 4).alias(
                "top_bigram_char_frac"
            ),
        )
    )

    out = arr_metrics.join(top, "doc_id")
    flag = (F.col("top_bigram_char_frac") > TOP_BIGRAM_CHAR_FRAC_MAX) | (
        F.col("dup_trigram_frac") > DUP_TRIGRAM_FRAC_MAX
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "distinct_token_ratio",
        "dup_trigram_frac",
        "top_bigram_char_frac",
        flag.alias("flag_repetitive"),
    )


def _planted_pii(docs: DataFrame) -> DataFrame:
    """The fixture corpus carries no PII (word-soup, no digits), so the
    demo query PLANTS deterministic PII spans first — the same
    expression exists verbatim in the DuckDB twin, so the oracle
    compares the scrub, not the plant. The operator under test is
    ``pii_scrub_cols`` over an arbitrary text column."""
    plant = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" call 555-123-4567")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" from 10.0.0.42")).otherwise(
            F.lit("")
        ),
    )
    return docs.select("doc_id", plant.alias("text"))


def pii_scrub_cols(text):
    """(n_emails, n_phones, n_ips, scrubbed) column bundle for any text
    expression — count then redact, email → phone → IPv4 (phone runs
    before IPv4 so dashed numbers are never half-eaten by the dotted
    pattern; the patterns are disjoint on their anchors regardless).
    Pure regexp codegen: at 10^12 turns this is a map-only pass."""
    n_emails = F.regexp_count(text, F.lit(PII_EMAIL))
    scrub1 = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    n_phones = F.regexp_count(scrub1, F.lit(PII_PHONE))
    scrub2 = F.regexp_replace(scrub1, PII_PHONE, "<PHONE>")
    n_ips = F.regexp_count(scrub2, F.lit(PII_IPV4))
    scrub3 = F.regexp_replace(scrub2, PII_IPV4, "<IP>")
    return n_emails, n_phones, n_ips, scrub3


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (★): count and redact emails / dashed phone
    numbers / IPv4 literals per document, emitting counts, the
    scrubbed length, and an md5 fingerprint of the scrubbed text (the
    oracle hash-compares the REDACTED CONTENT itself, not just the
    counts). Fixture PII is planted deterministically (see
    ``_planted_pii``) because the synthetic corpus has none."""
    docs = _planted_pii(t_spread(spark, sf_dir, "documents"))
    n_emails, n_phones, n_ips, scrubbed = pii_scrub_cols(F.col("text"))
    return docs.select(
        "doc_id",
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        n_ips.cast("int").alias("n_ips"),
        F.length(scrubbed).cast("int").alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


def decontaminate_ngram_overlap(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = DECONTAM_K,
    overlap_min: float = DECONTAM_OVERLAP_MIN,
) -> DataFrame:
    """Benchmark DECONTAMINATION (★): flag training docs sharing
    k-token n-grams with a held-out eval set — the GPT-3 appendix-C /
    PaLM recipe (there 8-13 grams; k=5 here because fixture docs are
    10-99 tokens). Split: docs whose md5(doc_id) starts with '0'
    (~1/16) ARE the eval set; the rest are the corpus.

    Plan shape: distinct k-gram sets per side via one explode each;
    the eval side collapses to DISTINCT n-grams and is BROADCAST —
    real benchmark suites are a few MB of n-grams, so the corpus-side
    scan never shuffles on content; per-doc totals and hits are
    doc_id-keyed partial aggs. ``overlap_frac`` = hit n-grams /
    distinct n-grams; the fixture's planted near-duplicates guarantee
    a non-trivial contaminated set when a dup pair straddles the
    split."""
    docs = t(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    bench = docs.filter(is_eval)
    corpus = docs.filter(~is_eval)
    bench_ngrams = _shingles(bench, k=k).select("shingle").distinct()
    corpus_ngrams = _shingles(corpus, k=k)
    totals = corpus_ngrams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams")
    )
    hits = (
        corpus_ngrams.join(F.broadcast(bench_ngrams), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    frac = F.round(F.col("n_hit") / F.col("n_ngrams"), 4)
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_ngrams").cast("int").alias("n_ngrams"),
            F.coalesce("n_hit", F.lit(0)).cast("int").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_hit",
            frac.alias("overlap_frac"),
            (frac >= overlap_min).alias("contaminated"),
        )
    )


TEMP_ALPHA = 0.5
TEMP_TARGET_FRAC = 0.5


def sample_temperature(
    spark: SparkSession,
    sf_dir: str,
    *,
    alpha: float = TEMP_ALPHA,
    target_frac: float = TEMP_TARGET_FRAC,
) -> DataFrame:
    """Temperature RESAMPLING (★) — the multilingual mixing step:
    per-language sampling weights ∝ n_lang^alpha (alpha<1 upsamples
    the tail relative to its natural share — the mT5/XLM-R recipe),
    scaled so the expected kept-row count is ``target_frac``·N, capped
    at rate 1. Keep decisions are the same md5-bucket device as
    ``sample_stratified`` (u = first 4 fp hex digits / 65536 < rate):
    content-stable, reproducible across engines and partitionings.

    Plan shape: ONE tiny per-lang count agg (broadcast back), then a
    map-side filter over the corpus — at 10^12 docs the rate table is
    a handful of rows and the corpus pass is scan-shaped. alpha=0.5
    uses sqrt (IEEE-correctly-rounded in both engines, so the oracle
    twin is bit-stable); other alphas go through pow."""
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    root = (
        (lambda c: F.sqrt(c))
        if alpha == 0.5
        else (lambda c: F.pow(c, F.lit(alpha)))
    )
    # normalizers via an unpartitioned window over the ALREADY
    # AGGREGATED per-lang table (a handful of rows), so the corpus is
    # scanned exactly once — a separate counts.agg() would re-run the
    # whole count subtree for the totals
    wall = Window.partitionBy()
    rates = counts.select(
        "lang",
        F.least(
            F.lit(1.0),
            (F.lit(target_frac) * F.sum("n_l").over(wall)
             * root(F.col("n_l")) / F.sum(root(F.col("n_l"))).over(wall))
            / F.col("n_l"),
        ).alias("rate"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("double")
        / 65536.0
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(u < F.col("rate"))
        .select("doc_id", "lang", F.round("rate", 6).alias("keep_rate"))
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    *,
    window_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Overlapping token-window CHUNKING (★) — the embedding/RAG
    preprocessing step: each document becomes
    ceil(max(n−window,0)/stride)+1 chunks of ``window_tokens`` tokens
    starting every ``stride`` tokens (overlap = window−stride; the
    final chunk may be short; docs shorter than a window yield exactly
    one chunk). Pure JVM array expressions — token split, slice per
    start offset, posexplode — so at 10^12 docs this is a map-side
    fan-out whose output fans straight into the embedding stage with
    no shuffle at all. Deterministic chunk ids (doc_id, chunk_idx).

    ``stride`` must be in (0, window_tokens]: a stride beyond the
    window would leave uncovered token gaps (contradicting the overlap
    contract) and emit empty chunks whose re-split token count reads 1
    (ADVICE r3)."""
    if stride <= 0 or stride > window_tokens:
        raise ValueError(
            f"stride must be in (0, window_tokens]; got stride={stride}, "
            f"window_tokens={window_tokens}"
        )
    docs = t(spark, sf_dir, "documents")
    base = docs.select("doc_id", terms("text").alias("L")).filter(F.size("L") >= 1)
    n = F.size("L")
    n_chunks = (
        F.greatest(
            F.ceil((n - F.lit(window_tokens)) / F.lit(stride)).cast("int"),
            F.lit(0),
        )
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice("L", i * stride + 1, window_tokens)
        ),
    )
    return base.select(
        "doc_id",
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "chunk_text",
        (F.size(F.split(F.col("chunk_text"), " "))).cast("int").alias(
            "chunk_tokens"
        ),
    )


SPAN_K = 20
SPAN_MIN_DOCS = 2


def dedup_repeated_spans(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = SPAN_K,
    min_docs: int = SPAN_MIN_DOCS,
) -> DataFrame:
    """EXACT SUBSTRING (span-level) dedup detection (★) — the
    deduplicate-training-data recipe of Lee et al. 2022 (arXiv
    2107.06499): find ``k``-token spans that recur across documents
    (boilerplate, licenses, templates) even when the DOCUMENTS are not
    duplicates — the span list is the removal/masking candidate set
    doc-level dedup can't see. (Suffix arrays give all maximal repeats;
    fixed-k spans are the bounded-memory streaming form — a repeat of
    length L ≥ k appears as L−k+1 repeated k-spans, so nothing long is
    missed.)

    Per repeated span: md5 fingerprint, #distinct docs, #occurrences,
    and the smallest containing doc_id. Plan shape: spans are HASHED
    MAP-SIDE (the shuffle carries 32-hex fingerprints, not 20-token
    strings) and the single exchange is a partial-aggregated groupBy
    on the fingerprint — no pair join anywhere, so a boilerplate span
    in 10^9 docs costs one combiner row per task, not a 10^18 pair
    explosion. md5 keeps the DuckDB twin exact (cross-engine hex)."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select("doc_id", terms("text").alias("L")).filter(F.size("L") >= k)
    rows, _parts = kgrams(base, k, ["doc_id"])
    spans = rows.select(
        "doc_id",
        F.md5(F.array_join(F.slice("L", F.col("i"), k), " ")).alias("span_fp"),
    )
    return (
        spans.groupBy("span_fp")
        .agg(
            F.countDistinct("doc_id").cast("int").alias("n_docs"),
            F.count(F.lit(1)).cast("int").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation FUNNEL (★) — the composition proof for the
    family: corpus → near-dup cluster drop list (``dedup_survivors``)
    → repetition filter (``text_gopher_quality``) → temperature
    resample (``sample_temperature``), reported as per-language stage
    counts (n_docs → n_survivors → n_clean → n_final). Every stage is
    the already-registered operator function composed UNCHANGED — the
    point is that the family's outputs are joinable drop/keep lists,
    exactly how a production curation DAG wires them. Stage predicates
    are doc_id-keyed left joins; at 10^12 docs each stage list is a
    committed table and this query is the funnel-audit report every
    data-curation run ships with."""
    from .dedup import dedup_survivors

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")

    # r6 (guide §2.6): the three stage lists are mutually independent
    # (each is its own committed table in the production DAG), but the
    # survivors branch alone serializes ~6 jobs (pair mining + CC), so
    # composed lazily the funnel ran every branch back-to-back.
    # Materialize each list concurrently — gopher/temperature
    # back-fill the idle slots of the CC chain's barriers. Interleaved
    # A/B at sf0.1 is cited in OPTIMIZATION_r06.md; outputs identical
    # (checkpointing a drop list changes nothing downstream).
    lists = overlap({
        "survivors": lambda: materialize(
            dedup_survivors(spark, sf_dir).select("doc_id", F.lit(1).alias("s")),
            "curation_funnel:survivors",
        ),
        "repetitive": lambda: materialize(
            text_gopher_quality(spark, sf_dir)
            .filter(F.col("flag_repetitive"))
            .select("doc_id", F.lit(1).alias("r")),
            "curation_funnel:repetitive",
        ),
        "kept": lambda: materialize(
            sample_temperature(spark, sf_dir).select("doc_id", F.lit(1).alias("k")),
            "curation_funnel:kept",
        ),
    })
    surv, rep, kept = lists.values()
    j = (
        docs.join(surv, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(kept, "doc_id", "left")
    )
    clean = F.col("s").isNotNull() & F.col("r").isNull()
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce("s", F.lit(0))).cast("long").alias("n_survivors"),
        F.sum(clean.cast("int")).cast("long").alias("n_clean"),
        F.sum((clean & F.col("k").isNotNull()).cast("int"))
        .cast("long")
        .alias("n_final"),
    )


def embed_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding QUANTIZATION error audit (★): symmetric
    per-vector scaling (scale = max|x|, q = round(x/scale·127),
    x̂ = q·scale/127), reporting per-label vector count, mean per-vector
    RMSE and the worst absolute reconstruction error. This is the
    compression every embedding store applies before ANN serving; the
    audit bounds what it costs. Map-side higher-order expressions per
    row (transform/aggregate over the array — no explode, no UDF),
    then ONE label-keyed agg. Per-vector stats are rounded to 6dp
    BEFORE the cross-vector aggregate so IEEE summation order can't
    move the oracle hash."""
    emb = t_spread(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    )
    err = F.transform(
        v,
        lambda x: F.abs(
            x - F.round(x / scale * 127, 0) * scale / 127
        ),
    )
    sq = F.aggregate(
        err, F.lit(0.0), lambda acc, e: acc + e * e
    )
    per_vec = emb.select(
        "label",
        F.round(F.sqrt(sq / F.size(v)), 6).alias("rmse"),
        F.round(F.array_max(err), 6).alias("maxerr"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("rmse"), 6).alias("avg_rmse"),
        F.round(F.max("maxerr"), 6).alias("max_abs_err"),
    )


MIX_ALPHA = 0.5
MIX_TOKEN_BUDGET = 1_000_000


def mixture_weights(
    spark: SparkSession,
    sf_dir: str,
    *,
    alpha: float = MIX_ALPHA,
    token_budget: int = MIX_TOKEN_BUDGET,
) -> DataFrame:
    """Data-MIXTURE weight table (★) — the sampling-weight computation
    every multi-domain pretraining run performs (the GPT-3 / Pile /
    DoReMi-baseline recipe): per (lang, source) domain, weight ∝
    domain_tokens^alpha normalized over domains (alpha<1 flattens the
    natural distribution toward the tail), then the per-domain token
    budget w·B and the implied epoch count budget/domain_tokens — the
    number every mixture card reports (epochs>1 = the domain repeats).

    Plan shape: ONE corpus scan into a domains-sized agg (tokens
    counted map-side inside the partial agg), then the normalizer via
    an unpartitioned window over the tiny aggregated table (the
    sample_temperature device — no second corpus scan, no driver
    round-trip). At 10^12 turns the domain table is dozens of rows;
    everything after the scan is free. alpha=0.5 uses sqrt so the
    DuckDB twin is bit-stable (IEEE-correctly-rounded in both
    engines); other alphas go through pow."""
    docs = t(spark, sf_dir, "documents")
    ntok = F.size(terms("text"))
    domains = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).cast("long").alias("domain_tokens"),
    )
    root = (
        (lambda c: F.sqrt(c))
        if alpha == 0.5
        else (lambda c: F.pow(c, F.lit(alpha)))
    )
    wall = Window.partitionBy()
    weight = root(F.col("domain_tokens")) / F.sum(
        root(F.col("domain_tokens"))
    ).over(wall)
    return domains.select(
        "lang",
        "source",
        "n_docs",
        "domain_tokens",
        F.round(weight, 6).alias("weight"),
        F.round(weight * F.lit(float(token_budget)), 2).alias("budget_tokens"),
        F.round(
            weight * F.lit(float(token_budget)) / F.col("domain_tokens"), 4
        ).alias("epochs"),
    )


DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


def _hashed_bigram_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared hashed-n-gram feature stream for the model-based
    curation family (DSIR resampling, LR quality classifier): one
    row per (doc, word-bigram occurrence), bucket = first two md5
    hex chars (engine-portable, 256 buckets). Docs with <2 tokens
    emit nothing."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", terms("text").alias("L")).filter(
        F.size("L") >= 2
    )
    return base.select(
        "doc_id",
        "lang",
        F.explode(
            kgram_array(
                2, lambda p: F.substring(F.md5(F.concat(p[0], F.lit(" "), p[1])), 1, 2)
            )
        ).alias("bucket"),
    )


def sample_importance(
    spark: SparkSession,
    sf_dir: str,
    *,
    target_lang: str = DSIR_TARGET_LANG,
) -> DataFrame:
    """DSIR-style IMPORTANCE resampling score (★) — Xie et al. 2023's
    data-selection recipe: score every raw document by how much more
    likely its hashed-n-gram features are under a TARGET distribution
    (here the lang='en' slice — the "looks like the domain I'm
    training for" proxy) than under the raw corpus, then keep the
    docs whose mean log-ratio is >= 0. Features are word bigrams
    hashed into 256 buckets via the first two hex chars of md5 (the
    repo's engine-portable hash device), with add-one smoothing on
    both distributions.

    Plan shape at 10^12 turns: the doc->bucket feature stream
    aggregates to a 256-row bucket-count table in ONE exchange
    (conditional agg computes target and raw counts in the same
    pass; totals come from an unpartitioned window over the 256-row
    table — the sample_temperature device, no second scan and no
    driver hop). The per-bucket log-weight table is then BROADCAST
    back onto the feature stream, so scoring is map-side + one
    doc_id agg. No UDF anywhere; score rounds to 4dp (the avg-twin
    discipline)."""
    feats = _hashed_bigram_feats(spark, sf_dir)
    counts = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c_r"),
        F.sum(F.when(F.col("lang") == target_lang, 1).otherwise(0))
        .cast("long")
        .alias("c_t"),
    )
    wall = Window.partitionBy()
    totals = counts.select(
        "bucket",
        "c_r",
        "c_t",
        F.sum("c_r").over(wall).alias("n_r"),
        F.sum("c_t").over(wall).alias("n_t"),
    )
    b = float(DSIR_BUCKETS)
    lw = F.log(
        ((F.col("c_t") + F.lit(1.0)) / (F.col("n_t") + F.lit(b)))
        / ((F.col("c_r") + F.lit(1.0)) / (F.col("n_r") + F.lit(b)))
    )
    wtab = totals.select("bucket", lw.alias("lw"))
    return (
        feats.join(F.broadcast(wtab), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_feats"),
            (F.round(F.avg("lw"), 4) + F.lit(0.0)).alias("dsir_score"),
        )
        .withColumn("keep", F.col("dsir_score") >= 0)
    )


# LR quality classifier: 2 unrolled full-batch GD iterations, rate 5.0
# (determinism matters more than convergence at fixture scale; the
# trajectory-pinning discipline is embed_kmeans's)
LR_RATE = 5.0


def text_quality_lr(
    spark: SparkSession,
    sf_dir: str,
    *,
    target_lang: str = DSIR_TARGET_LANG,
    rate: float = LR_RATE,
) -> DataFrame:
    """Model-based quality classifier (★) — the fastText/CCNet-style
    linear scorer trained IN the engine: logistic regression over the
    shared hashed-bigram bucket features (``_hashed_bigram_feats``),
    label = "doc is in the target domain" (lang==target, the DSIR
    proxy), two unrolled full-batch gradient-descent iterations from
    w=0, then a per-doc probability score. This is the trainable
    sibling of ``sample_importance``: same features, learned weights
    instead of closed-form log-ratios.

    Evidence split (the embed_kmeans honesty rule): the fixture corpus
    draws every lang from the SAME 31-word vocabulary, so the lang
    label is information-free there and the trained model converges to
    the base-rate bias — the oracle row pins the cross-engine GD
    TRAJECTORY (every 6dp weight step and 4dp score), not accuracy.
    The semantic claim — the classifier actually separates classes
    when the label is learnable — is pinned in pytest on a crafted
    corpus with disjoint per-class vocabularies (perfect separation
    after the two steps).

    Determinism (the embed_kmeans trajectory-pinning discipline):
    w starts at exactly 0 so iteration 1's probabilities are exactly
    0.5; every weight, margin, and probability is rounded to 6dp the
    moment it is produced, so both engines take identical gradient
    steps and the 4dp final scores value-hash-match the DuckDB twin's
    unrolled-CTE replay. Feature values x = count/n_d are exact
    (integer-valued doubles divided once).

    Plan shape at 10^12 turns: features aggregate to one row per
    (doc,bucket) in ONE doc-keyed exchange; the model is a 257-row
    table (256 buckets + '__b__' bias feature, x=1 per doc, which
    makes the bias update just another bucket row) BROADCAST onto the
    feature stream each iteration; each iteration costs one
    bucket-keyed gradient agg (257 groups) plus one doc_id join of
    the residuals back onto the cached feature table — no driver
    traffic, no UDF, T is a small constant (2)."""
    feats = _hashed_bigram_feats(spark, sf_dir)
    # r6 (guide §2.4): the (doc, bucket) count table is the ONLY part
    # that tokenizes the corpus and md5-hashes every bigram; checkpoint
    # it so the two derived checkpoints below (features Xa, labels D0)
    # are cheap single-exchange jobs off the count table. Previously
    # docs_d hung off the un-materialized X, so building D0 re-ran the
    # whole tokenize→explode→md5 chain — a SECOND full corpus pass per
    # invocation just to list the doc ids.
    cnt = materialize(feats.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ), "text_quality_lr:bigram_counts")
    wdoc = Window.partitionBy("doc_id")
    X = cnt.select(
        "doc_id", "lang", "bucket",
        (F.col("c") / F.sum("c").over(wdoc)).alias("x"),
    )
    # identical to X.select("doc_id","lang").distinct(): X is a 1:1
    # projection of cnt
    docs_d = cnt.select("doc_id", "lang").distinct()
    # the feature and label tables are referenced by every iteration
    # (two gradient aggs + two scoring joins each): materialize them so
    # the per-doc normalization runs ONCE, not 5×. In production these
    # are committed pipeline tables (the fixture_tokens discipline).
    Xa = materialize(X.select("doc_id", "bucket", "x").unionByName(
        docs_d.select(
            "doc_id", F.lit("__b__").alias("bucket"), F.lit(1.0).alias("x")
        )
    ), "text_quality_lr:features")
    y = F.when(F.col("lang") == target_lang, 1.0).otherwise(0.0)
    wall = Window.partitionBy()
    D0 = materialize(docs_d.select("doc_id", "lang", y.alias("y")).withColumn(
        "n_docs", F.count(F.lit(1)).over(wall)
    ), "text_quality_lr:labels")
    # iteration 1: w == 0 -> p == 0.5 exactly, no scoring join needed
    r0 = D0.select("doc_id", (F.lit(0.5) - F.col("y")).alias("r"), "n_docs")
    g1 = (
        Xa.join(r0, "doc_id")
        .groupBy("bucket")
        .agg((F.sum(F.col("r") * F.col("x")) / F.max("n_docs")).alias("g"))
    )
    # w1 feeds TWO consumers (the iteration-2 scoring broadcast and the
    # w2 weight-update join), so left lazy the g1 gradient agg ran
    # twice; the weight table is 257 rows — checkpoint it (r6)
    w1 = materialize(g1.select(
        "bucket", F.round(F.lit(-rate) * F.col("g"), 6).alias("w")
    ), "text_quality_lr:w1")
    # iteration 2: score with w1, step again
    z1 = (
        Xa.join(F.broadcast(w1), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("x") * F.col("w")), 6).alias("z"))
    )
    p1 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6)
    r1 = D0.join(z1, "doc_id").select(
        "doc_id", (p1 - F.col("y")).alias("r"), "n_docs"
    )
    g2 = (
        Xa.join(r1, "doc_id")
        .groupBy("bucket")
        .agg((F.sum(F.col("r") * F.col("x")) / F.max("n_docs")).alias("g"))
    )
    w2 = w1.join(g2, "bucket").select(
        "bucket", F.round(F.col("w") - F.lit(rate) * F.col("g"), 6).alias("w")
    )
    zf = (
        Xa.join(F.broadcast(w2), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("x") * F.col("w")), 6).alias("z"))
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 4)
    return (
        D0.join(zf, "doc_id")
        .select(
            "doc_id", "lang",
            F.col("y").cast("int").alias("label"),
            (score + F.lit(0.0)).alias("lr_score"),
        )
        .withColumn("pred", F.col("lr_score") >= 0.5)
    )


def sample_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ORDERING (★) — easy-to-hard scheduling by model
    difficulty (Bengio et al. 2009 shape, scored like CCNet): each doc
    gets the bigram-LM perplexity from ``text_lm_perplexity``, stages
    are the ppl quartiles (stage 1 = easiest), and ``order_key`` is a
    content-free md5 shuffle key so a data loader can stream
    ``ORDER BY stage, order_key`` — curriculum across stages,
    reproducible shuffle within them.

    Scale note: NO global sort. The quartile boundaries come from one
    exact-percentile agg (3 numbers, 4dp-rounded so both engines make
    identical boundary decisions), BROADCAST back; stage assignment is
    map-side comparisons. The actual ordering is left to the consumer
    as sort keys — at 10^12 docs that is a write into stage-bucketed
    files, not an engine-side total order."""
    from .textstats import text_lm_perplexity

    # (r6: checkpointing the perplexity table here — it feeds both the
    # quartile agg and the final assignment — A/B'd ~0.05s SLOWER twice
    # at sf0.1: the two branch runs overlap on idle cores, while the
    # eager checkpoint serializes them. Left lazy on purpose.)
    scored = text_lm_perplexity(spark, sf_dir).select("doc_id", "ppl")
    qs = scored.agg(
        F.round(F.percentile("ppl", F.lit(0.25)), 4).alias("q1"),
        F.round(F.percentile("ppl", F.lit(0.50)), 4).alias("q2"),
        F.round(F.percentile("ppl", F.lit(0.75)), 4).alias("q3"),
    )
    stage = (
        F.lit(1)
        + (F.col("ppl") > F.col("q1")).cast("int")
        + (F.col("ppl") > F.col("q2")).cast("int")
        + (F.col("ppl") > F.col("q3")).cast("int")
    )
    return scored.crossJoin(F.broadcast(qs)).select(
        "doc_id",
        "ppl",
        stage.cast("int").alias("stage"),
        F.md5(F.col("doc_id").cast("string")).alias("order_key"),
    )


# Bloom gate sizing: m bits / j hashes. At m=2^18 and a few thousand
# eval n-grams the false-positive rate is ~(j*n/m)^j ≈ 1e-5 — and FPs
# only cost a little extra verify-join input, never a wrong answer.
BLOOM_BITS = 1 << 18
BLOOM_HASHES = 3


def _bloom_word_table(ngrams: DataFrame, col: str = "shingle") -> DataFrame:
    """Aggregate a set of n-grams into a Bloom bitmap held as a tiny
    (word_idx, word) long table: each n-gram sets BLOOM_HASHES bit
    positions pmod(xxhash64(ngram, i), m); bits pack into 64-bit words
    via bit_or. The table is at most m/64 rows (4096 longs = 32 KB at
    m=2^18) REGARDLESS of eval-set size — always broadcastable."""
    pos = [
        F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(BLOOM_BITS))
        for i in range(BLOOM_HASHES)
    ]
    return (
        ngrams.select(F.explode(F.array(*pos)).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 6).alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("bitmask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bitmask").alias("word"))
    )


def _bloom_gate(df: DataFrame, words: DataFrame, col: str = "shingle") -> DataFrame:
    """Keep only rows whose ``col`` is (maybe) in the Bloom filter:
    BLOOM_HASHES successive broadcast-hash probes of the word table,
    each an inner equi-join on the word index plus a bit test — pure
    map-side work, no shuffle of ``df``. May pass false positives
    (callers must exact-verify); never drops a true member."""
    out = df
    for i in range(BLOOM_HASHES):
        pos = F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(BLOOM_BITS))
        w = words.select(
            F.col("word_idx").alias(f"_bf_wi{i}"), F.col("word").alias(f"_bf_w{i}")
        )
        out = (
            out.withColumn(f"_bf_pos{i}", pos)
            .join(
                F.broadcast(w),
                F.shiftright(F.col(f"_bf_pos{i}"), 6) == F.col(f"_bf_wi{i}"),
                "inner",
            )
            .filter(
                F.expr(
                    f"(_bf_w{i} & shiftleft(CAST(1 AS BIGINT),"
                    f" CAST(pmod(_bf_pos{i}, 64) AS INT))) != 0"
                )
            )
            .drop(f"_bf_wi{i}", f"_bf_w{i}", f"_bf_pos{i}")
        )
    return out


def decontaminate_bloom(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = DECONTAM_K,
    overlap_min: float = DECONTAM_OVERLAP_MIN,
) -> DataFrame:
    """Bloom-gated benchmark DECONTAMINATION (★) — same output
    contract (and DuckDB twin) as ``decontaminate_ngram_overlap``, but
    the plan is the one you want when the held-out side is too big to
    broadcast (full holdout splits, multi-benchmark unions): instead of
    shuffling every corpus n-gram into the verify join, the corpus
    stream is pre-filtered by a Bloom filter of the eval n-grams.

    The Bloom filter is built IN-PLAN (no driver hop, no collect):
    ``_bloom_word_table`` packs the eval n-grams' hash positions into
    a <=32 KB (word_idx, word) bitmap table, and ``_bloom_gate`` probes
    it with BLOOM_HASHES broadcast-hash joins — so the gate costs three
    map-side hash probes per corpus n-gram and the verify join (here
    hinted shuffle_hash to model the non-broadcastable eval side) sees
    only true hits plus a ~1e-5 sliver of false positives, which the
    exact join then removes — the Bloom can only add verify input,
    never answers. Totals (``n_ngrams``) come from the UNGATED per-doc
    count so overlap fractions match the exact operator's. r6 caveat
    on exactness: n_ngrams is the per-doc count of DISTINCT int64
    shingle HASHES (in-row, no exchange), which equals the distinct
    string count unless two of one document's shingles collide in 64
    bits — the dedup_ngram_jaccard birthday argument (~s²/2⁶⁵ per doc);
    equality with the string-counting twin is pinned on every fixture
    by the parity suite."""
    from .dedup import _shingle_hash_array, _shingles, _shingles_raw

    docs = t(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    # r6 (guide §2.3/§2.4, the dedup_ngram_jaccard device): the r5 form
    # ran the corpus through _shingles().distinct() TWICE (totals and
    # the gated branch are separate consumers of an un-materialized
    # frame), paying two full-stream dedup exchanges plus the totals
    # groupBy. Now NOTHING corpus-sized crosses an exchange before the
    # verify join: totals is the in-row scalar distinct-shingle count
    # (a document is one source row; int64 shingle hashes — same
    # count unless two of one doc's shingles collide in 64 bits, the
    # ngram-Jaccard birthday argument, and old-vs-new equality is
    # pinned on every fixture), and the Bloom gate probes the RAW
    # codegen occurrence stream (explode(sequence) + concat_ws — NOT
    # an exploded HOF array, see the ngram NB: that inlines split()
    # into the interpreted lambda, measured 2.3s → 20s here) with the
    # per-(doc, shingle) dedup applied to the tiny verified-hit set
    # via countDistinct instead of the whole corpus stream.
    L = split_terms("text")
    totals = (
        docs.filter(~is_eval)
        .select("doc_id", L.alias("L"))
        .filter(F.size("L") >= k)
        .select("doc_id", F.size(_shingle_hash_array(k)).alias("n_ngrams"))
    )
    corpus_ngrams = _shingles_raw(docs.filter(~is_eval), k=k)
    # the eval-side distinct set feeds both the Bloom build and the
    # verify join → one checkpoint (the committed benchmark n-gram
    # table at scale)
    bench_ngrams = materialize(
        _shingles(docs.filter(is_eval), k=k).select("shingle").distinct(),
        "decontaminate_bloom:bench_ngrams",
    )
    gated = _bloom_gate(corpus_ngrams, _bloom_word_table(bench_ngrams))
    hits = (
        gated.join(bench_ngrams.hint("shuffle_hash"), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_hit"))
    )
    frac = F.round(F.col("n_hit") / F.col("n_ngrams"), 4)
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_ngrams").cast("int").alias("n_ngrams"),
            F.coalesce("n_hit", F.lit(0)).cast("int").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_hit",
            frac.alias("overlap_frac"),
            (frac >= overlap_min).alias("contaminated"),
        )
    )


NOVELTY_BUCKET_DOCS = 50


def text_novelty_by_bucket(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = 3,
    bucket_docs: int = NOVELTY_BUCKET_DOCS,
) -> DataFrame:
    """Corpus NOVELTY curve (★) — the crawl-freshness audit: treat
    doc_id order as ingest order, bucket every ``bucket_docs`` docs,
    and measure per bucket how many of its distinct k-gram types are
    NEW to the corpus (first bucket where the n-gram appears). A
    healthy growing crawl keeps ``novelty_rate`` well above zero; a
    stalled/recrawled source trends toward pure repeats — the signal
    dataset teams watch before adding a snapshot to the mix.

    Plan shape: one shingle explode -> distinct (bucket, shingle)
    (ngram-keyed shuffle), a min-bucket agg per shingle for first-seen
    attribution (same key, ReusedExchange-able), then two tiny
    bucket-keyed counts joined. Nothing is ever keyed by doc, and the
    heavy shuffles carry (bucket, shingle) pairs once — at 10^12 docs
    this is the same single-posting-scan shape as the n-gram dedup
    family."""
    docs = t(spark, sf_dir, "documents")
    sh = _shingles(docs, k=k).select(
        F.floor(F.col("doc_id") / bucket_docs).cast("int").alias("bucket"),
        "shingle",
    )
    bsh = sh.distinct()
    totals = bsh.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_distinct_ngrams")
    )
    novel = (
        bsh.groupBy("shingle")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        totals.join(novel, "bucket", "left")
        .select(
            "bucket",
            F.col("n_distinct_ngrams").cast("int").alias("n_distinct_ngrams"),
            F.coalesce("n_novel", F.lit(0)).cast("int").alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)) / F.col("n_distinct_ngrams"), 4
            ).alias("novelty_rate"),
        )
    )
