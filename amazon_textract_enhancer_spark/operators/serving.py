"""SURVEY.md §2.C — the query/serving surface (the reference's
DynamoDB point-lookup and Elasticsearch full-text paths, answered as
Spark SQL; BASELINE.json:6).

C6 tokenization is pure Spark SQL (split/lower/explode — no UDF); C5
search is two tiers: a predicate scan (oracle-checkable ILIKE) and a
tokens inverted index with TF ranking + deterministic top-k.

This module is the ONE definition of C6, "text → terms (lowercase,
split on non-alnum)", for every text operator in the package (serving,
textstats, dedup, curation): no other module splits on
``TOKEN_PATTERN`` or hand-writes the k-gram position explode or the
in-row k-gram ``transform`` (``_bpe_train``'s symbol pairs over the
vocab table aside), except
the Python-side Misra-Gries pass of ``textstats.heavy_hitters``, whose
pandas workers cannot evaluate a Column (``tests/test_tokenizer.py``
guards this). The policy comes in three forms because the consumers
need three shapes:

- ``terms(col)``: the in-row term array with ``""`` dropped — the BM25
  / tf / dl / quality-metric form (``size(terms)`` is the token count,
  so ``dl == sum(tf)`` holds by construction).
- ``tokenize(df, text_col, id_cols)``: one ``term`` row per term; the
  empty filter runs after the explode, the shape of the DuckDB twins'
  ``unnest`` + ``WHERE w <> ''``.
- ``split_terms(col)``: the raw split that KEEPS ``""``. Shingles, the
  heavy-hitter k-grams and their DuckDB twins
  (``regexp_split_to_array``) and the Python-side Misra-Gries pass
  (``re.split``) all count k-grams over this array; for text with
  leading or trailing punctuation it differs from ``terms`` (``"--a b"``
  splits to ``["", "a", "b"]``), so the two are not interchangeable.

``kgrams`` is the one k-gram expansion over an already-bound token
array column (one row per k-gram); ``kgram_array`` is its in-row
form (one array per row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tableio import TableIO
from .io_util import materialize, overlap, t

TOKEN_PATTERN = "[^a-z0-9]+"


def split_terms(col: Column | str) -> Column:
    """C6 raw split: ``split(lower(col), TOKEN_PATTERN)`` with its
    empty strings kept (a leading/trailing separator yields a ``""``
    end element, as in DuckDB's ``regexp_split_to_array`` and Python's
    ``re.split``). The array the k-gram consumers count over."""
    return F.split(F.lower(col), TOKEN_PATTERN)


def terms(col: Column | str) -> Column:
    """C6 term array: ``split_terms`` with ``""`` dropped, unsorted.
    Identical to the DuckDB twin
    ``list_filter(regexp_split_to_array(lower(s), '[^a-z0-9]+'), x -> x <> '')``."""
    return F.filter(split_terms(col), lambda x: x != "")


def tokenize(df: DataFrame, text_col: str, id_cols: list[str]) -> DataFrame:
    """C6 — text → (id..., term) rows; lowercase, split on non-alnum,
    empties dropped after the explode. Identical semantics to the
    DuckDB twin ``unnest(regexp_split_to_array(lower(text),
    '[^a-z0-9]+'))`` filtered on ``<> ''``."""
    return (
        df.select(*id_cols, F.explode(split_terms(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )


def kgrams(df: DataFrame, k: int, keep: list[str]) -> tuple[DataFrame, list[Column]]:
    """The one k-gram expansion: one row per k-gram start of the BOUND
    token-array column ``L`` — ``(keep..., i, L)`` with 1-based start
    ``i`` — and the k ``element_at(L, i + j)`` part columns to build
    the gram from. Returns ``(rows, parts)``; the caller applies its
    own final expression (``concat_ws``, ``xxhash64``, a ``slice``).

    The explode runs over the cheap ``sequence()`` so the Generate
    stays codegen'd. ``L`` must be a column already projected by the
    caller, never a ``split()`` expression: embedding the split inside
    a lambda or an exploded higher-order array re-evaluates it per
    element (measured 2.8 s → 19 s on ``dedup_ngram_jaccard`` and
    2.3 s → 20 s on ``decontaminate_bloom``). Guard: rows with
    fewer than k tokens must be filtered by the caller
    (``sequence(1, 0)`` would count DOWN)."""
    rows = df.select(
        *keep, F.explode(F.sequence(F.lit(1), F.size("L") - (k - 1))).alias("i"), "L"
    )
    return rows, [F.element_at(F.col("L"), F.col("i") + j) for j in range(k)]


def kgram_array(k: int, f) -> Column:
    """The in-row k-gram expansion: ``f`` over every k-gram of the
    BOUND token-array column ``L`` as one array column,
    ``transform(sequence(1, size(L) - (k-1)), i -> f(L[i..i+k-1]))``,
    where ``f`` takes the k ``element_at`` part columns. Same contract
    as ``kgrams``: ``L`` is already projected, and the caller filters
    rows with fewer than k tokens (``sequence(1, 0)`` counts DOWN)."""
    L = F.col("L")
    return F.transform(
        F.sequence(F.lit(1), F.size(L) - (k - 1)),
        lambda i: f([F.element_at(L, i + j) for j in range(k)]),
    )


def doc_lengths_of(df: DataFrame, text_col: str, id_cols: list[str]) -> DataFrame:
    """(id..., dl) — per-row token count via the SAME tokenizer as
    ``term_frequencies``. Equals ``tokens.groupBy(ids).sum(tf)`` by
    construction (pinned in tests/test_sql_serving) but is a NARROW map
    over the source rows: no re-read of the committed token index and
    no token-volume shuffle. The 10×-input run (BENCH/scale10x.json)
    measured the groupBy form pushing a 387.7M-posting reduction
    through a data-independent shuffle-partition constant (+152%
    per-turn cost vs 1×); this form's cost is ∝ rows, and the only
    exchange left in the doc_lengths stage is the bucket-by-conv write.
    Rows with zero tokens are omitted — they have no postings, matching
    the groupBy form."""
    n = F.size(terms(text_col))
    return df.select(*id_cols, n.cast("long").alias("dl")).filter(F.col("dl") > 0)


def corpus_stats_of(spark: SparkSession, io: TableIO) -> DataFrame:
    """The one-row BM25 corpus aggregate (n_docs long, total_tokens
    long, avgdl double) of the committed ``doc_lengths`` table, read
    from its manifest: the commit counted the rows and summed ``dl``
    per written partition (``counter_cols=["dl"]``), so no data file is
    read. ``total / n`` is the same double as Spark's ``avg(dl)``
    (exact double sums below 2^53, one division); an empty table gives
    (0, null, null), as the aggregate does. The row is built in the
    JVM, so committing it starts no Python worker."""
    n = io.fast_count("doc_lengths")
    total = io.fast_counter_sum("doc_lengths", "dl") if n else None
    return spark.range(1, numPartitions=1).select(
        F.lit(n).cast("long").alias("n_docs"),
        F.lit(total).cast("long").alias("total_tokens"),
        F.lit(total / n if n else None).cast("double").alias("avgdl"),
    )


def term_frequencies(df: DataFrame, text_col: str, id_cols: list[str]) -> DataFrame:
    """(id..., term, tf) — identical result to
    ``tokenize(...).groupBy(ids+term).count()`` but with ZERO shuffle:
    term frequency is within-row local (a turn's terms all live in its
    own text), so the counting is run-length encoding over the sorted
    term array, all expression-level (sort → run-start indices → next
    start − start). The 200M-exploded-row aggregation shuffle this
    replaces was the one flat-scaling stage of the pipeline (measured
    bandwidth-bound at every parallelism level on one box); the only
    exchange left in the tokens stage is the bucket-by-term write.
    Equality with the groupBy form is pinned in tests/test_sql_serving.
    """
    df = df.select(*id_cols, F.array_sort(terms(text_col)).alias("_terms"))
    n = F.size("_terms")
    # 0-based indices where a new run starts (ANSI: element_at is 1-based)
    starts = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == 0)
        | (F.element_at(F.col("_terms"), i + 1) != F.element_at(F.col("_terms"), i)),
    )
    df = df.withColumn("_starts", F.when(n > 0, starts).otherwise(F.array().cast("array<int>")))
    m = F.size("_starts")
    entry = lambda j: F.struct(  # noqa: E731
        F.element_at(F.col("_terms"), F.element_at(F.col("_starts"), j + 1) + 1).alias("term"),
        (
            F.coalesce(F.try_element_at(F.col("_starts"), j + 2), F.size("_terms"))
            - F.element_at(F.col("_starts"), j + 1)
        ).cast("int").alias("tf"),
    )
    entries = F.when(m > 0, F.transform(F.sequence(F.lit(0), m - 1), entry)).otherwise(
        F.array().cast("array<struct<term:string,tf:int>>")
    )
    return df.select(*id_cols, F.explode(entries).alias("_e")).select(
        *id_cols, F.col("_e.term").alias("term"), F.col("_e.tf").alias("tf")
    )


def c1_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — DynamoDB GetItem analog: point predicate, pushed to the scan
    (bucket/row-group prune on a bucketed production table)."""
    docs = t(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") == 42).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def c2_range_status_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 — list/status query: time-range + status predicate
    (partition-stats prune on ts in production)."""
    ev = t(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-02").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-05").cast("timestamp"))
        & (F.col("event_type").isin("click", "error"))
    ).select("event_id", "user_id", "event_type", "value")


def c5_search_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 tier (i) — predicate full-text scan (ES match analog, oracle-
    checkable)."""
    docs = t(spark, sf_dir, "documents")
    lo = F.lower(F.col("text"))
    return docs.filter(lo.like("%spark%") & lo.like("%window%")).select(
        "doc_id", "n_chars"
    )


def c5_search_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 tier (ii) — tokens inverted index + TF scoring + deterministic
    top-k (orderBy desc(score), doc_id → TakeOrderedAndProject)."""
    docs = t(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", ["doc_id"])
    return (
        toks.filter(F.col("term").isin("spark", "merge", "window"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


def c5_search_tokens_indexed(tokens: DataFrame, terms: tuple[str, ...],
                             k: int = 10) -> DataFrame:
    """C5 tier (ii), production form (VERDICT r3 item 5): score from a
    COMMITTED tokens inverted index (pipeline stage 3's
    (conv_id, turn_idx, term, tf) table, bucketed by term) instead of
    re-tokenizing the corpus in-query — at 10^13 index rows serving
    must read the index, not re-derive it. The term predicate pushes
    into the parquet scan (asserted in tests/test_plans.py), and with
    Iceberg bucket(N, term) layout it prunes to the probed buckets.
    Deterministic top-k: (score desc, conv_id, turn_idx) →
    TakeOrderedAndProject."""
    return (
        tokens.filter(F.col("term").isin(*terms))
        .groupBy("conv_id", "turn_idx")
        .agg(F.sum("tf").cast("long").alias("score"))
        .orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))
        .limit(k)
    )


def positional_postings(df: DataFrame, text_col: str, id_cols: list[str]) -> DataFrame:
    """(id..., pos, term) — positional inverted-index rows (0-based
    position in the empty-filtered token stream). The committed form of
    this table (bucketed by term, like the tf tokens table) is what
    phrase/proximity serving reads at scale."""
    return df.select(*id_cols, F.posexplode(terms(text_col)).alias("pos", "term"))


def phrase_search(docs: DataFrame, phrase: tuple[str, ...],
                  id_col: str = "doc_id") -> DataFrame:
    """C5 tier (v) — exact phrase match (the ES ``match_phrase``
    analog): documents containing the words of ``phrase`` at
    consecutive token positions, with occurrence counts (overlapping
    occurrences counted — a doc 'a a a' matches phrase ('a','a')
    twice, same as a positional-postings engine).

    Plan shape: one postings stream per phrase word (term equality
    filters — against a COMMITTED positional index these are
    bucket-pruned scans of just the phrase's postings, never the
    corpus), then an equi-join chain on (doc, pos - word_offset): all
    joins share the same key, so one hash partitioning serves the
    whole chain and the work is postings-sized. The classic
    document-at-a-time alternative (array scan per doc) touches every
    document; this form touches only docs containing the rarest word
    after the first join."""
    if len(phrase) < 2:
        raise ValueError("phrase needs at least 2 words")
    pos = positional_postings(docs, "text", [id_col])
    matches = (
        pos.filter(F.col("term") == phrase[0])
        .select(id_col, F.col("pos").alias("p"))
    )
    for i, w in enumerate(phrase[1:], 1):
        nxt = pos.filter(F.col("term") == w).select(
            id_col, (F.col("pos") - i).alias("p")
        )
        matches = matches.join(nxt, [id_col, "p"])
    return matches.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


def c5_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form (★): docs containing the exact phrase
    'table hash', with occurrence counts; twin = the same positional
    self-join in DuckDB."""
    return phrase_search(t(spark, sf_dir, "documents"), ("table", "hash"))


def text_term_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term frequencies (tf >= 3) via the zero-shuffle
    run-length encoder — the tokens-stage operator, oracle-checked
    against DuckDB's unnest + groupBy twin."""
    docs = t(spark, sf_dir, "documents")
    return term_frequencies(docs, "text", ["doc_id"]).filter(F.col("tf") >= 3)


def c6_tokenize_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6/A9 — the ES index analog: document frequency per term.

    r6 (guide §2.3 "aggregate before you shuffle"): a document is one
    row, so per-document term dedup is the in-row ``array_distinct``
    — after it, every exploded (term) occurrence counts exactly one
    document and a plain count() with map-side partials replaces
    countDistinct's two-exchange distinct machinery. The r5 plan
    shuffled the full (term, doc_id) token stream through an Expand +
    two aggregates (0.38s); this shape ships only per-partition
    (term, partial-count) rows (0.23s measured, and at corpus scale
    the exchange carries vocabulary-sized data, not token-sized)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.array_distinct(terms("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )


def c3_fetch_table(spans: DataFrame, conv_id: str, turn_idx: int, table_n: int) -> DataFrame:
    """C3 — table N (1-based, document order) of one turn, as csv +
    dims. try_element_at on the nested column (ANSI-safe: out-of-range
    → empty result, not an error): no explode, bucket-pruned point scan
    at production scale."""
    tbl = F.try_element_at(F.col("tables"), F.lit(table_n))
    return (
        spans.filter((F.col("conv_id") == conv_id) & (F.col("turn_idx") == turn_idx))
        .select(
            "conv_id",
            "turn_idx",
            F.lit(table_n).alias("table_n"),
            tbl["n_rows"].alias("n_rows"),
            tbl["n_cols"].alias("n_cols"),
            tbl["csv"].alias("csv"),
        )
        .filter(F.col("csv").isNotNull())
    )


def c4_fetch_form_value(spans: DataFrame, conv_id: str, key: str) -> DataFrame:
    """C4 — form values for a key, case-insensitive trimmed match
    (the reference's DynamoDB form-lookup convention)."""
    kv = spans.filter(F.col("conv_id") == conv_id).select(
        "conv_id", "turn_idx", F.explode("forms").alias("kv")
    )
    want = key.strip().lower()
    return kv.filter(
        F.lower(F.trim(F.col("kv.key"))) == F.lit(want)
    ).select(
        "conv_id",
        "turn_idx",
        F.col("kv.key").alias("key"),
        F.col("kv.value").alias("value"),
        F.col("kv.selection").alias("selection"),
    )


def register_serving_views(spark: SparkSession, spans: DataFrame) -> None:
    """SURVEY.md §3.3 — the SQL-text serving surface: temp views over
    extracted_spans and its derived tokens table so operators can be
    answered as plain ``spark.sql`` (same Catalyst plans as the
    DataFrame forms; use whichever reads clearer)."""
    spans.createOrReplaceTempView("extracted_spans")
    term_frequencies(
        spans, "extracted_text", ["conv_id", "turn_idx"]
    ).createOrReplaceTempView("tokens")


# Parameterized SQL templates (named parameter markers, Spark 3.4+
# ``spark.sql(query, args={...})``). Values are bound as literals by the
# engine, NEVER spliced into the SQL text — form keys and search terms
# originate from extracted (hostile) document payloads, so string
# formatting here was an injection vector (ADVICE r1). Run via
# ``run_serving_query``.
SERVING_SQL = {
    # C1 point lookup (DynamoDB GetItem analog)
    "point_lookup": """
        SELECT conv_id, turn_idx, kind, extracted_text
        FROM extracted_spans WHERE conv_id = :conv_id
        ORDER BY turn_idx
    """,
    # C3 table fetch as SQL
    "table_fetch": """
        SELECT conv_id, turn_idx, t.n_rows, t.n_cols, t.csv
        FROM extracted_spans
        LATERAL VIEW explode(tables) AS t
        WHERE conv_id = :conv_id AND turn_idx = :turn_idx
    """,
    # C4 form fetch, case-insensitive
    "form_fetch": """
        SELECT conv_id, turn_idx, f.key, f.value, f.selection
        FROM extracted_spans
        LATERAL VIEW explode(forms) AS f
        WHERE conv_id = :conv_id AND lower(trim(f.key)) = lower(trim(:key))
    """,
    # C5-ii ranked search over the tokens inverted index; :terms binds an
    # array literal (array_contains instead of IN so the term list is one
    # bound parameter, not spliced SQL)
    "search_rank": """
        SELECT conv_id, turn_idx, CAST(sum(tf) AS BIGINT) AS score
        FROM tokens WHERE array_contains(:terms, term)
        GROUP BY conv_id, turn_idx
        ORDER BY score DESC, conv_id, turn_idx LIMIT :k
    """,
    # C2 status/range over counters
    "skipped_turns": """
        SELECT conv_id, turn_idx, counters.skip_reason AS skip_reason
        FROM extracted_spans WHERE counters.skipped
        ORDER BY conv_id, turn_idx
    """,
}


def run_serving_query(spark: SparkSession, name: str, **params) -> DataFrame:
    """Execute a SERVING_SQL template with engine-bound parameters."""
    return spark.sql(SERVING_SQL[name], args=params or None)


TFIDF_TERMS = ("spark", "merge", "window")

# Okapi BM25 constants (the standard Robertson defaults)
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_score(tf, idf, dl, avgdl):
    """One term's BM25 contribution — expression shape mirrored
    TERM-FOR-TERM in the DuckDB twin (left-assoc a*b/c, (1−b)+b·dl/avgdl)
    so both engines execute the identical IEEE double op sequence."""
    return (
        idf * (tf * (BM25_K1 + 1.0))
        / (tf + BM25_K1 * (F.lit(1.0) - BM25_B + BM25_B * dl / avgdl))
    )


def c5_search_bm25_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """C5 tier (iv) — Okapi BM25 ranked retrieval (★), the ES
    default-scoring analog and the upgrade of tf-idf's length-blind
    ranking: idf = ln((N − df + ½)/(df + ½) + 1) (Robertson-Spärck
    Jones, Lucene's smoothed form) with tf saturation k1 = 1.2 and
    length normalization b = 0.75 against the corpus mean document
    length. Everything stays in-plan: per-doc length is an expression
    (no explode), (N, avgdl) is a 1-row aggregate broadcast in, idf is
    a broadcast of |query terms| rows, and the only shuffles are the
    tf groupBy and the final TakeOrderedAndProject. Scores round to
    4 dp BEFORE ranking so cross-engine ties are impossible. At corpus
    scale the same expressions run over the committed tokens +
    doc_lengths + corpus_stats tables instead (c5_search_bm25_indexed;
    equality pinned in tests/test_sql_serving.py)."""
    docs = t(spark, sf_dir, "documents")
    terms_arr = terms("text")
    dl = docs.select("doc_id", F.size(terms_arr).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    toks = tokenize(docs, "text", ["doc_id"]).filter(
        F.col("term").isin(*TFIDF_TERMS)
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "term",
        "avgdl",
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(_bm25_score(
            F.col("tf"), F.col("idf"), F.col("dl"), F.col("avgdl")
        )), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def c5_search_bm25_indexed(
    tokens: DataFrame,
    doc_lengths: DataFrame,
    n_docs: int,
    avgdl: float,
    terms: tuple[str, ...],
    k: int = 10,
) -> DataFrame:
    """C5 tier (iv), production form: BM25 over the COMMITTED serving
    tables — ``tokens`` (conv_id, turn_idx, term, tf; bucketed by
    term so the term predicate prunes to the probed buckets),
    ``doc_lengths`` (conv_id, turn_idx, dl; pipeline stage 4) and the
    (n_docs, avgdl) scalars from the committed ``corpus_stats`` row.
    Nothing re-tokenizes and nothing scans the raw corpus: cost is
    |postings of the query terms| + one equi-join against doc_lengths.
    Same expressions as c5_search_bm25_topk (equality pinned in
    tests/test_sql_serving.py)."""
    hits = tokens.filter(F.col("term").isin(*terms))
    df_t = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.select(
        "term",
        F.log(
            (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    return (
        hits.join(F.broadcast(idf), "term")
        .join(doc_lengths, ["conv_id", "turn_idx"])
        .groupBy("conv_id", "turn_idx")
        .agg(F.round(F.sum(_bm25_score(
            F.col("tf"), F.col("idf"), F.col("dl"), F.lit(float(avgdl))
        )), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))
        .limit(k)
    )


def text_tfidf_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """C5 tier (iii) — tf-idf ranked retrieval (★): upgrade of the raw
    tf ranking in c5_search_rank_topk. idf = ln(N / df(term)) joins the
    (tiny, broadcastable) per-term document frequencies against the
    per-doc term frequencies; score = Σ tf·idf, rounded BEFORE the
    ranking so cross-engine ties are impossible. N enters the plan as a
    1-row aggregate cross-joined in (no driver-side count). At corpus
    scale df/idf come from the committed tokens table (pipeline stage
    3) instead of being recomputed — same expressions, different scan."""
    docs = t(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", ["doc_id"]).filter(
        F.col("term").isin(*TFIDF_TERMS)
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    idf = df_t.crossJoin(F.broadcast(n_docs)).select(
        "term", F.log(F.col("n") / F.col("df")).alias("idf")
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("tf") * F.col("idf")), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


SNIPPET_TERM = "spark"
SNIPPET_RADIUS = 30


def c5_search_snippets(spark: SparkSession, sf_dir: str,
                       *, term: str = SNIPPET_TERM,
                       radius: int = SNIPPET_RADIUS) -> DataFrame:
    """C5 tier (iii) — SNIPPET/HIGHLIGHT extraction, the ES
    ``highlight`` analog the search UI needs next to every ranked hit:
    for each matching doc, the first-occurrence offset, total hit
    count, and a ±radius context window with the term wrapped in
    <em> tags. Pure string expressions (locate/substring/replace) —
    map-only over the scan, no shuffle at any corpus size; in the
    serving flow it runs over the top-k rows of the ranked tiers, so
    the work is k snippets per query, not a corpus pass."""
    docs = t(spark, sf_dir, "documents")
    lo = F.lower(F.col("text"))
    pos = F.locate(term, lo)
    start = F.greatest(F.lit(1), pos - radius)
    snip = F.substring(F.col("text"), start, radius * 2 + F.length(F.lit(term)))
    return (
        docs.select(
            "doc_id",
            pos.cast("int").alias("first_pos"),
            F.regexp_count(lo, F.lit(term)).cast("int").alias("n_hits"),
            F.replace(snip, F.lit(term),
                      F.lit(f"<em>{term}</em>")).alias("snippet"),
        )
        .filter(F.col("first_pos") > 0)
    )


FUZZY_QUERY = "vectr"  # an edit-distance-1 typo of the corpus term "vector"


def _deletion_variants(word: str) -> list[str]:
    """SymSpell deletion neighborhood: the word plus every
    single-character deletion (order-stable, deduped)."""
    out = [word]
    for i in range(len(word)):
        v = word[:i] + word[i + 1:]
        if v not in out:
            out.append(v)
    return out


def c5_search_fuzzy(
    spark: SparkSession, sf_dir: str, *, query: str = FUZZY_QUERY
) -> DataFrame:
    """C5 tier (vi) — FUZZY term search (ES ``fuzziness: 1`` analog)
    via the SymSpell symmetric-delete scheme: two terms are candidates
    iff their deletion neighborhoods ({word} ∪ single-deletions)
    intersect, which covers every edit-distance-1 pair
    (substitute/delete/insert) with a bounded L+1 fan-out — then
    levenshtein() verifies (the neighborhood admits a few ed-2 pairs).

    Plan shape for 10^12 docs: the fan-out runs over the DISTINCT
    VOCABULARY (one df agg first — at corpus scale the committed terms
    index), not over corpus rows; the query's own neighborhood is a
    handful of plan-time literals, so candidate selection is an
    ``isin`` FILTER pushed at the vocabulary scan — no join, no
    shuffle beyond the df agg. Top-k by document frequency is a
    TakeOrdered."""
    docs = t(spark, sf_dir, "documents")
    vocab = (
        tokenize(docs, "text", ["doc_id"])
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    qvars = _deletion_variants(query.lower())
    expanded = vocab.select(
        "term",
        "df",
        F.explode(
            F.expr(
                "array_union(array(term), transform(sequence(1, length(term)),"
                " i -> concat(substring(term, 1, i - 1),"
                " substring(term, i + 1, length(term) - i))))"
            )
        ).alias("variant"),
    )
    return (
        expanded.filter(F.col("variant").isin(qvars))
        .select("term", "df")
        .distinct()
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(query.lower())))
        .filter(F.col("dist") <= 1)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(10)
    )


RRF_K = 60          # the standard reciprocal-rank-fusion constant
RRF_POOL = 20       # per-scorer candidate pool feeding the fusion


def _rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame,
              rank_a: str, rank_b: str, k: int) -> DataFrame:
    """The ONE fusion kernel both hybrid tiers share (r5 review: a
    duplicated block would let RRF_K / rounding / tie-break semantics
    silently fork between endpoints — and each has a DuckDB twin that
    must stay in lockstep). Inputs are (doc_id, <rank>) lists of
    ≤RRF_POOL rows; a doc missing from one list contributes 0 for it
    (the coalesce — full-outer join leaves the absent rank null)."""
    contrib = lambda r: F.coalesce(  # noqa: E731 — twin mirrors this
        1.0 / (F.lit(float(RRF_K)) + F.col(r)), F.lit(0.0)
    )
    return (
        ranked_a.join(ranked_b, "doc_id", "full_outer")
        .select(
            "doc_id",
            rank_a,
            rank_b,
            F.round(contrib(rank_a) + contrib(rank_b), 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(k)
    )


def c5_search_hybrid_rrf(spark: SparkSession, sf_dir: str,
                         k: int = 10) -> DataFrame:
    """C5 tier (vii) — HYBRID retrieval via Reciprocal Rank Fusion
    (Cormack et al., SIGIR 2009): fuse the BM25 and tf-idf ranked
    lists with score = Σ 1/(RRF_K + rank), the standard way modern
    search stacks combine lexical scorers (and, in production, a
    lexical list with an ANN/vector list) without score calibration.

    Plan shape: each scorer is its existing TakeOrderedAndProject
    top-RRF_POOL (20 rows), so the fusion — rank assignment, full
    outer join, RRF sum — runs over ≤2·RRF_POOL rows regardless of
    corpus size; the single-partition rank windows are over a
    20-row list, not the corpus. At 10^12 docs the inputs swap to the
    committed-index scorers (c5_search_bm25_indexed) with identical
    fusion semantics. Determinism: both input lists round scores to
    4 dp before ranking with doc_id tie-breaks, ranks are ints, and
    the RRF sum is two IEEE doubles — cross-engine exact — rounded
    to 6 dp before the final ranking."""
    from pyspark.sql import Window

    bm = c5_search_bm25_topk(spark, sf_dir, k=RRF_POOL)
    ti = text_tfidf_topk(spark, sf_dir, k=RRF_POOL)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bmr = bm.select(
        "doc_id", F.row_number().over(w).cast("int").alias("bm25_rank")
    )
    tir = ti.select(
        "doc_id", F.row_number().over(w).cast("int").alias("tfidf_rank")
    )
    return _rrf_fuse(bmr, tir, "bm25_rank", "tfidf_rank", k)


def c5_search_hybrid_vector(spark: SparkSession, sf_dir: str,
                            k: int = 10) -> DataFrame:
    """C5 tier (viii) — LEXICAL + VECTOR hybrid retrieval, the
    production shape of modern search: RRF-fuse the BM25 list with an
    embedding-similarity list (exact cosine vs the vec_id=0 query
    vector; testdata convention: embeddings row vec_id=i is document
    doc_id=i's vector). Rank fusion needs no score calibration — the
    BM25 scores and cosine similarities never mix, only their ranks do
    — which is exactly why RRF is the default fusion in hybrid stacks.

    Plan shape: identical to c5_search_hybrid_rrf — both inputs are
    TakeOrderedAndProject top-RRF_POOL (the vector side swaps to the
    IVF/LSH probed searchers at corpus scale; rank is rank), so the
    fusion work is ≤2·RRF_POOL rows at any corpus size."""
    from pyspark.sql import Window

    from .similarity import ann_cosine_topk

    bm = c5_search_bm25_topk(spark, sf_dir, k=RRF_POOL)
    vec = ann_cosine_topk(spark, sf_dir, k=RRF_POOL)
    wb = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    wv = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    bmr = bm.select(
        "doc_id", F.row_number().over(wb).cast("int").alias("bm25_rank")
    )
    vr = vec.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).cast("int").alias("vec_rank"),
    )
    return _rrf_fuse(bmr, vr, "bm25_rank", "vec_rank", k)


def c2_keyset_page(spark: SparkSession, sf_dir: str,
                   page_size: int = 20) -> DataFrame:
    """C2 tier — KEYSET pagination (★): the ES ``search_after`` /
    DynamoDB ``ExclusiveStartKey`` analog. Deep pagination by OFFSET
    re-ranks everything before the page (OFFSET 10^9 reads 10^9 rows
    at any engine); keyset pagination turns "the page after cursor
    (ts₀, id₀)" into a range predicate on the unique sort key
    (ts, event_id), so the scan PRUNES to rows past the cursor
    (PushedFilters on ts — at production scale, partition/file-stats
    pruning on the sort-ordered table) and the page itself is
    TakeOrderedAndProject. The cursor is the previous page's last
    (ts, event_id) — here a pinned literal so the twin replays the
    identical page."""
    ev = t(spark, sf_dir, "events")
    c_ts = F.lit("2024-01-15 00:00:00").cast("timestamp")
    c_id = F.lit(5000)
    after = (F.col("ts") > c_ts) | (
        (F.col("ts") == c_ts) & (F.col("event_id") > c_id)
    )
    return (
        ev.filter(after & (F.col("event_type") != "error"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .limit(page_size)
    )


# --------------------------------------------------------------------
# Retrieval evaluation — batch retrieval + known-item ranking metrics.
# The missing piece of the search family: a pipeline that BUILDS
# retrievers (BM25, tf-idf, ANN, hybrid) also has to MEASURE them, at
# scale, inside the engine — recall@k / MRR / nDCG over a query batch,
# the standard IR-eval loop (Manning et al., IIR ch. 8) run as a plan.
# --------------------------------------------------------------------

EVAL_N_QUERIES = 25   # known-item query batch size
EVAL_QLEN = 6         # query = first QLEN corpus-split tokens of the doc
EVAL_K = 10           # ranking depth for recall@k / nDCG@k


def c5_search_bm25_batch(spark: SparkSession, sf_dir: str,
                         n_queries: int = EVAL_N_QUERIES,
                         k: int = EVAL_K) -> DataFrame:
    """C5 tier (ix) — BATCH BM25 retrieval (★): score a whole query
    batch against the corpus in ONE plan instead of one job per query
    (the lexical analog of ``ann_knn_join``). Queries are known-item:
    query ``qid`` = the distinct first EVAL_QLEN corpus-split tokens
    of document ``qid`` (self-supervised — no external data), the
    standard way to synthesize an IR eval set from a corpus.

    Plan shape at 10^12 docs: the (qid, term) batch is a broadcast
    (Q·QLEN rows); the corpus token stream is SEMI-JOIN pruned to the
    batch's terms before the tf census, so posting work ∝ query-term
    postings, never corpus vocabulary; per-(qid, doc) scores fan out
    from each posting by a broadcast join (≤Q rows per posting); the
    per-query ranking is ONE window partitioned by qid over candidate
    rows only. The production form swaps the tf census for the
    committed ``tokens`` index (c5_search_bm25_indexed's tables) —
    expressions are identical.

    Numeric discipline: each term's BM25 contribution is rounded to
    6 dp and summed as DECIMAL(18,6) — exact and order-independent in
    both engines — then the (qid, doc) score re-rounds to 4 dp before
    ranking with doc_id tie-breaks, so cross-engine rank flips are
    impossible (the text_zipf_fit / x_tool_pagerank discipline)."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    terms_arr = terms("text")
    # r6 (guide §2.4, §5): dl, qterms and tf each feed two consumers
    # (dl → corpus stats + the score join; qterms → the semi-join
    # pruner + the score fan-out; tf → document frequencies + scores),
    # and each re-derivation re-tokenized the corpus — 7 parquet scans
    # in the r5 executed plan. They materialize once per invocation;
    # in the production/indexed form (c5_search_bm25_batch_indexed)
    # these are exactly the committed tokens/doc_lengths tables and
    # the broadcast query batch.
    def _mk_qterms_tf():
        qt = materialize(docs.filter(F.col("doc_id") < n_queries).select(
            F.col("doc_id").alias("qid"),
            F.explode(F.slice(terms_arr, 1, EVAL_QLEN)).alias("term"),
        ).distinct(), "c5_search_bm25_batch:qterms")
        toks = tokenize(docs, "text", ["doc_id"]).join(
            F.broadcast(qt.select("term").distinct()), "term", "left_semi"
        )
        return qt, materialize(toks.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf")
        ), "c5_search_bm25_batch:tf")

    # dl and qterms are independent derivations, so their jobs overlap
    # (guide §2.6). r6 second sitting: tf depends on qterms but NOT on
    # dl, so it chains behind qterms in the same thread — the tf census
    # (the biggest of the three jobs) overlaps the dl materialization
    # instead of serializing behind both.
    built = overlap({
        "dl": lambda: materialize(docs.select(
            "doc_id", F.size(terms_arr).alias("dl")
        ), "c5_search_bm25_batch:dl"),
        "qterms_tf": _mk_qterms_tf,
    })
    dl, (qterms, tf) = built["dl"], built["qterms_tf"]
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "term",
        "avgdl",
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    contrib = F.round(_bm25_score(
        F.col("tf"), F.col("idf"), F.col("dl"), F.col("avgdl")
    ), 6).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(contrib).cast("double"), 4).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "doc_id", "rank", "score")
        .orderBy("qid", "rank")
    )


def c5_search_bm25_batch_indexed(
    tokens: DataFrame,
    doc_lengths: DataFrame,
    n_docs: int,
    avgdl: float,
    qterms: DataFrame,
    id_cols: list[str],
    k: int = EVAL_K,
) -> DataFrame:
    """Production form of ``c5_search_bm25_batch`` over the COMMITTED
    serving tables (``tokens`` (*id_cols, term, tf) bucketed by term,
    ``doc_lengths`` (*id_cols, dl), and the (n_docs, avgdl) scalars
    from the committed ``corpus_stats`` row) — nothing re-tokenizes
    and nothing scans the raw corpus: cost is |postings of the
    batch's terms| + one equi-join against doc_lengths, then the same
    per-qid window. ``qterms`` is the (qid, term) query batch (a
    broadcast here; a committed batch table repartitioned on term at
    million-query scale — the plan shape is unchanged). Same scoring
    expressions and the same 6dp-round→DECIMAL(18,6)-sum→4dp-score
    discipline as the self-contained form; equality pinned in
    tests/test_retrieval_eval.py (the c5_search_bm25_indexed
    precedent)."""
    from pyspark.sql import Window

    hits = tokens.join(
        F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
    )
    df_t = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.select(
        "term",
        F.log(
            (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    contrib = F.round(_bm25_score(
        F.col("tf"), F.col("idf"), F.col("dl"), F.lit(float(avgdl))
    ), 6).cast("decimal(18,6)")
    scored = (
        hits.join(F.broadcast(qterms), "term")
        .join(F.broadcast(idf), "term")
        .join(doc_lengths, id_cols)
        .groupBy("qid", *id_cols)
        .agg(F.round(F.sum(contrib).cast("double"), 4).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("score"), *[F.asc(c) for c in id_cols]
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", *id_cols, "rank", "score")
        .orderBy("qid", "rank")
    )


def eval_retrieval_known_item(spark: SparkSession, sf_dir: str,
                              n_queries: int = EVAL_N_QUERIES,
                              k: int = EVAL_K) -> DataFrame:
    """Retrieval EVALUATION, per query (★): known-item ranking metrics
    over the batch-BM25 run — for query qid the one relevant document
    IS document qid, so hit_rank = the rank at which the retriever
    returns its own source. Emits, per query: hit_rank (null = missed
    the top k), rr_at_k = 1/hit_rank (the MRR addend), ndcg_at_k =
    1/log2(hit_rank+1) (binary relevance, single relevant doc → ideal
    DCG = 1), hit = recall@k indicator. Queries whose documents yield
    no tokens (or miss top-k) stay in the output with zeros — an eval
    that silently drops failed queries overstates every metric.

    Scale: the run is Q·k rows; every join here is run-sized, never
    corpus-sized — the corpus-scale work already happened inside the
    batch retrieval plan."""
    docs = t(spark, sf_dir, "documents")
    run = c5_search_bm25_batch(spark, sf_dir, n_queries=n_queries, k=k)
    universe = docs.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("qid")
    )
    hits = run.filter(F.col("doc_id") == F.col("qid")).select(
        "qid", F.col("rank").alias("hit_rank")
    )
    return (
        universe.join(hits, "qid", "left")
        .select(
            "qid",
            "hit_rank",
            F.round(
                F.coalesce(1.0 / F.col("hit_rank"), F.lit(0.0)), 6
            ).alias("rr_at_k"),
            F.round(
                F.coalesce(
                    1.0 / F.log2(F.col("hit_rank") + 1.0), F.lit(0.0)
                ), 6
            ).alias("ndcg_at_k"),
            F.coalesce(
                (F.col("hit_rank").isNotNull()).cast("int"), F.lit(0)
            ).alias("hit"),
        )
        .orderBy("qid")
    )


def eval_retrieval_summary(spark: SparkSession, sf_dir: str,
                           n_queries: int = EVAL_N_QUERIES,
                           k: int = EVAL_K) -> DataFrame:
    """Retrieval EVALUATION, macro (★): one row of corpus-level
    retriever health — MRR@k, recall@k, mean nDCG@k over the known-
    item batch. Means are computed as exact DECIMAL(18,6) sums of the
    already-6dp-rounded per-query metrics divided by the query count
    (one IEEE division), so the averages are order-independent and
    cross-engine exact; a plain AVG over doubles could flip the 6th
    decimal between engines depending on reduction order."""
    m = eval_retrieval_known_item(spark, sf_dir, n_queries=n_queries, k=k)
    n = F.count(F.lit(1))
    exact_mean = lambda c: F.round(  # noqa: E731 — twin mirrors this
        F.sum(F.col(c).cast("decimal(18,6)")).cast("double") / n, 6
    )
    return m.agg(
        n.cast("long").alias("n_queries"),
        exact_mean("rr_at_k").alias("mrr_at_k"),
        F.round(F.sum("hit") / n, 6).alias("recall_at_k"),
        exact_mean("ndcg_at_k").alias("mean_ndcg_at_k"),
    )
