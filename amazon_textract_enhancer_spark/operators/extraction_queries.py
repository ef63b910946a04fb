"""Extraction-pipeline queries (SURVEY.md §2.A/§2.D) — the flagship
path over the north-rule transcript table.

Since round 3 the fixture corpus is COMMITTED, not per-query-generated
(VERDICT r2 item 4): the deterministic (seed=42) transcripts live in a
pure-Python parquet cache (``fixture_cache``); ONE Spark extraction
pass per (seed, sf) commits ``extracted_spans`` / ``blocks_long`` /
``nodes_long`` via TableIO (``_extraction``: manifest resume,
bucketed by conv_id), and every query below reads them. The same
cache also holds the single-node-oracle outputs, which the DuckDB twins
in ``registry.ORACLE_SQL`` read via ``read_parquet`` — so most of these
queries are now full-oracle (★), pinning Spark extraction ==
pure-Python reference extraction on every driver round. The one that
remains rows-only (✂) is genuinely non-SQL: ``x_turn_dedup_within``
(difflib sequence matching).

Corpus size scales with the driver's sf knob (VERDICT r1): sf0.01 → 40
conversations, sf0.1 → 400, always seed-42 deterministic.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixture_cache import WHALE_CAP, cache_dir, ensure_fixture_cache, table_path
from ..sources.tableio import TableIO
from ..stages import extract_turns, long_table
from .io_util import materialize, release
from .relational import ordered_concat

_CONVS_PER_SF = 4000  # sf0.01 → 40 convs
_MIN_CONVS = 8
_FIXTURE_CFG = "xfixture-v3"
_FIXTURE_BUCKETS = 8


def n_convs_for(sf_dir: str) -> int:
    """Parse the scale factor out of the sf_dir name (…/sf0.01) and
    scale the fixture corpus with it; unparseable dirs get the sf0.01
    default."""
    m = re.search(r"sf([0-9.]+)/?$", sf_dir or "")
    sf = float(m.group(1)) if m else 0.01
    return max(_MIN_CONVS, int(round(sf * _CONVS_PER_SF)))


# above this corpus size, generation itself goes distributed (per-conv
# seeded rngs; no single-node oracle exists at that scale anyway)
_DISTRIBUTED_GEN_MIN_CONVS = 1000


def fixture_transcripts(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """The committed north-rule input table (seed-42, sf-scaled).

    sf <= 0.25 (n_convs <= 1000): pure-Python cache shared with the
    DuckDB oracle twins. Above that: distributed per-conv-seeded
    generation committed ONCE via TableIO (VERDICT r2 item 4's sf>=1
    path — no driver-side generation anywhere)."""
    n = n_convs_for(sf_dir)
    if n <= _DISTRIBUTED_GEN_MIN_CONVS:
        ensure_fixture_cache(n)
        return spark.read.parquet(table_path(n, "transcripts"))
    from ..fixtures import generate_transcripts_distributed

    return _committed(spark, sf_dir, "transcripts", lambda commit: commit(
        generate_transcripts_distributed(spark, n, whale_cap=WHALE_CAP),
        "transcripts", bucket_col="conv_id", n_buckets=16,
    ))


def _fixture_io(n_convs: int) -> tuple[TableIO, str]:
    return (
        TableIO(os.path.join(cache_dir(n_convs), "warehouse")),
        f"fixture-seed42-n{n_convs}",
    )


def _committed(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """Fixture table ``name`` for this (seed, sf), read from TableIO. If it
    is not committed yet, ``build(commit)`` first passes each table it
    makes to ``commit(df, table, **commit_stage_kwargs)``. This is the
    production shape too: extraction is a committed pipeline stage, and
    serving queries read the table, not the UDF."""
    n = n_convs_for(sf_dir)
    # build the pure-Python cache BEFORE TableIO creates warehouse/
    # inside the cache dir (VERDICT r3 item 1: the old order made the
    # destination dir pre-exist at publish time on every clean tree)
    if n <= _DISTRIBUTED_GEN_MIN_CONVS:
        ensure_fixture_cache(n)
    io, snapshot = _fixture_io(n)
    if not io.is_committed(name, snapshot, _FIXTURE_CFG):
        build(lambda df, table, **kw: io.commit_stage(
            df, table, snapshot, _FIXTURE_CFG, **kw))
    return io.read_table(spark, name)


def _extraction(spark: SparkSession, sf_dir: str):
    """The ``_committed`` build of the fixture's one extraction pass, with
    the exchange BELOW the UDF (pipeline stage 1's shape): bucket the raw
    transcripts by conv_id, extract spans plus block/node arrays once,
    checkpoint, commit the three tables map-side, then free the
    checkpoint."""

    def build(commit) -> None:
        src = fixture_transcripts(spark, sf_dir).repartition(
            _FIXTURE_BUCKETS, "conv_id")
        turns = materialize(extract_turns(src), "fixture:extract")
        try:
            for table, df in (("extracted_spans", turns.drop("blocks", "nodes")),
                              ("blocks_long", long_table(turns, "blocks")),
                              ("nodes_long", long_table(turns, "nodes"))):
                commit(df, table, bucket_col="conv_id",
                       n_buckets=_FIXTURE_BUCKETS, pre_bucketed=True)
        finally:
            release(turns)

    return build


def fixture_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _committed(spark, sf_dir, "extracted_spans", _extraction(spark, sf_dir))


def fixture_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _committed(spark, sf_dir, "blocks_long", _extraction(spark, sf_dir))


def fixture_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _committed(spark, sf_dir, "nodes_long", _extraction(spark, sf_dir))


def fixture_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/C5-ii — the committed tokens inverted index over the fixture
    corpus (pipeline stage 3's shape: derived from the COMMITTED spans
    table, bucketed by term). Serving queries read THIS table; they
    never re-tokenize documents (VERDICT r3 item 5)."""
    from .serving import term_frequencies

    return _committed(spark, sf_dir, "tokens", lambda commit: commit(
        term_frequencies(fixture_spans(spark, sf_dir), "extracted_text",
                         ["conv_id", "turn_idx"]),
        "tokens", bucket_col="term", n_buckets=_FIXTURE_BUCKETS,
    ))


def fixture_query_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/B14 — the committed INGESTED blocks table over the B11
    fixture responses: raw paginated response JSON (fixture
    ``responses.parquet``; distributed generation past the oracle
    scope) → ``from_json`` parse + order-preserving chunk dedup
    (``sources.blockjson.parse_response_chunks``) → TableIO commit
    bucketed by conv_id. Queries over raw-JSON ingest read THIS table —
    the same committed-fixture discipline as spans/blocks/nodes."""
    from ..sources.blockjson import parse_response_chunks

    def build(commit) -> None:
        n = n_convs_for(sf_dir)
        if n <= _DISTRIBUTED_GEN_MIN_CONVS:
            resp = spark.read.parquet(table_path(n, "responses"))
        else:
            from ..fixtures import generate_query_responses_distributed

            resp = generate_query_responses_distributed(
                spark, fixture_transcripts(spark, sf_dir)
            )
        commit(parse_response_chunks(resp), "query_blocks",
               bucket_col="conv_id", n_buckets=_FIXTURE_BUCKETS)

    return _committed(spark, sf_dir, "query_blocks", build)


def x_query_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 (★) — query answering over INGESTED raw block JSON: the
    QUERY → ANSWER → QUERY_RESULT chain ([SVC:3036-3056]) with exactly
    ``core.blocks.answer_queries``' semantics (first resolved
    QUERY_RESULT in relationship order; dangling/mistyped ids skipped;
    ("", 0.0) default). The DuckDB twin reads the pure-Python reference
    answers (fixture ``answers.parquet`` — json.loads → merge_paginated
    → answer_queries over the SAME response JSON), so the ★ row pins
    the whole ingest chain: from_json parse, B14 cross-chunk dedup, and
    the first-resolved-answer pick, against an independent single-node
    implementation.

    Plan shape at scale: the blocks table is conv_id-bucketed (the
    query/result self-join and the per-query window are co-located);
    nothing leaves the executor except the final rows."""
    from ..sources.blockjson import answers_relational

    blocks = fixture_query_blocks(spark, sf_dir)
    out = answers_relational(blocks)
    return out.select(
        "conv_id",
        "turn_idx",
        "page",
        "question",
        "answer",
        # fixture confidences are 0.25-multiples: float32 → float64 is
        # exact, so the value hash is cast-stable across engines
        F.col("confidence").cast("double").alias("confidence"),
    ).orderBy("conv_id", "turn_idx", "question")


def x_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship extraction: per-turn main text + span counts,
    stable (conv_id, turn_idx) order."""
    spans = fixture_spans(spark, sf_dir)
    return spans.select(
        "conv_id",
        "turn_idx",
        "kind",
        "extracted_text",
        F.size("tables").cast("int").alias("n_tables"),
        F.size("forms").cast("int").alias("n_forms"),
        F.col("counters.skipped").alias("skipped"),
    ).orderBy("conv_id", "turn_idx")


def x_extract_tables_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/C3 — table-to-CSV artifacts: one row per reconstructed table."""
    spans = fixture_spans(spark, sf_dir)
    tb = spans.select(
        "conv_id", "turn_idx", F.posexplode("tables").alias("table_idx", "tbl")
    )
    return tb.select(
        "conv_id",
        "turn_idx",
        F.col("table_idx").cast("int").alias("table_idx"),
        F.col("tbl.page").alias("page"),
        F.col("tbl.n_rows").alias("n_rows"),
        F.col("tbl.n_cols").alias("n_cols"),
        F.col("tbl.csv").alias("csv"),
    ).orderBy("conv_id", "turn_idx", "table_idx")


def x_extract_forms_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/C4 — form key-value artifacts (case-insensitive key lookup is
    a filter on this view)."""
    spans = fixture_spans(spark, sf_dir)
    kv = spans.select(
        "conv_id", "turn_idx", F.posexplode("forms").alias("kv_idx", "kv")
    )
    return kv.select(
        "conv_id",
        "turn_idx",
        F.col("kv_idx").cast("int").alias("kv_idx"),
        F.col("kv.key").alias("key"),
        F.col("kv.value").alias("value"),
        F.col("kv.page").alias("page"),
        F.col("kv.selection").alias("selection"),
    ).orderBy("conv_id", "turn_idx", "kv_idx")


def x_counters_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — lineage counters rolled up per payload kind."""
    spans = fixture_spans(spark, sf_dir)
    return spans.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("counters.blocks_parsed").cast("long").alias("blocks_parsed"),
        F.sum("counters.nodes_parsed").cast("long").alias("nodes_parsed"),
        F.sum("counters.tables_reconstructed").cast("long").alias("tables_reconstructed"),
        F.sum("counters.kv_pairs").cast("long").alias("kv_pairs"),
        F.sum(F.when(F.col("counters.skipped"), 1).otherwise(0)).cast("long").alias("n_skipped"),
    )


def x_blocks_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded blocks table census (B2 type filter over the long form)."""
    blocks = fixture_blocks(spark, sf_dir)
    return blocks.groupBy("block_type").agg(F.count(F.lit(1)).alias("n"))


def x_nodes_density_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/D4 as Catalyst-planned ops over the exploded NODE table —
    the relational twin of the fused in-UDF classification. Recomputes
    main text per turn with groupBy + ``ordered_concat`` and the
    SAME density rule (constants from core.htmldom); equality with the
    fused path is asserted in tests/test_relational_nodes.py."""
    from ..core.htmldom import MAX_LINK_DENSITY, MIN_CONTENT_CHARS

    nodes = fixture_nodes(spark, sf_dir)
    text_nodes = nodes.filter(F.col("tag") == "#text")
    blocks = text_nodes.groupBy("conv_id", "turn_idx", "block_id").agg(
        F.min("node_id").alias("ord"),
        # join-with-spaces reconstruction: sum(chars) + (count-1)
        (F.sum("n_chars") + F.count(F.lit(1)) - 1).alias("n_chars"),
        F.sum("n_link_chars").alias("n_link_chars"),
        F.max(F.col("in_dropped").cast("int")).cast("boolean").alias("in_dropped"),
        F.max(F.col("in_table").cast("int")).cast("boolean").alias("in_table"),
        ordered_concat(["node_id"], "text", " ").alias("block_text"),
    )
    content = blocks.filter(
        (~F.col("in_dropped"))
        & (~F.col("in_table"))  # table text is emitted structurally
        & (F.col("n_chars") >= MIN_CONTENT_CHARS)
        & ((F.col("n_link_chars") / F.col("n_chars")) <= MAX_LINK_DENSITY)
    )
    return (
        content.groupBy("conv_id", "turn_idx")
        .agg(ordered_concat(["ord"], "block_text", "\n").alias("extracted_text"))
        .orderBy("conv_id", "turn_idx")
    )


def x_point_lookup_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 over extracted_spans: one conversation, stable turn order."""
    spans = fixture_spans(spark, sf_dir)
    return (
        spans.filter(F.col("conv_id") == "conv00000003")
        .select("conv_id", "turn_idx", "kind", "extracted_text")
        .orderBy("turn_idx")
    )


def x_search_tokens_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5-ii over the spans-derived tokens table: term document
    frequency, deterministic top-25."""
    from .serving import tokenize

    spans = fixture_spans(spark, sf_dir)
    toks = tokenize(spans, "extracted_text", ["conv_id", "turn_idx"])
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(25)
    )


def x_search_rank_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 tier (ii) over the COMMITTED tokens table — the production
    serving path (read the index, don't re-derive it). Terms are
    deterministic high-frequency fixture vocabulary."""
    from .serving import c5_search_tokens_indexed

    toks = fixture_tokens(spark, sf_dir)
    return c5_search_tokens_indexed(toks, ("vortex", "quartz", "zenith"), k=10)


def x_doc_text_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 as pure Catalyst dataflow over the exploded blocks table —
    equality with the fused path proven in tests/test_blocks_relational."""
    from .blocks_relational import document_text_relational

    blocks = fixture_blocks(spark, sf_dir)
    return document_text_relational(blocks).orderBy("conv_id", "turn_idx")


def x_tables_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6/B9 as Catalyst dataflow: dense-grid fill + CSV quoting in SQL."""
    from .blocks_relational import tables_relational

    blocks = fixture_blocks(spark, sf_dir)
    return tables_relational(blocks).orderBy("conv_id", "turn_idx", "table_id")


def x_kv_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 as Catalyst dataflow: VALUE-edge join + two B4 aggregations."""
    from .blocks_relational import kv_relational

    blocks = fixture_blocks(spark, sf_dir)
    return kv_relational(blocks).orderBy("conv_id", "turn_idx", "key")


def x_geometry_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 over real geometry: LINE blocks re-ordered by
    (page, geometry.top, geometry.left) — must reproduce the synthesis
    order; plus a containment predicate (top half of the page)."""
    from pyspark.sql import Window

    blocks = fixture_blocks(spark, sf_dir)
    lines = blocks.filter(F.col("block_type") == "LINE")
    w = Window.partitionBy("conv_id", "turn_idx", "page").orderBy(
        F.col("geometry.top"), F.col("geometry.left")
    )
    return (
        lines.withColumn("reading_rank", F.row_number().over(w).cast("int"))
        .withColumn("in_top_half", F.col("geometry.top") < 0.5)
        .select(
            "conv_id", "turn_idx", "page", "reading_rank", "in_top_half", "text"
        )
        .orderBy("conv_id", "turn_idx", "page", "reading_rank")
    )


def x_role_tool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-shape analytics over the full input schema: turns and
    extraction yield per (role, tool) — the conversational-agent twin
    of the reference's per-document job metadata queries."""
    tdf = fixture_transcripts(spark, sf_dir)
    spans = fixture_spans(spark, sf_dir)
    joined = spans.join(
        tdf.select("conv_id", "turn_idx", "tool"), on=["conv_id", "turn_idx"]
    )
    return joined.groupBy("role", "tool").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.length("extracted_text")).cast("long").alias("chars_extracted"),
        F.sum(F.size("tables")).cast("long").alias("n_tables"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def x_turn_dedup_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-conversation consecutive near-dup turns (grouped-map
    applyInPandas; per-group sequential logic)."""
    from .dedup import turn_dedup_within_conv

    spans = fixture_spans(spark, sf_dir)
    flagged = turn_dedup_within_conv(spans)
    return flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("dup_of_prev"), 1).otherwise(0)).cast("long").alias("n_dup_turns"),
        F.round(F.max("sim"), 4).alias("max_sim"),
    ).orderBy("conv_id")


def c3_table_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """✂ C3 — the reference's headline table-fetch serving endpoint
    (DynamoDB table-artifact lookup analog, SURVEY.md §2.C): table N of
    one (conv, turn) as CSV + dims, via try_element_at on the nested
    column — point predicate, no explode, bucket-pruned at production
    scale. Target (conv00000000, turn 2, table 1) is deterministic in
    the seed-42 fixture at every sf."""
    from .serving import c3_fetch_table

    spans = fixture_spans(spark, sf_dir)
    return c3_fetch_table(spans, "conv00000000", 2, 1)


def c4_form_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """✂ C4 — the reference's headline form-fetch serving endpoint:
    case-insensitive trimmed key lookup over one conversation's
    extracted KV spans ('Amount' exists in conv00000000 at every sf)."""
    from .serving import c4_fetch_form_value

    spans = fixture_spans(spark, sf_dir)
    return c4_fetch_form_value(spans, "conv00000000", "  aMoUnT ")


def sniff_kind_udf():
    """Scalar Arrow-vectorized pandas_udf (Series→Series) exposing the
    D1 payload sniffer as a column function — the lightest UDF shape
    (the fused stages use mapInArrow; this completes the UDF-surface
    matrix: scalar / batch-map / grouped-map / grouped-stateful)."""
    from pyspark.sql.functions import pandas_udf

    from ..core import sniff_kind

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's hint inspection cannot evaluate
    def _sniff(texts):
        return texts.map(lambda t: sniff_kind(t) if isinstance(t, str) else "plain")

    return pandas_udf(_sniff, "string")


def x_sniff_kind_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 as a scalar pandas_udf column function: payload-kind census of
    the transcript table without running full extraction."""
    tdf = fixture_transcripts(spark, sf_dir)
    return tdf.select(sniff_kind_udf()(F.col("text")).alias("kind")).groupBy(
        "kind"
    ).agg(F.count(F.lit(1)).alias("n"))


SFT_CONTEXT_TURNS = 4


def x_sft_context(spark: SparkSession, sf_dir: str,
                  *, context_turns: int = SFT_CONTEXT_TURNS) -> DataFrame:
    """SFT training-example ASSEMBLY (★) — the transcript-native
    packaging step that turns the extracted corpus into supervised
    fine-tuning pairs: for every assistant turn, the target is its
    extracted text and the context is the previous ``context_turns``
    turns rendered as "role: text" lines. This is the join between the
    north-rule extraction output and an instruction-tuning data loader.

    Plan shape: ONE window over the committed extracted_spans table
    partitioned by conv_id (the table is bucketed by conv_id, so at
    10^12 turns the sort is within-bucket and no extra exchange is
    needed beyond the bucketed layout); collect_list over a rows-frame
    preceding window + array_join builds the context without explode
    or UDF. Deterministic: (conv_id, turn_idx) is unique, so the frame
    order — and hence the joined string — is pinned; the DuckDB twin's
    windowed string_agg replays the identical frame."""
    from pyspark.sql import Window

    spans = fixture_spans(spark, sf_dir)
    line = F.concat(
        F.col("role"), F.lit(": "),
        F.coalesce(F.col("extracted_text"), F.lit("")),
    )
    base = spans.select(
        "conv_id", "turn_idx", "role", line.alias("line"),
        F.coalesce("extracted_text", F.lit("")).alias("target_text"),
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-context_turns, -1)
    )
    return (
        base.withColumn(
            "context_text",
            F.array_join(F.collect_list("line").over(w), "\n"),
        )
        .withColumn(
            "n_context_turns", F.count(F.lit(1)).over(w).cast("int")
        )
        .filter(F.col("role") == "assistant")
        .select(
            "conv_id", "turn_idx", "n_context_turns",
            "context_text", "target_text",
        )
    )


# conversation-prefix dedup: k turns fingerprinted, every 7th conv
# gets a planted "-retry" twin sharing exactly that prefix (the
# dedup_incremental planted-clone discipline — the fixture corpus has
# no natural cross-conv duplication, so evidence needs known positives)
PREFIX_K = 3
RETRY_MOD = 7


def _retry_twins(tdf: DataFrame, k: int = PREFIX_K) -> DataFrame:
    """DERIVED '-retry' twin conversations for every conv whose index
    is ≡0 (mod RETRY_MOD): identical turns below k, deterministic
    divergence text at and after k (through k+1). Built in-plan from
    the committed table — the shared evidence substrate for
    ``x_conv_prefix_dedup`` (finds the families) and ``x_dpo_pairs``
    (assembles preference pairs from them)."""
    conv_num = F.expr("CAST(substring(conv_id, 5) AS INT)")
    return (
        tdf.filter((conv_num % RETRY_MOD == 0) & (F.col("turn_idx") < k + 2))
        .select(
            F.concat("conv_id", F.lit("-retry")).alias("conv_id"),
            "turn_idx",
            "role",
            F.when(F.col("turn_idx") < k, F.col("text"))
            .otherwise(
                F.concat(
                    F.lit("retry divergence "),
                    F.md5(F.concat(
                        "conv_id", F.lit(":"),
                        F.col("turn_idx").cast("string"),
                    )),
                )
            )
            .alias("text"),
        )
    )


def x_conv_prefix_dedup(spark: SparkSession, sf_dir: str,
                        *, k: int = PREFIX_K) -> DataFrame:
    """Conversation-PREFIX dedup (★) — the agent-transcript failure
    mode the doc-level dedup family can't see: retried / re-driven
    conversations share their first k turns verbatim (same system
    prompt, same few-shot, same opening user turn) and only diverge
    later. Grouping conversations by a fingerprint of the first-k-turn
    (role, text) sequence finds those families so a training pipeline
    keeps one canonical member (or trims the shared prefix).

    Evidence protocol: the committed fixture corpus is seed-42 random
    per turn, so true prefix collisions don't occur naturally; every
    conversation whose index is ≡0 (mod 7) gets a DERIVED ``-retry``
    twin — identical turns below k, deterministic divergence at and
    after k — built in-plan from the committed table (no side data).
    The DuckDB twin replays the identical derivation, so group sizes
    and keep flags are value-hash-pinned end to end.

    Plan shape at 10^12 turns: the prefix scan filters turn_idx < k
    at the source (pushed to the bucketed parquet scan, k/avg_turns of
    the table read); the fingerprint agg groups by conv_id — the table
    is bucketed by conv_id, so no exchange — via ``ordered_concat``,
    the struct-sorted collect_list (F5: partition-order independent);
    grouping then shuffles ONE row per conversation (4 orders smaller
    than the turn table) on prefix_fp. No UDF anywhere."""
    tdf = fixture_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    aug = tdf.unionByName(_retry_twins(tdf, k))
    line = F.concat(F.col("role"), F.lit("|"), F.coalesce("text", F.lit("")))
    pref = (
        aug.filter(F.col("turn_idx") < k)
        .groupBy("conv_id")
        .agg(
            F.md5(ordered_concat(["turn_idx"], line, "\x1e")).alias("prefix_fp"),
            F.count(F.lit(1)).cast("int").alias("n_prefix_turns"),
        )
    )
    from pyspark.sql import Window

    g = Window.partitionBy("prefix_fp")
    return pref.select(
        "conv_id",
        "prefix_fp",
        "n_prefix_turns",
        F.count(F.lit(1)).over(g).cast("int").alias("group_size"),
        (F.col("conv_id") == F.min("conv_id").over(g)).alias("keep"),
    )


def x_dpo_pairs(spark: SparkSession, sf_dir: str,
                *, k: int = PREFIX_K) -> DataFrame:
    """Preference-pair ASSEMBLY (★) — the DPO/RLHF data product built
    from retry families: for every conversation with a ``-retry`` twin
    (``_retry_twins``), the pair is

    - ``prompt``   = the shared first-k turns rendered as "role: text"
      lines (identical in both family members by construction),
    - ``chosen``   = the ORIGINAL conversation's turn at index k (the
      continuation that was kept),
    - ``rejected`` = the retry's diverged turn at index k.

    In production the chosen/rejected signal comes from ratings or an
    outcome label; here the planted derivation IS the signal
    (original preferred over divergence), which keeps the assembly —
    the part under test — fully deterministic and twin-checkable.

    Plan shape at 10^12 turns: turn_idx <= k filters push to the
    bucketed scan; prompt assembly is ``ordered_concat`` per conv (no
    exchange on the bucketed table); the final shape is two conv_id
    equi-joins of conv-level rows (one row per retry
    family — 5 orders smaller than the turn table). No UDF."""
    tdf = fixture_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    conv_num = F.expr("CAST(substring(conv_id, 5) AS INT)")
    fam = tdf.filter(conv_num % RETRY_MOD == 0)
    line = F.concat(F.col("role"), F.lit(": "), F.coalesce("text", F.lit("")))
    prompt = (
        fam.filter(F.col("turn_idx") < k)
        .groupBy("conv_id")
        .agg(ordered_concat(["turn_idx"], line, "\n").alias("prompt"))
    )
    chosen = fam.filter(F.col("turn_idx") == k).select(
        "conv_id", "role", F.col("text").alias("chosen")
    )
    rejected = (
        _retry_twins(fam, k)
        .filter(F.col("turn_idx") == k)
        .select(
            F.expr("substring(conv_id, 1, length(conv_id) - 6)")
            .alias("conv_id"),
            F.col("text").alias("rejected"),
        )
    )
    return (
        prompt.join(chosen, "conv_id")
        .join(rejected, "conv_id")
        .select("conv_id", "role", "prompt", "chosen", "rejected")
    )


def x_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-triplet ASSEMBLY (★) — training data for a
    retrieval/embedding model from transcripts: per (user turn →
    assistant reply) adjacency,

    - ``anchor``   = the user turn's text,
    - ``positive`` = the assistant reply that follows it in the same
      conversation (the aligned pair),
    - ``negative`` = the representative assistant turn of ANOTHER
      conversation drawn by a deterministic content hash (the
      reproducible stand-in for in-batch negatives: same triplets on
      every run, engine, partitioning — so the assembly is
      oracle-checkable).

    Negative draw (the classic sample-from-n-minus-1-and-shift rule,
    exact — never the anchor's own conversation): rank the distinct
    assistant-bearing conversations 1..n; the anchor draws rank
    1 + (h mod (n-1)) with h = md5 of its identity, then shifts by +1
    when the draw is >= its own conversation's rank — a bijection
    onto the OTHER n-1 conversations. The negative text is that
    conversation's first assistant turn.

    Plan shape: the adjacency is ONE lead() window per conversation
    (table bucketed by conv_id — no exchange); the conversation pool
    is conv-level (4 orders smaller than the turn table), its count
    is a 1-row broadcast cross join so the pick is computable
    ANCHOR-SIDE and both pool joins stay equi-joins (a mixed-side
    modulo condition would force a nested loop). At 10^12 turns the
    pool is a committed SAMPLE of conversations (exact-k per stratum)
    with precomputed ranks — the committed-stats discipline of
    ann_lsh_bucketed's corpus_count; never rank 10^9 conversations
    with one global window in-query."""
    from pyspark.sql import Window

    tdf = fixture_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    anchors = (
        tdf.withColumn("next_role", F.lead("role").over(w))
        .withColumn("positive", F.lead("text").over(w))
        .filter(
            (F.col("role") == "user")
            & (F.col("next_role") == "assistant")
            & F.col("text").isNotNull()
            & F.col("positive").isNotNull()
        )
        .select("conv_id", "turn_idx", F.col("text").alias("anchor"), "positive")
    )
    # conv-level pool: one representative assistant turn per conv
    # (min turn_idx — turn_idx is unique per conv so the struct-min is
    # the F5-stable argmin), ranked by conv_id
    pool = (
        tdf.filter((F.col("role") == "assistant") & F.col("text").isNotNull())
        .groupBy(F.col("conv_id").alias("neg_conv"))
        .agg(
            F.min(F.struct("turn_idx", "text"))["text"].alias("neg_text")
        )
        .withColumn(
            "cid", F.row_number().over(Window.orderBy("neg_conv")).cast("long")
        )
    )
    pool_n = pool.agg(F.count(F.lit(1)).cast("long").alias("pool_n"))
    h = F.conv(
        F.substring(
            F.md5(F.concat("conv_id", F.lit(":"), F.col("turn_idx").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    own = pool.select(F.col("neg_conv").alias("conv_id"), F.col("cid").alias("own_cid"))
    a = (
        anchors.join(F.broadcast(own), "conv_id")
        .crossJoin(F.broadcast(pool_n))
        # pool_n >= 2 guard (ADVICE r5): with a single assistant-bearing
        # conversation the draw is modulo-by-zero — Spark would yield
        # null and silently drop every anchor while DuckDB raises, a
        # cross-engine divergence. An explicit in-plan filter makes both
        # engines agree on the defined semantics: no other conversation
        # exists to draw a negative from, so the triplet set is empty.
        .filter(F.col("pool_n") > 1)
        .withColumn("draw", h % (F.col("pool_n") - 1) + 1)
        .withColumn(
            "cid",
            F.when(F.col("draw") >= F.col("own_cid"), F.col("draw") + 1).otherwise(
                F.col("draw")
            ),
        )
    )
    return a.join(F.broadcast(pool), "cid").select(
        "conv_id",
        "turn_idx",
        "anchor",
        "positive",
        F.col("neg_text").alias("negative"),
        "neg_conv",
    )


def x_tool_call_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent WORKFLOW MINING (★): the tool-transition bigram census —
    for each conversation's tool-role turns in turn order, count
    (tool_from -> tool_to) transitions and how many conversations
    exhibit each. The ES/agent-analytics question "which tools chain
    into which" answered as one window + one tiny agg.

    Plan shape: the lead() window partitions by conv_id — co-located
    for free on the conv_id-bucketed committed table (F1), so at 10^12
    turns the window is a within-partition sort, and the transition agg
    is a handful of (tool, tool) keys with map-side partials."""
    from pyspark.sql import Window

    tdf = fixture_transcripts(spark, sf_dir).filter(
        F.col("tool").isNotNull()
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = tdf.select(
        "conv_id",
        F.col("tool").alias("tool_from"),
        F.lead("tool").over(w).alias("tool_to"),
    ).filter(F.col("tool_to").isNotNull())
    return pairs.groupBy("tool_from", "tool_to").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def x_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide LINE deduplication over the extracted
    corpus (Raffel et al. 2020 §2.2's "discard all but one of any
    repeated span" applied at line granularity): a non-empty line
    survives only in its corpus-FIRST occurrence (ordered by conv_id,
    turn_idx, line_no); later copies — the repeated navigation /
    boilerplate lines the HTML extractor could not drop because they
    are unique WITHIN each page but repeated ACROSS the corpus — are
    removed, and each turn's text is re-assembled from its surviving
    lines. Empty lines are dropped outright (deduping them would
    collapse every blank line in the corpus to one survivor; keeping
    them all would preserve no content — dropping is C4's behavior).

    Plan shape for 10^12 turns: posexplode is map-side; the winner per
    line is a groupBy(line).min(struct(conv_id, turn_idx, line_no)) —
    ONE shuffle ∝ distinct lines with map-side partial minima, so the
    classic hot-boilerplate skew (one line in 10^9 turns) collapses in
    the map phase instead of flooding one reducer (the window-function
    formulation would sort the whole hot partition; the min-agg never
    does). The flag join back is key=line again (ReusedExchange
    eligible), and re-assembly groups by (conv_id, turn_idx) — the
    committed table's bucket key. Deterministic: struct min is
    lexicographic on (conv_id, turn_idx, line_no), all unique."""
    spans = fixture_spans(spark, sf_dir)
    lines = spans.select(
        "conv_id",
        "turn_idx",
        F.posexplode(
            F.split(F.coalesce(F.col("extracted_text"), F.lit("")), "\n")
        ).alias("line_no", "line"),
    )
    winners = (
        lines.filter(F.col("line") != "")
        .groupBy("line")
        .agg(F.min(F.struct("conv_id", "turn_idx", "line_no")).alias("w"))
    )
    flagged = lines.join(winners, "line", "left").select(
        "conv_id",
        "turn_idx",
        "line_no",
        "line",
        (
            (F.col("line") != "")
            & (F.struct("conv_id", "turn_idx", "line_no") == F.col("w"))
        ).alias("keep"),
    )
    return (
        flagged.groupBy("conv_id", "turn_idx")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.sum(F.col("keep").cast("int")).cast("int").alias("n_kept"),
            # a dropped line's NULL adds nothing to the concat
            ordered_concat(["line_no"], F.when(F.col("keep"), F.col("line")),
                           "\n").alias("cleaned_text"),
        )
    )


def _template_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(conv_id, turn_idx, template_id, n_nodes) — the per-turn DOM
    skeleton fingerprint: md5 of the node_id-ordered (depth:tag)
    sequence (``ordered_concat``, the B4 ordered aggregation). ONE
    groupBy over the conv_id-bucketed committed nodes table; the
    32-byte key is what every downstream template op
    shuffles, never the node list."""
    nodes = fixture_nodes(spark, sf_dir)
    tok = F.concat_ws(":", F.col("depth").cast("string"), F.col("tag"))
    return nodes.groupBy("conv_id", "turn_idx").agg(
        F.md5(ordered_concat(["node_id"], tok, "|")).alias("template_id"),
        F.count(F.lit(1)).cast("int").alias("n_nodes"),
    )


def x_dom_template_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM TEMPLATE mining over the extracted node table: fingerprint
    every turn's DOM *skeleton* — the (depth, tag) sequence in document
    order, content-blind — and census the templates. Turns sharing a
    fingerprint were rendered from the same page template, which is
    what template-level boilerplate removal, scraper drift detection,
    and per-template extraction QA key on at web scale (a handful of
    templates usually cover most of a crawl).

    Plan shape: the per-turn fingerprint is ONE groupBy over the
    conv_id-bucketed committed nodes table (struct-sorted collect_list
    by node_id — the B4 ordered-aggregation pattern — then md5 of the
    joined sequence, so the key shipped to the census is 32 bytes, not
    the node list); the census is a second tiny agg keyed by
    fingerprint. Deterministic: node_id is unique per turn, md5 is
    portable, and the DuckDB twin replays the identical
    string_agg(ORDER BY node_id) → md5 chain over the pure-Python
    reference nodes — so a green row pins the Spark DOM parse ==
    reference parse at STRUCTURE level, complementing
    x_nodes_density_relational's text-level pin."""
    sig = _template_signatures(spark, sf_dir)
    return (
        sig.groupBy("template_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.min("n_nodes").alias("n_nodes"),
            F.min(F.struct("conv_id", "turn_idx")).alias("ex"),
        )
        .select(
            "template_id",
            "n_turns",
            "n_nodes",
            F.col("ex.conv_id").alias("example_conv_id"),
            F.col("ex.turn_idx").alias("example_turn_idx"),
        )
    )

def x_template_extraction_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TEMPLATE extraction QA — the census's consumer: for every
    DOM template, how the extractor performed on the turns rendered
    from it (total extracted characters, skip count, tables and KV
    pairs recovered). This is how a crawl pipeline finds the template
    whose turns suddenly extract to nothing after a site redesign —
    per-turn metrics are too noisy, corpus-wide ones too coarse; the
    template is the natural QA unit.

    Plan shape: the per-turn signature agg (32-byte keys) equi-joins
    extracted_spans on (conv_id, turn_idx) — BOTH sides are bucketed
    by conv_id, so at 10^12 turns the join is co-located — then one
    template-keyed agg whose metrics are all EXACT integers (no
    floating aggregation anywhere, so cross-engine hashing is
    trivially stable). Twin composes the same chain over the
    pure-Python reference nodes + spans, pinning parse AND extraction
    per template."""
    sig = _template_signatures(spark, sf_dir)
    spans = fixture_spans(spark, sf_dir)
    joined = sig.join(spans, ["conv_id", "turn_idx"])
    return (
        joined.groupBy("template_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum(
                F.length(F.coalesce("extracted_text", F.lit("")))
            ).cast("long").alias("sum_chars"),
            F.sum(
                F.col("counters.skipped").cast("int")
            ).cast("long").alias("n_skipped"),
            F.sum("counters.tables_reconstructed")
            .cast("long").alias("n_tables"),
            F.sum("counters.kv_pairs").cast("long").alias("n_kv"),
        )
    )


def x_tool_pagerank(spark: SparkSession, sf_dir: str,
                    *, damping: float = 0.85,
                    n_iters: int = 2) -> DataFrame:
    """Tool-transition PAGERANK (★) — workflow-mining centrality over
    the x_tool_call_graph edges: which tools does agent traffic flow
    INTO, weighted by how often their predecessors run. Damped
    weighted PageRank, ``n_iters`` rounds unrolled into the plan from
    a uniform start (the embed_kmeans fixed-budget discipline applied
    to a link-analysis recurrence). Dangling-node mass is dropped
    (ranks sum < 1) — the diagnostic RANKING is unchanged and the twin
    stays closed-form; the redistribution variant adds one 1-row agg
    per round.

    Cross-engine exactness: per-edge contributions round to 10dp and
    sum as DECIMAL(18,10) (order-independent in both engines — the
    text_zipf_fit discipline), each round's rank re-rounds to 6dp, so
    every trajectory value is pinned.

    Scale shape: the graph is |tools|² at most (tools are a catalog,
    not a corpus) — every join here is broadcast-sized; the one
    corpus-scale stage is the edge census itself, which is
    x_tool_call_graph's window over the conv_id-bucketed table."""
    # one source of truth for the edge table: the census operator
    # itself (r5 review — a re-derived lead window here could silently
    # diverge from the census it claims to rank if the transition
    # definition ever changes). r6 (guide §2.4): the census window is
    # the ONE corpus-scale stage here, but the edge table feeds every
    # downstream consumer (nodes twice, the out-weight agg, and each
    # unrolled round's contribution join), so left lazy it re-executed
    # per consumer. Materialize once — it is |tools|²-bounded, the
    # committed call-graph table at scale.
    edges = materialize(x_tool_call_graph(spark, sf_dir).select(
        "tool_from", "tool_to", F.col("n_transitions").alias("n")
    ), "x_tool_pagerank:edges")
    nodes = (
        edges.select(F.col("tool_from").alias("tool"))
        .unionByName(edges.select(F.col("tool_to").alias("tool")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    outw = edges.groupBy("tool_from").agg(F.sum("n").alias("outw"))
    pr = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .select("tool", F.round(F.lit(1.0) / F.col("n_nodes"), 6).alias("pr"))
    )
    for _ in range(n_iters):
        contrib = (
            edges.join(F.broadcast(pr),
                       edges.tool_from == pr.tool, "inner")
            .join(F.broadcast(outw), "tool_from")
            .select(
                F.col("tool_to").alias("tool_c"),
                F.round(
                    F.col("pr") * F.col("n") / F.col("outw"), 10
                ).cast("decimal(18,10)").alias("c"),
            )
            .groupBy("tool_c")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(n_nodes))
            .join(F.broadcast(contrib),
                  F.col("tool") == F.col("tool_c"), "left")
            .select(
                "tool",
                F.round(
                    (1.0 - damping) / F.col("n_nodes")
                    + damping * F.coalesce(F.col("s"), F.lit(0.0)),
                    6,
                ).alias("pr"),
            )
        )
    return pr.join(F.broadcast(outw),
                   pr.tool == outw.tool_from, "left").select(
        "tool", "pr", F.coalesce(F.col("outw"), F.lit(0)).alias("out_weight")
    )
