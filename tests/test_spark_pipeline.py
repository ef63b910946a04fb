"""M1 tests — Spark pipeline vs single-node oracle (golden equality).

The north-rule invariant (BASELINE.json:14): per-turn text equality
with the reference extractor under stable (conv_id, turn_idx) ordering.
Oracle and pipeline share core/ verbatim; these tests PROVE equality on
the fixture table, including identical results across parallelism
levels (order independence — SURVEY.md §5.4).
"""

from __future__ import annotations

import pytest

from amazon_textract_enhancer_spark import oracle
from amazon_textract_enhancer_spark.fixtures import generate_transcripts
from amazon_textract_enhancer_spark.stages import (
    extract_blocks_long,
    extract_nodes_long,
    extract_spans,
)


@pytest.fixture(scope="module")
def spans_rows(transcripts_df):
    out = (
        extract_spans(transcripts_df)
        .orderBy("conv_id", "turn_idx")  # F5 stable-order discipline
        .collect()
    )
    return out


@pytest.fixture(scope="module")
def golden_spans():
    rows, _ = generate_transcripts(seed=42, n_convs=25)
    return oracle.extract_rows(rows)


def test_per_turn_text_equality(spans_rows, golden_spans):
    assert len(spans_rows) == len(golden_spans)
    for got, want in zip(spans_rows, golden_spans):
        assert got["conv_id"] == want["conv_id"]
        assert got["turn_idx"] == want["turn_idx"]
        assert got["extracted_text"] == want["extracted_text"], (
            got["conv_id"], got["turn_idx"])
        assert got["kind"] == want["kind"]


def test_tables_and_forms_structural_equality(spans_rows, golden_spans):
    for got, want in zip(spans_rows, golden_spans):
        assert len(got["tables"]) == len(want["tables"])
        for gt, wt in zip(got["tables"], want["tables"]):
            assert gt["n_rows"] == wt["n_rows"]
            assert gt["n_cols"] == wt["n_cols"]
            assert gt["csv"] == wt["csv"]
            assert [(c["r"], c["c"], c["text"], c["is_header"]) for c in gt["cells"]] == [
                (c["r"], c["c"], c["text"], c["is_header"]) for c in wt["cells"]
            ]
        assert [(f["key"], f["value"], f["page"], f["selection"]) for f in got["forms"]] == [
            (f["key"], f["value"], f["page"], f["selection"]) for f in want["forms"]
        ]


def test_counters_match(spans_rows, golden_spans):
    for got, want in zip(spans_rows, golden_spans):
        gc, wc = got["counters"], want["counters"]
        for k in ("blocks_parsed", "nodes_parsed", "tables_reconstructed",
                  "kv_pairs", "dangling_ids", "skipped"):
            assert gc[k] == wc[k], (got["conv_id"], got["turn_idx"], k)


def test_parallelism_independence(spark, transcripts_df, golden_spans):
    """Same goldens from 1 partition and 16 partitions (SURVEY.md §5.4)."""
    for nparts in (1, 16):
        out = (
            extract_spans(transcripts_df.repartition(nparts))
            .orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "extracted_text")
            .collect()
        )
        assert [(r["conv_id"], r["turn_idx"], r["extracted_text"]) for r in out] == [
            (g["conv_id"], g["turn_idx"], g["extracted_text"]) for g in golden_spans
        ]


def test_blocks_long_table(spark, transcripts_df, golden_spans):
    blocks = extract_blocks_long(transcripts_df).cache()
    try:
        n_tables_long = blocks.filter("block_type = 'TABLE'").count()
        # the Block forest is synthesized for layout payloads only; html
        # tables are recovered from the DOM and live in spans.tables
        want_tables = sum(
            len(g["tables"]) for g in golden_spans if g["kind"] == "layout"
        )
        assert n_tables_long == want_tables
        # every emitted block type is a valid Textract enum value
        from amazon_textract_enhancer_spark.schemas import BLOCK_TYPES
        got_types = {r["block_type"] for r in blocks.select("block_type").distinct().collect()}
        assert got_types <= BLOCK_TYPES
        # 1-based grid indices on CELLs
        bad = blocks.filter("block_type = 'CELL' AND (row_index < 1 OR column_index < 1)").count()
        assert bad == 0
    finally:
        blocks.unpersist()


def test_nodes_long_table(spark, transcripts_df, golden_spans):
    nodes = extract_nodes_long(transcripts_df)
    n_nodes = nodes.count()
    want_nodes = sum(g["counters"]["nodes_parsed"] for g in golden_spans)
    assert n_nodes == want_nodes


def test_extract_plan_shape(transcripts_df):
    """Each extraction table is ONE Python eval node and no shuffle: the
    long tables are Catalyst ``inline``s over the same single pass."""
    for build in (extract_spans, extract_blocks_long, extract_nodes_long):
        plan = build(transcripts_df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, build.__name__
        assert "Exchange" not in plan, build.__name__  # extraction is shuffle-free


def test_extract_turn_called_at_one_site():
    """One extraction pass: ``extract_turn`` has a single call site in
    the Spark stages; the only others are the pure-Python reference
    paths (single-node oracle, fixture cache writer)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "amazon_textract_enhancer_spark"
    sites = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) == "extract_turn"
    ]
    assert sorted(sites) == ["fixture_cache.py", "oracle.py", "stages.py"], sites


def test_distributed_generator_partition_agnostic(spark):
    """The sf>=1 generation path: per-conv-seeded mapInArrow generation
    is deterministic and independent of partition count (each conv
    derives only from its own index)."""
    from amazon_textract_enhancer_spark.fixtures import (
        generate_transcripts_distributed,
    )

    a = generate_transcripts_distributed(spark, 48, whale_cap=60).orderBy(
        "conv_id", "turn_idx"
    ).collect()
    b = generate_transcripts_distributed(spark, 48, whale_cap=60).repartition(
        7
    ).orderBy("conv_id", "turn_idx").collect()
    assert len(a) > 100
    assert a == sorted(b, key=lambda r: (r["conv_id"], r["turn_idx"]))
    # all three payload kinds present and extractable
    from amazon_textract_enhancer_spark.stages import extract_spans

    df = generate_transcripts_distributed(spark, 48, whale_cap=60)
    kinds = {r["kind"] for r in extract_spans(df).select("kind").distinct().collect()}
    assert kinds == {"html", "layout", "plain"}
