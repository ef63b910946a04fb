"""Property-based robustness: extract_turn must NEVER raise and always
return a schema-complete result for ARBITRARY text (the D6 quarantine
contract — a turn never fails the job), and stays deterministic.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from amazon_textract_enhancer_spark.core import extract_turn

_REQUIRED_KEYS = {"kind", "extracted_text", "tables", "forms", "counters",
                  "blocks", "nodes"}
_COUNTER_KEYS = {"blocks_parsed", "nodes_parsed", "tables_reconstructed",
                 "kv_pairs", "dangling_ids", "skipped", "skip_reason"}


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=4000))
def test_extract_never_raises_on_arbitrary_text(text):
    res = extract_turn("fuzz|0", text)
    assert set(res) == _REQUIRED_KEYS
    assert set(res["counters"]) == _COUNTER_KEYS
    assert res["kind"] in ("html", "layout", "plain")
    assert isinstance(res["extracted_text"], str)
    for tb in res["tables"]:
        assert tb["n_rows"] >= 1 and tb["n_cols"] >= 1
        assert isinstance(tb["csv"], str)
    # determinism
    assert extract_turn("fuzz|0", text) == res


@settings(max_examples=150, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from(list("<>/abps xy=.|0123456789\"'&;\n")),
        max_size=2000,
    )
)
def test_extract_never_raises_on_markup_soup(text):
    """Tag-dense garbage aimed at the html/layout parsers specifically."""
    res = extract_turn("fuzz|1", text)
    assert isinstance(res["extracted_text"], str)
    assert res["counters"]["skipped"] in (True, False)


def test_hostile_payloads_through_spark_stages(spark):
    """The same quarantine contract one level up: hostile payloads go
    through all three Spark extraction tables without failing the job,
    empty ones are marked skipped, and the long tables hold exactly the
    blocks/nodes the core emits for each turn."""
    from amazon_textract_enhancer_spark.stages import (
        extract_blocks_long,
        extract_nodes_long,
        extract_spans,
    )

    payloads = [
        None,
        "",
        "   \n\t  ",
        "\x00\xff\xfe\x01garbage\x7f" * 50,
        "<html><body><div><p>unclosed <b>bold <table><tr><td>cell",
        "x=50 y=20 page=1 | Name: Ann\nx=oops y=1 page=1 | bad\nnot layout\n"
        "x=50 y=32 page=1 | Total: 3",
        "x" * 100_000,
        "<html><body><p>ok</p><table><tr><td>a</td><td>b</td></tr></table></body></html>",
    ]
    rows = [("hostile", i, "user", tx) for i, tx in enumerate(payloads)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")

    spans = {r["turn_idx"]: r for r in extract_spans(df).collect()}
    assert sorted(spans) == list(range(len(payloads)))
    for i in (0, 1):
        assert spans[i]["counters"]["skipped"] is True
        assert spans[i]["counters"]["skip_reason"]
    assert spans[5]["kind"] == "layout"
    assert spans[5]["counters"]["skip_reason"] == "layout:2-malformed-lines"

    for build, key in ((extract_blocks_long, "blocks"), (extract_nodes_long, "nodes")):
        got = {r["turn_idx"]: r["n"] for r in
               build(df).groupBy("turn_idx").count().withColumnRenamed("count", "n").collect()}
        want = {i: len(extract_turn(f"hostile|{i}", tx)[key]) for i, tx in enumerate(payloads)}
        assert {i: got.get(i, 0) for i in want} == want, key
