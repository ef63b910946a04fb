"""B1–B10 as pure Catalyst dataflow over the exploded ``blocks`` table
(SURVEY.md §7.1 M2: "D3/D4 and B4–B12 as Catalyst-planned operators …
alongside the fused path").

The fused UDF path (core/blocks.py inside stages.extract_spans) and
these relational forms are proven equal on the fixture corpus in
tests/test_blocks_relational.py — the dataflow decomposition is:

- B1 block-map lookup  → self-equi-join on (conv_id, turn_idx, id)
- B3 CHILD traversal   → posexplode(child_ids) keeps Relationship order
- B4 text assembly     → order-sensitive agg ``relational.ordered_concat``:
                          array_sort(collect_list(struct(pos, word)))
                          → transform → concat_ws
- B5 page/doc text     → two-level ordered agg (LINE-in-PAGE, PAGE-in-doc)
- B6 grid + B9 CSV     → dense grid via sequence()×sequence() explode,
                          left join placed cells, '' fill, RFC-4180
                          quoting as a when()/replace() expression
- B7 merged cells      → TABLE→MERGED_CELL→CELL overlay join: anchor
                          (min struct(r,c)) carries the merged text,
                          other constituents are swallowed (left_anti)
- B10 KV pairing       → explode(value_ids) join VALUE side + two B4s

The D5-synthesized forest never emits MERGED_CELL, but raw Textract
JSON ingested through sources/blockjson.py CAN (VERDICT r1 item 6) —
tests/test_blocks_relational.py proves the overlay equal to the fused
core on a merged-cell response ingested via parse_response_chunks.

Every ordered concat here is ``relational.ordered_concat``, which carries
the sort key inside the struct — bare collect_list order is undefined
post-shuffle (SURVEY.md §7.3 item 1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .relational import ordered_concat

_KEY = ["conv_id", "turn_idx"]


def container_texts(blocks: DataFrame, container_types: list[str]) -> DataFrame:
    """B3+B4: (conv_id, turn_idx, id, text) for every container block —
    CHILD WORDs joined by ' ', SELECTED SELECTION_ELEMENTs contribute 'X'."""
    parents = blocks.filter(
        F.col("block_type").isin(container_types) & F.col("child_ids").isNotNull()
    ).select(*_KEY, F.col("id").alias("parent_id"),
             F.posexplode("child_ids").alias("pos", "child_id"))
    children = blocks.select(
        *_KEY,
        F.col("id").alias("child_id"),
        F.col("block_type").alias("c_type"),
        F.col("text").alias("c_text"),
        F.col("selection_status").alias("c_sel"),
    )
    word = (
        F.when(F.col("c_type") == "WORD", F.col("c_text"))
        .when(
            (F.col("c_type") == "SELECTION_ELEMENT") & (F.col("c_sel") == "SELECTED"),
            F.lit("X"),
        )
        .otherwise(F.lit(None))
    )
    joined = parents.join(children, on=_KEY + ["child_id"], how="inner").select(
        *_KEY, "parent_id", "pos", word.alias("word")
    )
    return (
        joined.filter(F.col("word").isNotNull())
        .groupBy(*_KEY, "parent_id")
        .agg(ordered_concat(["pos"], "word", " ").alias("text"))
        .withColumnRenamed("parent_id", "id")
    )


def document_text_relational(blocks: DataFrame) -> DataFrame:
    """B5: per (conv_id, turn_idx): LINE texts in CHILD order per PAGE,
    '\\n'-joined; pages joined in Page order."""
    pages = blocks.filter(F.col("block_type") == "PAGE").select(
        *_KEY, F.col("page").alias("page_no"),
        F.posexplode("child_ids").alias("pos", "child_id"),
    )
    lines = blocks.filter(F.col("block_type") == "LINE").select(
        *_KEY, F.col("id").alias("child_id"), F.col("text").alias("line_text")
    )
    page_texts = (
        pages.join(lines, on=_KEY + ["child_id"], how="inner")
        .groupBy(*_KEY, "page_no")
        .agg(ordered_concat(["pos"], "line_text", "\n").alias("page_text"))
    )
    return (
        page_texts.filter(F.col("page_text") != "")
        .groupBy(*_KEY)
        .agg(ordered_concat(["page_no"], "page_text", "\n").alias("extracted_text"))
    )


def _csv_quote(c: Column) -> Column:
    needs = c.rlike('[",\n\r]')
    return F.when(
        needs, F.concat(F.lit('"'), F.replace(c, F.lit('"'), F.lit('""')), F.lit('"'))
    ).otherwise(c)


def _merged_overlay(blocks: DataFrame, cells: DataFrame,
                    cell_text: DataFrame) -> tuple[DataFrame, DataFrame]:
    """B7 as Catalyst dataflow. Returns (overlay, swallowed):
    overlay  = (key, table_id, r, c, mtext) — the anchor (min (r, c)
               constituent) position of each MERGED_CELL and the text
               that replaces whatever cell sits there;
    swallowed = (key, table_id, cell_id) — non-anchor constituents,
               dropped from the grid via left_anti (fused twin:
               core/blocks.py reconstruct_tables B7 section).
    Merged text = the MERGED_CELL's own B4 text when non-empty (WORD
    children — rare), else the constituents' texts joined in
    MERGED_CELL→CHILD order, empties skipped."""
    tm = blocks.filter(
        (F.col("block_type") == "TABLE") & F.col("merged_ids").isNotNull()
    ).select(*_KEY, F.col("id").alias("table_id"),
             F.explode("merged_ids").alias("merged_id"))
    mconst = blocks.filter(F.col("block_type") == "MERGED_CELL").select(
        *_KEY, F.col("id").alias("merged_id"),
        F.posexplode("child_ids").alias("mpos", "cell_id"),
    )
    const = (
        tm.join(mconst, on=_KEY + ["merged_id"], how="inner")
        .join(cells, on=_KEY + ["cell_id"], how="inner")
        .join(cell_text.withColumnRenamed("text", "ctext"),
              on=_KEY + ["cell_id"], how="left")
        .withColumn("ctext", F.coalesce("ctext", F.lit("")))
    )
    magg = const.groupBy(*_KEY, "table_id", "merged_id").agg(
        F.min(F.struct("r", "c", "cell_id")).alias("anchor"),
        ordered_concat(["mpos"], F.nullif("ctext", F.lit("")), " ").alias(
            "fallback_text"
        ),
        F.collect_list("cell_id").alias("const_ids"),
    )
    own = container_texts(blocks, ["MERGED_CELL"]).withColumnRenamed(
        "id", "merged_id"
    ).withColumnRenamed("text", "own_text")
    magg = magg.join(own, on=_KEY + ["merged_id"], how="left").withColumn(
        "mtext",
        F.when(
            F.coalesce(F.col("own_text"), F.lit("")) != "", F.col("own_text")
        ).otherwise(F.col("fallback_text")),
    )
    overlay = magg.select(
        *_KEY, "table_id",
        F.col("anchor.r").alias("r"), F.col("anchor.c").alias("c"), "mtext",
    )
    swallowed = (
        magg.select(
            *_KEY, "table_id", F.col("anchor.cell_id").alias("anchor_id"),
            F.explode("const_ids").alias("cell_id"),
        )
        .filter(F.col("cell_id") != F.col("anchor_id"))
        .select(*_KEY, "table_id", "cell_id")
    )
    return overlay, swallowed


def tables_relational(blocks: DataFrame) -> DataFrame:
    """B6+B7+B8+B9: one row per TABLE with n_rows, n_cols and the csv
    string — dense-grid fill, merged-cell overlay, and quoting all in
    Catalyst expressions. Grid dims include swallowed constituents'
    extents (fused-twin semantics); their texts do not render."""
    tables = blocks.filter(F.col("block_type") == "TABLE").select(
        *_KEY, F.col("id").alias("table_id"), F.col("page"),
        F.explode("child_ids").alias("cell_id"),
    )
    cell_text = container_texts(blocks, ["CELL"]).withColumnRenamed("id", "cell_id")
    cells = blocks.filter(F.col("block_type") == "CELL").select(
        *_KEY, F.col("id").alias("cell_id"),
        F.col("row_index").alias("r"), F.col("column_index").alias("c"),
        F.col("row_span").alias("rs"), F.col("column_span").alias("cs"),
    )
    placed = (
        tables.join(cells, on=_KEY + ["cell_id"], how="inner")
        .join(cell_text, on=_KEY + ["cell_id"], how="left")
        .withColumn("text", F.coalesce("text", F.lit("")))
    )
    # dims BEFORE the swallow pass: merged spans still bound the grid
    dims = placed.groupBy(*_KEY, "table_id", "page").agg(
        F.max(F.col("r") + F.col("rs") - 1).alias("n_rows"),
        F.max(F.col("c") + F.col("cs") - 1).alias("n_cols"),
    )
    overlay, swallowed = _merged_overlay(blocks, cells, cell_text)
    placed = (
        placed.join(swallowed, on=_KEY + ["table_id", "cell_id"], how="left_anti")
        .join(overlay, on=_KEY + ["table_id", "r", "c"], how="left")
        .withColumn("text", F.coalesce("mtext", "text"))
        .drop("mtext")
    )
    # dense grid: every (r, c) position, '' where no cell anchors
    grid = dims.select(
        *_KEY, "table_id", "page", "n_rows", "n_cols",
        F.explode(F.sequence(F.lit(1), F.col("n_rows"))).alias("r"),
    ).select(
        *_KEY, "table_id", "page", "n_rows", "n_cols", "r",
        F.explode(F.sequence(F.lit(1), F.col("n_cols"))).alias("c"),
    )
    filled = grid.join(
        placed.select(*_KEY, "table_id", "r", "c", "text"),
        on=_KEY + ["table_id", "r", "c"],
        how="left",
    ).withColumn("cell_out", _csv_quote(F.coalesce("text", F.lit(""))))
    rows = filled.groupBy(*_KEY, "table_id", "page", "n_rows", "n_cols", "r").agg(
        ordered_concat(["c"], "cell_out", ",").alias("row_csv")
    )
    return rows.groupBy(*_KEY, "table_id", "page", "n_rows", "n_cols").agg(
        ordered_concat(["r"], "row_csv", "\n").alias("csv")
    )


def kv_relational(blocks: DataFrame) -> DataFrame:
    """B10: KEY_VALUE_SET pairing — key side filtered on EntityTypes
    KEY, VALUE edge followed by join, both texts via B4, selection via
    the VALUE side's SELECTION_ELEMENT child."""
    keys = blocks.filter(
        (F.col("block_type") == "KEY_VALUE_SET")
        & F.array_contains(F.col("entity_types"), "KEY")
    ).select(
        *_KEY, F.col("id").alias("key_id"), F.col("page"),
        # try_: a KEY with an empty VALUE id list is dangling data, not
        # an error (B15 discipline — ANSI element_at would throw)
        F.try_element_at(F.col("value_ids"), F.lit(1)).alias("value_id"),
    )
    kv_texts = container_texts(blocks, ["KEY_VALUE_SET"])
    key_text = kv_texts.withColumnRenamed("id", "key_id").withColumnRenamed(
        "text", "key"
    )
    value_text = kv_texts.withColumnRenamed("id", "value_id").withColumnRenamed(
        "text", "value"
    )
    # selection status: VALUE block's SELECTION_ELEMENT child, if any
    val_children = blocks.filter(
        (F.col("block_type") == "KEY_VALUE_SET")
        & F.array_contains(F.col("entity_types"), "VALUE")
    ).select(*_KEY, F.col("id").alias("value_id"), F.explode("child_ids").alias("child_id"))
    sels = blocks.filter(F.col("block_type") == "SELECTION_ELEMENT").select(
        *_KEY, F.col("id").alias("child_id"), F.col("selection_status")
    )
    selection = (
        val_children.join(sels, on=_KEY + ["child_id"], how="inner")
        .groupBy(*_KEY, "value_id")
        .agg(F.min("selection_status").alias("selection"))
    )
    return (
        keys.join(key_text, on=_KEY + ["key_id"], how="left")
        .join(value_text, on=_KEY + ["value_id"], how="left")
        .join(selection, on=_KEY + ["value_id"], how="left")
        .select(
            *_KEY, "page",
            F.coalesce("key", F.lit("")).alias("key"),
            F.coalesce("value", F.lit("")).alias("value"),
            "selection",
        )
    )
