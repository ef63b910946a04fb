"""Every StructType in the engine (SURVEY.md §1.4) + Textract enum
constants (vendor/textract-service-2.json).

Schemas are always explicit — never inferred (SURVEY.md §2.E "JSON fns":
always explicit schema). Wide structs stay split into narrow columns so
Catalyst column pruning can bite (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- Textract enums (vendor/textract-service-2.json) ------------------
# BlockType [SVC:1502-1530]
BLOCK_TYPES = frozenset(
    {
        "KEY_VALUE_SET", "PAGE", "LINE", "WORD", "TABLE", "CELL",
        "SELECTION_ELEMENT", "MERGED_CELL", "TITLE", "QUERY",
        "QUERY_RESULT", "SIGNATURE", "TABLE_TITLE", "TABLE_FOOTER",
        "LAYOUT_TEXT", "LAYOUT_TITLE", "LAYOUT_HEADER", "LAYOUT_FOOTER",
        "LAYOUT_SECTION_HEADER", "LAYOUT_PAGE_NUMBER", "LAYOUT_LIST",
        "LAYOUT_FIGURE", "LAYOUT_TABLE", "LAYOUT_KEY_VALUE",
    }
)
# EntityType [SVC:1830-1849]
ENTITY_TYPES = frozenset(
    {
        "KEY", "VALUE", "COLUMN_HEADER", "TABLE_TITLE", "TABLE_FOOTER",
        "TABLE_SECTION_TITLE", "TABLE_SUMMARY", "STRUCTURED_TABLE",
        "SEMI_STRUCTURED_TABLE",
    }
)
# RelationshipType [SVC:3096-3109]
RELATIONSHIP_TYPES = frozenset(
    {"VALUE", "CHILD", "COMPLEX_FEATURES", "MERGED_CELL", "TITLE",
     "TABLE_TITLE", "TABLE_FOOTER", "ANSWER"}
)
# SelectionStatus [SVC:3164-3170]; TextType [SVC:3453-3459]
SELECTION_STATUSES = frozenset({"SELECTED", "NOT_SELECTED"})
TEXT_TYPES = frozenset({"HANDWRITING", "PRINTED"})

# --- input: north-rule transcript table (BASELINE.json:15) ------------
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

# --- GEOMETRY / BLOCK (SURVEY.md §1.4; [SVC:1531-1552]) ----------------
GEOMETRY_SCHEMA = StructType(
    [
        StructField("left", FloatType(), True),
        StructField("top", FloatType(), True),
        StructField("width", FloatType(), True),
        StructField("height", FloatType(), True),
    ]
)

BLOCK_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("block_type", StringType(), False),
        StructField("text", StringType(), True),
        StructField("confidence", FloatType(), True),
        StructField("row_index", IntegerType(), True),
        StructField("column_index", IntegerType(), True),
        StructField("row_span", IntegerType(), True),
        StructField("column_span", IntegerType(), True),
        StructField("entity_types", ArrayType(StringType()), True),
        StructField("selection_status", StringType(), True),
        StructField("page", IntegerType(), True),
        StructField("geometry", GEOMETRY_SCHEMA, True),
        # Relationships de-normalized into typed id arrays so Catalyst
        # prunes them independently (SURVEY.md §1.4)
        StructField("child_ids", ArrayType(StringType()), True),
        StructField("value_ids", ArrayType(StringType()), True),
        StructField("answer_ids", ArrayType(StringType()), True),
        StructField("merged_ids", ArrayType(StringType()), True),
    ]
)

# --- NODE (DOM) table (SURVEY.md §1.4) ---------------------------------
NODE_SCHEMA = StructType(
    [
        StructField("node_id", IntegerType(), False),
        StructField("parent_id", IntegerType(), True),
        StructField("depth", IntegerType(), True),
        StructField("tag", StringType(), True),
        StructField("text", StringType(), True),
        StructField("n_chars", IntegerType(), True),
        StructField("n_link_chars", IntegerType(), True),
        StructField("block_id", IntegerType(), True),
        StructField("in_dropped", BooleanType(), True),
        StructField("in_table", BooleanType(), True),
    ]
)

# --- TABLE_SPAN / KV_SPAN ----------------------------------------------
CELL_SCHEMA = StructType(
    [
        StructField("r", IntegerType(), False),
        StructField("c", IntegerType(), False),
        StructField("rs", IntegerType(), True),
        StructField("cs", IntegerType(), True),
        StructField("text", StringType(), True),
        StructField("is_header", BooleanType(), True),
        StructField("confidence", FloatType(), True),
    ]
)

TABLE_SPAN_SCHEMA = StructType(
    [
        StructField("table_id", StringType(), False),
        StructField("page", IntegerType(), True),
        StructField("n_rows", IntegerType(), True),
        StructField("n_cols", IntegerType(), True),
        StructField("cells", ArrayType(CELL_SCHEMA), True),
        StructField("csv", StringType(), True),
    ]
)

KV_SPAN_SCHEMA = StructType(
    [
        StructField("key", StringType(), True),
        StructField("value", StringType(), True),
        StructField("key_confidence", FloatType(), True),
        StructField("value_confidence", FloatType(), True),
        StructField("page", IntegerType(), True),
        StructField("selection", StringType(), True),
    ]
)

COUNTERS_SCHEMA = StructType(
    [
        StructField("blocks_parsed", IntegerType(), True),
        StructField("nodes_parsed", IntegerType(), True),
        StructField("tables_reconstructed", IntegerType(), True),
        StructField("kv_pairs", IntegerType(), True),
        StructField("dangling_ids", IntegerType(), True),
        StructField("skipped", BooleanType(), True),
        StructField("skip_reason", StringType(), True),
    ]
)

# --- extracted_spans: the output table (SURVEY.md §1.4) ----------------
EXTRACTED_SPANS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("ts", TimestampType(), True),
        StructField("kind", StringType(), True),
        StructField("extracted_text", StringType(), True),
        StructField("tables", ArrayType(TABLE_SPAN_SCHEMA), True),
        StructField("forms", ArrayType(KV_SPAN_SCHEMA), True),
        StructField("counters", COUNTERS_SCHEMA, True),
    ]
)

# exploded long-format blocks table: (conv_id, turn_idx) + BLOCK fields
BLOCKS_LONG_SCHEMA = StructType(
    [StructField("conv_id", StringType(), False),
     StructField("turn_idx", IntegerType(), False)]
    + list(BLOCK_SCHEMA.fields)
)

# exploded long-format nodes table
NODES_LONG_SCHEMA = StructType(
    [StructField("conv_id", StringType(), False),
     StructField("turn_idx", IntegerType(), False)]
    + list(NODE_SCHEMA.fields)
)

# one extraction pass, three tables: the spans fields plus each turn's
# Block forest and DOM nodes, which ``stages.long_table`` inlines into
# BLOCKS_LONG_SCHEMA / NODES_LONG_SCHEMA (non-null elements, so the
# inlined fields keep their nullability)
EXTRACTED_TURNS_SCHEMA = StructType(
    list(EXTRACTED_SPANS_SCHEMA.fields)
    + [StructField("blocks", ArrayType(BLOCK_SCHEMA, False), True),
       StructField("nodes", ArrayType(NODE_SCHEMA, False), True)]
)

# paginated raw-response chunks (B11/B14 ingest fixture): one Textract-
# style GetDocumentAnalysis response JSON per (conv, turn, page_seq)
RESPONSES_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("page_seq", IntegerType(), False),
        StructField("response_json", StringType(), False),
    ]
)

# B11 query-answer table: one row per QUERY block ([SVC:3036-3056]);
# confidence double so both engines compare in float64 (fixture values
# are 0.25-multiples — exact in float32 and float64)
QUERY_ANSWERS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("page", IntegerType(), True),
        StructField("question", StringType(), True),
        StructField("answer", StringType(), True),
        StructField("confidence", DoubleType(), True),
    ]
)
