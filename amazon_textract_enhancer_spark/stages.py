"""Spark UDF stages — the JVM↔Python Arrow boundary, paid ONCE.

Design (SURVEY.md §3.1/§4): all source-side filters and projections are
authored BEFORE these stages (Catalyst cannot push predicates through a
Python UDF), and each stage emits narrow, separately-prunable columns.
The extraction itself is embarrassingly parallel per turn — no shuffle
is required at all for the extract stage; shuffles appear only in
conversation-level rollups (explicit salting, operators/scale.py) and
serving-side joins.

Implementation detail that matters at scale: the stages use
``mapInArrow`` and build output RecordBatches with explicit pyarrow
types. PySpark's generic pandas→Arrow converter walks nested
struct/array columns row-by-row in Python (~6x slower end-to-end for
our TABLE_SPAN/KV_SPAN columns, measured in-sandbox); ``pa.array`` with
an explicit type is a single C++ call. Passthrough columns (conv_id,
turn_idx, role, ts) are forwarded as the INPUT batch's own Arrow
arrays — zero copies, zero type drift.

Everything delegates per-turn work to ``core.extract_turn`` — the same
function the single-node oracle runs — so there is no per-row Python
at the Spark API level (BASELINE.json:15) and oracle equality is by
construction. It is called at one site, ``extract_stage``: the spans,
blocks_long and nodes_long tables are column choices and Catalyst
``inline``s over that one pass, never separate passes.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core import extract_turn
from .schemas import EXTRACTED_SPANS_SCHEMA, EXTRACTED_TURNS_SCHEMA

# forwarded from the input batch when present, else all-null
_PASSTHROUGH = ("conv_id", "turn_idx", "role", "ts")


def _arrow_schema(spark_schema):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def extract_stage(transcripts: DataFrame, out_schema) -> DataFrame:
    """The one extraction pass: ``core.extract_turn`` once per turn in
    one ``mapInArrow`` node. Every non-passthrough field of
    ``out_schema`` is the ``extract_turn`` result key of the same name
    (``blocks`` de-normalized by ``_block_to_row``), so the schema alone
    picks the columns: EXTRACTED_SPANS_SCHEMA for the spans table,
    EXTRACTED_TURNS_SCHEMA when the same pass also feeds the long
    blocks/nodes tables."""
    import pyarrow as pa

    passthrough = [c for c in _PASSTHROUGH if c in transcripts.columns]
    src = transcripts.select(*passthrough, "text")
    arrow_out = _arrow_schema(out_schema)
    derived = [f.name for f in out_schema.fields if f.name not in _PASSTHROUGH]
    want_blocks = "blocks" in derived

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            values: dict[str, list] = {name: [] for name in derived}
            for kc, kt, tx in zip(
                rb.column("conv_id").to_pylist(),
                rb.column("turn_idx").to_pylist(),
                rb.column("text").to_pylist(),
            ):
                res = extract_turn(f"{kc}|{kt}", tx)
                if want_blocks:
                    res["blocks"] = [_block_to_row(b) for b in res["blocks"]]
                for name, vals in values.items():
                    vals.append(res[name])
            arrays = [
                pa.array(values[f.name], f.type) if f.name in values
                else rb.column(f.name).cast(f.type) if f.name in passthrough
                else pa.nulls(rb.num_rows, f.type)
                for f in arrow_out
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=arrow_out.names)

    return src.mapInArrow(fn, out_schema)


def extract_spans(transcripts: DataFrame) -> DataFrame:
    """The fused extraction stage: transcripts → extracted_spans
    (narrow columns: metrics queries never deserialize ``tables``)."""
    return extract_stage(transcripts, EXTRACTED_SPANS_SCHEMA)


def extract_turns(transcripts: DataFrame) -> DataFrame:
    """The same pass, also carrying each turn's Block forest and DOM
    nodes: the one input of extracted_spans, blocks_long and nodes_long."""
    return extract_stage(transcripts, EXTRACTED_TURNS_SCHEMA)


def _block_to_row(b: dict) -> dict:
    """Textract-JSON-shaped block dict → BLOCK_SCHEMA row dict
    (Relationships de-normalized into typed id arrays)."""
    rels: dict[str, list[str]] = {}
    for rel in b.get("Relationships") or []:
        rels.setdefault(rel["Type"], []).extend(rel.get("Ids") or [])
    bb = (b.get("Geometry") or {}).get("BoundingBox")
    geometry = (
        {
            "left": float(bb["Left"]),
            "top": float(bb["Top"]),
            "width": float(bb["Width"]),
            "height": float(bb["Height"]),
        }
        if bb
        else None
    )
    return {
        "id": b["Id"],
        "block_type": b["BlockType"],
        "text": b.get("Text"),
        "confidence": float(b["Confidence"]) if b.get("Confidence") is not None else None,
        "row_index": b.get("RowIndex"),
        "column_index": b.get("ColumnIndex"),
        "row_span": b.get("RowSpan"),
        "column_span": b.get("ColumnSpan"),
        "entity_types": b.get("EntityTypes"),
        "selection_status": b.get("SelectionStatus"),
        "page": b.get("Page"),
        "geometry": geometry,
        "child_ids": rels.get("CHILD"),
        "value_ids": rels.get("VALUE"),
        "answer_ids": rels.get("ANSWER"),
        "merged_ids": rels.get("MERGED_CELL"),
    }


def long_table(turns: DataFrame, field: str) -> DataFrame:
    """One row per element of an EXTRACTED_TURNS_SCHEMA array column
    (``blocks`` → BLOCKS_LONG_SCHEMA, ``nodes`` → NODES_LONG_SCHEMA): a
    Catalyst ``inline``, no Python."""
    return turns.select("conv_id", "turn_idx", F.inline(field))


def extract_blocks_long(transcripts: DataFrame) -> DataFrame:
    """Exploded long-format ``blocks`` table (SURVEY.md §1.4 (b)):
    one row per synthesized Block, for relational B1–B12 queries."""
    return long_table(extract_turns(transcripts), "blocks")


def extract_nodes_long(transcripts: DataFrame) -> DataFrame:
    """Exploded long-format DOM ``nodes`` table for relational D3/D4."""
    return long_table(extract_turns(transcripts), "nodes")
