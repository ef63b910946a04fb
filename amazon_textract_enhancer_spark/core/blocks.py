"""B1–B15 — Textract Block-forest post-processing (SURVEY.md §2.B).

Operates on block dicts shaped exactly like the Textract API's ``Block``
(vendor/textract-service-2.json:1430-1495): keys ``Id, BlockType, Text,
Confidence, RowIndex, ColumnIndex, RowSpan, ColumnSpan, EntityTypes,
SelectionStatus, Page, Geometry, Relationships``. These are the
canonical post-processing algorithms every Textract consumer implements
(get_text / get_rows_columns_map / get_kv_map); semantics are forced by
the service data model, written here from scratch.

All functions are pure and deterministic; dangling relationship ids are
skipped and counted (B15, never raised — vendor/textract-service-2.json:3088
documents ids that "don't exist in the current block map").
"""

from __future__ import annotations

# RelationshipType enum — vendor/textract-service-2.json:3096-3109
REL_CHILD = "CHILD"
REL_VALUE = "VALUE"
REL_ANSWER = "ANSWER"
REL_MERGED_CELL = "MERGED_CELL"

# SelectionStatus enum — vendor/textract-service-2.json:3164-3170
SELECTED = "SELECTED"


def build_block_map(blocks: list[dict]) -> dict[str, dict]:
    """B1 — Id → Block map (ids unique per operation, [SVC:1469-1472])."""
    return {b["Id"]: b for b in blocks}


def rel_ids(block: dict, rel_type: str) -> list[str]:
    """B3 — ids of a given relationship type; Relationships absent when
    empty ([SVC:1475])."""
    out: list[str] = []
    for rel in block.get("Relationships") or []:
        if rel.get("Type") == rel_type:
            out.extend(rel.get("Ids") or [])
    return out


def get_text(block: dict, bmap: dict[str, dict], counters: dict | None = None) -> str:
    """B4 — canonical text assembly: CHILD WORD texts joined by ' ';
    a CHILD SELECTION_ELEMENT contributes 'X' iff SELECTED."""
    words: list[str] = []
    for cid in rel_ids(block, REL_CHILD):
        child = bmap.get(cid)
        if child is None:  # B15 dangling id
            if counters is not None:
                counters["dangling_ids"] = counters.get("dangling_ids", 0) + 1
            continue
        bt = child.get("BlockType")
        if bt == "WORD":
            words.append(child.get("Text") or "")
        elif bt == "SELECTION_ELEMENT":
            if child.get("SelectionStatus") == SELECTED:
                words.append("X")
        elif bt == "LINE":
            # containers nested one level (e.g. CELL holding LINEs in
            # some layouts): recurse
            words.append(get_text(child, bmap, counters))
    return " ".join(w for w in words if w != "")


def document_text(blocks: list[dict], bmap: dict[str, dict] | None = None,
                  counters: dict | None = None) -> str:
    """B5 — document plain text: per PAGE (in Page order), CHILD LINE
    texts in relationship order joined by '\\n'; pages joined by '\\n'."""
    if bmap is None:
        bmap = build_block_map(blocks)
    pages = [b for b in blocks if b.get("BlockType") == "PAGE"]
    pages.sort(key=lambda b: b.get("Page") or 1)
    page_texts: list[str] = []
    for page in pages:
        lines: list[str] = []
        for cid in rel_ids(page, REL_CHILD):
            child = bmap.get(cid)
            if child is None:
                if counters is not None:
                    counters["dangling_ids"] = counters.get("dangling_ids", 0) + 1
                continue
            if child.get("BlockType") == "LINE":
                lines.append(child.get("Text") or get_text(child, bmap, counters))
        page_texts.append("\n".join(lines))
    return "\n".join(t for t in page_texts if t != "")


def _cell_entity(cell: dict, name: str) -> bool:
    return name in (cell.get("EntityTypes") or [])


def reconstruct_tables(blocks: list[dict], bmap: dict[str, dict] | None = None,
                       counters: dict | None = None) -> list[dict]:
    """B6/B7/B8/B9 — per TABLE block (in document order):

    - CHILD CELLs placed at 1-based (RowIndex, ColumnIndex) [SVC:1449-1456]
    - grid dims = max(RowIndex+RowSpan-1), max(ColumnIndex+ColumnSpan-1);
      missing positions = '' fill
    - MERGED_CELL resolution (B7): TABLE -MERGED_CELL-> MERGED_CELL
      -CHILD-> constituent CELLs; merged text goes to the anchor
      (top-left) position, other covered positions are blanked
    - is_header = COLUMN_HEADER in EntityTypes (B8)
    - csv string render (B9)

    Returns TABLE_SPAN dicts (SURVEY.md §1.4).
    """
    if bmap is None:
        bmap = build_block_map(blocks)
    from .csvutil import render_csv

    tables: list[dict] = []
    for tb in blocks:
        if tb.get("BlockType") != "TABLE":
            continue
        cells: list[dict] = []
        for cid in rel_ids(tb, REL_CHILD):
            c = bmap.get(cid)
            if c is None:
                if counters is not None:
                    counters["dangling_ids"] = counters.get("dangling_ids", 0) + 1
                continue
            if c.get("BlockType") == "CELL":
                cells.append(c)
        # B7 merged cells: text overlay at the anchor, swallow constituents
        merged_anchor_text: dict[tuple[int, int], str] = {}
        swallowed: set[str] = set()
        for mid in rel_ids(tb, REL_MERGED_CELL):
            m = bmap.get(mid)
            if m is None or m.get("BlockType") != "MERGED_CELL":
                continue
            constituents = []
            for ccid in rel_ids(m, REL_CHILD):
                cc = bmap.get(ccid)
                if cc is not None and cc.get("BlockType") == "CELL":
                    constituents.append(cc)
            if not constituents:
                continue
            anchor = min(
                constituents,
                key=lambda c: (c.get("RowIndex") or 1, c.get("ColumnIndex") or 1),
            )
            mtext = get_text(m, bmap, counters) or " ".join(
                t for t in (get_text(c, bmap, counters) for c in constituents) if t
            )
            merged_anchor_text[
                (anchor.get("RowIndex") or 1, anchor.get("ColumnIndex") or 1)
            ] = mtext
            for c in constituents:
                if c["Id"] != anchor["Id"]:
                    swallowed.add(c["Id"])

        n_rows = 0
        n_cols = 0
        placed: list[dict] = []
        for c in cells:
            r = c.get("RowIndex") or 1
            col = c.get("ColumnIndex") or 1
            rs = c.get("RowSpan") or 1
            cs = c.get("ColumnSpan") or 1
            n_rows = max(n_rows, r + rs - 1)
            n_cols = max(n_cols, col + cs - 1)
            if c["Id"] in swallowed:
                continue
            text = merged_anchor_text.get((r, col))
            if text is None:
                text = get_text(c, bmap, counters)
            placed.append(
                {
                    "r": r,
                    "c": col,
                    "rs": rs,
                    "cs": cs,
                    "text": text,
                    "is_header": _cell_entity(c, "COLUMN_HEADER"),
                    "confidence": float(c.get("Confidence") or 0.0),
                }
            )
        placed.sort(key=lambda c: (c["r"], c["c"]))
        grid = [["" for _ in range(n_cols)] for _ in range(n_rows)]
        for c in placed:
            if 1 <= c["r"] <= n_rows and 1 <= c["c"] <= n_cols:
                grid[c["r"] - 1][c["c"] - 1] = c["text"]
        tables.append(
            {
                "table_id": tb["Id"],
                "page": int(tb.get("Page") or 1),
                "n_rows": n_rows,
                "n_cols": n_cols,
                "cells": placed,
                "csv": render_csv(grid),
            }
        )
        if counters is not None:
            counters["tables_reconstructed"] = counters.get("tables_reconstructed", 0) + 1
    return tables


def _selection_of(block: dict, bmap: dict[str, dict]) -> str | None:
    for cid in rel_ids(block, REL_CHILD):
        child = bmap.get(cid)
        if child is not None and child.get("BlockType") == "SELECTION_ELEMENT":
            return child.get("SelectionStatus")
    return None


def extract_kv_pairs(blocks: list[dict], bmap: dict[str, dict] | None = None,
                     counters: dict | None = None) -> list[dict]:
    """B10 — form key-value pairing (canonical get_kv_map): keys are
    KEY_VALUE_SET blocks with 'KEY' in EntityTypes; value via the VALUE
    relationship's first id; texts via B4. Emits KV_SPAN dicts in
    document order of the KEY blocks."""
    if bmap is None:
        bmap = build_block_map(blocks)
    pairs: list[dict] = []
    for kb in blocks:
        if kb.get("BlockType") != "KEY_VALUE_SET":
            continue
        if "KEY" not in (kb.get("EntityTypes") or []):
            continue
        vids = rel_ids(kb, REL_VALUE)
        vb = bmap.get(vids[0]) if vids else None
        if vb is None and vids and counters is not None:
            counters["dangling_ids"] = counters.get("dangling_ids", 0) + 1
        value_text = get_text(vb, bmap, counters) if vb is not None else ""
        selection = _selection_of(vb, bmap) if vb is not None else None
        pairs.append(
            {
                "key": get_text(kb, bmap, counters),
                "value": value_text,
                "key_confidence": float(kb.get("Confidence") or 0.0),
                "value_confidence": float((vb or {}).get("Confidence") or 0.0),
                "page": int(kb.get("Page") or 1),
                "selection": selection,
            }
        )
        if counters is not None:
            counters["kv_pairs"] = counters.get("kv_pairs", 0) + 1
    return pairs


def answer_queries(blocks: list[dict], bmap: dict[str, dict] | None = None,
                   counters: dict | None = None) -> list[dict]:
    """B11 — QUERY -ANSWER-> QUERY_RESULT ([SVC:3036-3056, 3104]).
    Returns [{alias, question, answer, confidence, page}]."""
    if bmap is None:
        bmap = build_block_map(blocks)
    out: list[dict] = []
    for qb in blocks:
        if qb.get("BlockType") != "QUERY":
            continue
        q = qb.get("Query") or {}
        answer, conf = "", 0.0
        for aid in rel_ids(qb, REL_ANSWER):
            ab = bmap.get(aid)
            if ab is None:
                if counters is not None:
                    counters["dangling_ids"] = counters.get("dangling_ids", 0) + 1
                continue
            if ab.get("BlockType") == "QUERY_RESULT":
                answer = ab.get("Text") or ""
                conf = float(ab.get("Confidence") or 0.0)
                break
        out.append(
            {
                "alias": q.get("Alias"),
                "question": q.get("Text") or "",
                "answer": answer,
                "confidence": conf,
                "page": int(qb.get("Page") or 1),
            }
        )
    return out


def confidence_stats(blocks: list[dict]) -> dict:
    """B12 — avg/min Confidence over blocks that carry one."""
    vals = [float(b["Confidence"]) for b in blocks if b.get("Confidence") is not None]
    if not vals:
        return {"avg_confidence": None, "min_confidence": None, "n": 0}
    return {
        "avg_confidence": sum(vals) / len(vals),
        "min_confidence": min(vals),
        "n": len(vals),
    }


def merge_paginated(chunks: list[list[dict]]) -> list[dict]:
    """B14 — order-preserving union of paginated Get* responses
    ([SVC:2173-2225] NextToken loop): concatenate chunk block lists in
    chunk order, de-duplicating ids defensively (first occurrence wins,
    mirroring idempotent re-fetch)."""
    seen: set[str] = set()
    out: list[dict] = []
    for chunk in chunks:
        for b in chunk:
            bid = b.get("Id")
            if bid in seen:
                continue
            seen.add(bid)
            out.append(b)
    return out
