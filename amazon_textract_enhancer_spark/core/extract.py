"""Fused per-turn extraction (D1 → D2/D5 → D3/D4 → B4..B11).

One pure function ``extract_turn(key, text)`` is the unit of work. It is
called per row by BOTH the single-node oracle and the Spark
``mapInArrow`` stage — JVM↔Python Arrow cost is paid once per batch,
and oracle↔pipeline equality is by construction (SURVEY.md §3.1, §7.3).

The per-turn skip/quarantine rule (D6): malformed or empty payloads
emit empty text + ``counters.skipped = true`` with a reason — a turn
NEVER fails the job (BASELINE.json:6 "turns skipped" counter).
"""

from __future__ import annotations

from .blocks import (
    build_block_map,
    document_text,
    extract_kv_pairs,
    reconstruct_tables,
)
from .csvutil import render_csv
from .htmldom import extract_html_main, extract_html_structures
from .layout import _IdGen, _pseudo_confidence, parse_layout, synthesize_blocks
from .sniff import KIND_HTML, KIND_LAYOUT, KIND_PLAIN, sniff_kind


def _counters(**kw) -> dict:
    base = {
        "blocks_parsed": 0,
        "nodes_parsed": 0,
        "tables_reconstructed": 0,
        "kv_pairs": 0,
        "dangling_ids": 0,
        "skipped": False,
        "skip_reason": None,
    }
    base.update(kw)
    return base


def _empty_result(kind: str = KIND_PLAIN, skip_reason: str = "empty") -> dict:
    """Fresh skipped-turn result per call — the list/dict members must
    NOT be shared across rows (ADVICE r1: a single module-level dict
    made every skipped turn alias the same mutable lists)."""
    return {
        "kind": kind,
        "extracted_text": "",
        "tables": [],
        "forms": [],
        "counters": _counters(skipped=True, skip_reason=skip_reason),
        "blocks": [],
        "nodes": [],
    }


def extract_turn(key: str, text: str | None) -> dict:
    """Extract one transcript turn.

    Returns a dict with:
      kind            payload kind (html | layout | plain)
      extracted_text  main-content text (the north-rule invariant column)
      tables          list of TABLE_SPAN dicts (csv included)
      forms           list of KV_SPAN dicts
      counters        D6/F4 counters struct
      blocks          synthesized Block forest (layout kind; else [])
      nodes           DOM node table (html kind; else [])
    """
    if text is None or text.strip() == "":
        return _empty_result()

    kind = sniff_kind(text)
    counters = _counters()

    if kind == KIND_HTML:
        try:
            main, nodes, _scored = extract_html_main(text)
        except Exception as e:  # pragma: no cover — html.parser is lax
            return _empty_result(kind=kind, skip_reason=f"html:{type(e).__name__}")
        counters["nodes_parsed"] = len(nodes)
        # structured spans from markup: <table> grids and <dl> forms —
        # the same TABLE_SPAN/KV_SPAN shapes the layout path emits
        raw_tables, raw_forms = extract_html_structures(nodes)
        newid = _IdGen(key)
        tables = []
        for tb in raw_tables:
            n_rows, n_cols = tb["n_rows"], tb["n_cols"]
            cells = []
            grid = [["" for _ in range(n_cols)] for _ in range(n_rows)]
            for ri, row in enumerate(tb["rows"], start=1):
                for ci, (ctext, is_header) in enumerate(row, start=1):
                    cells.append(
                        {
                            "r": ri,
                            "c": ci,
                            "rs": 1,
                            "cs": 1,
                            "text": ctext,
                            "is_header": is_header,
                            "confidence": _pseudo_confidence(ctext),
                        }
                    )
                    grid[ri - 1][ci - 1] = ctext
            tables.append(
                {
                    "table_id": newid(),
                    "page": 1,
                    "n_rows": n_rows,
                    "n_cols": n_cols,
                    "cells": cells,
                    "csv": render_csv(grid),
                }
            )
            counters["tables_reconstructed"] += 1
        forms = []
        for f in raw_forms:
            forms.append(
                {
                    "key": f["key"],
                    "value": f["value"],
                    "key_confidence": _pseudo_confidence(f["key"]),
                    "value_confidence": _pseudo_confidence(f["value"]),
                    "page": 1,
                    "selection": None,
                }
            )
            counters["kv_pairs"] += 1
        return {
            "kind": kind,
            "extracted_text": main,
            "tables": tables,
            "forms": forms,
            "counters": counters,
            "blocks": [],
            "nodes": nodes,
        }

    if kind == KIND_LAYOUT:
        entries, malformed = parse_layout(text)
        if not entries:
            return _empty_result(kind=kind, skip_reason="layout:no-entries")
        blocks = synthesize_blocks(key, entries)
        bmap = build_block_map(blocks)
        extracted = document_text(blocks, bmap, counters)
        tables = reconstruct_tables(blocks, bmap, counters)
        forms = extract_kv_pairs(blocks, bmap, counters)
        counters["blocks_parsed"] = len(blocks)
        if malformed:
            counters["skip_reason"] = f"layout:{malformed}-malformed-lines"
        return {
            "kind": kind,
            "extracted_text": extracted,
            "tables": tables,
            "forms": forms,
            "counters": counters,
            "blocks": blocks,
            "nodes": [],
        }

    # plain: trailing whitespace stripped per line (FIXTURES.md §1)
    extracted = "\n".join(line.rstrip() for line in text.split("\n"))
    return {
        "kind": KIND_PLAIN,
        "extracted_text": extracted,
        "tables": [],
        "forms": [],
        "counters": counters,
        "blocks": [],
        "nodes": [],
    }
