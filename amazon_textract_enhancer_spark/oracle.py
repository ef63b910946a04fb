"""Single-node oracle extractor (SURVEY.md §7.1 M0).

Runs the SAME pure-Python core (``core.extract_turn``) over transcript
rows with plain pandas — no Spark — producing the golden
``extracted_spans`` frame the Spark pipeline must match per-turn under
stable (conv_id, turn_idx) ordering (BASELINE.json:14).

Because oracle and pipeline share ``core/`` verbatim, equality is by
construction; the pytest suite then *proves* it (golden-equality tests)
rather than hoping for it.
"""

from __future__ import annotations

from .core import extract_turn


def extract_rows(rows: list[dict]) -> list[dict]:
    """rows: transcript dicts → extracted span dicts, sorted by
    (conv_id, turn_idx)."""
    out = []
    for r in sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])):
        res = extract_turn(f"{r['conv_id']}|{r['turn_idx']}", r.get("text"))
        out.append(
            {
                "conv_id": r["conv_id"],
                "turn_idx": r["turn_idx"],
                "role": r.get("role"),
                "ts": r.get("ts"),
                "kind": res["kind"],
                "extracted_text": res["extracted_text"],
                "tables": res["tables"],
                "forms": res["forms"],
                "counters": res["counters"],
            }
        )
    return out
