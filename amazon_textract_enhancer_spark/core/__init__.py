"""Pure-Python extraction core. NO Spark imports anywhere under core/.

This package is imported both by the single-node oracle
(``amazon_textract_enhancer_spark.oracle``) and by the Spark ``mapInArrow``
stage (``amazon_textract_enhancer_spark.stages``), so the two can never
drift (SURVEY.md §7.3 item 2).
"""

from .sniff import sniff_kind
from .htmldom import (parse_html_nodes, classify_nodes, extract_html_main,
                      extract_html_structures)
from .layout import parse_layout, synthesize_blocks
from .blocks import (
    build_block_map,
    rel_ids,
    get_text,
    document_text,
    reconstruct_tables,
    extract_kv_pairs,
    answer_queries,
    confidence_stats,
)
from .csvutil import render_csv, parse_csv
from .extract import extract_turn, _empty_result

# public package API for a fresh skipped-turn result (ADVICE r2: don't
# publish an underscore-prefixed name in __all__)
make_empty_result = _empty_result

__all__ = [
    "sniff_kind",
    "parse_html_nodes",
    "classify_nodes",
    "extract_html_main",
    "extract_html_structures",
    "parse_layout",
    "synthesize_blocks",
    "build_block_map",
    "rel_ids",
    "get_text",
    "document_text",
    "reconstruct_tables",
    "extract_kv_pairs",
    "answer_queries",
    "confidence_stats",
    "render_csv",
    "parse_csv",
    "extract_turn",
    "make_empty_result",
]
