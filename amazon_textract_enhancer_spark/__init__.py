"""amazon_textract_enhancer_spark — a from-scratch, PySpark-native
document/main-content extraction engine with the query and
data-processing capabilities of ``aws-samples/amazon-textract-enhancer``.

Architecture (see SURVEY.md):

- ``core/``       pure-Python extraction core — NO Spark imports. Shared
                  verbatim by the single-node oracle (``oracle.py``) and
                  the Spark ``mapInArrow`` stage (``stages.py``) so per-turn
                  text equality between the two is by construction.
- ``schemas.py``  every StructType (BLOCK, NODE, TABLE_SPAN, KV_SPAN,
                  extracted_spans) + the Textract enum constants from
                  ``vendor/textract-service-2.json``.
- ``fixtures.py`` deterministic synthetic transcript generator
                  (FIXTURES.md §1), seed-fixed, no wall clock.
- ``stages.py``   the one fused ``mapInArrow`` extraction pass (spans,
                  plus per-turn block/node arrays that Catalyst
                  ``inline``s into the long blocks/nodes tables).
- ``operators/``  relational (Catalyst-planned) forms of the SURVEY.md §2
                  operator inventory, plus training-data-pipeline
                  operators (dedup, similarity, text stats, multimodal).
- ``sources/``    table IO seam: parquet locally, Iceberg conf on
                  clusters; checkpoint manifest + resume (F3).
- ``plans/``      explain-plan helpers and assertions used in tests.
- ``streaming/``  batch-incremental snapshot-diff processing (the SNS
                  analog) + an availableNow structured-streaming shape.
"""

__version__ = "0.1.0"
