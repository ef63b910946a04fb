"""Main+delta maintenance of the serving indexes (A9/C5-ii..iv): the
one module that knows the segment policy.

The tokens inverted index is bucketed by TERM and the IVF / IVF-PQ
indexes by centroid bucket, so a conversation- or vector-level change
touches every bucket — rewriting a main index per refresh would cost a
full rewrite for an arbitrarily small diff. The production answer is the
Lucene/Elasticsearch segment model, which is also what the reference's
ElasticSearch sink implies downstream. A ``SegmentGroup`` names one
index's key column (``conv_id`` / ``vec_id``), its stale list and its
main tables:

- **main** — a committed table (``tokens``, ``doc_lengths``,
  ``ivf_index``, ``ivf_pq_codes``), big, immutable between compactions;
- **delta** — ``<main>_delta``, the rows of the keys re-derived since
  the last compaction, written with main's layout (cost ∝ diff size);
- **stale list** — keys whose main rows are superseded (changed) or gone
  (deleted), one tiny broadcastable table shared by the whole group.

The policy is three functions, generic over the group:

- ``refresh_segments`` — deltas ACCUMULATE: each delta keeps the prior
  delta's rows whose key is not stale again and adds the new rows; the
  stale list becomes the union of the old and new lists;
- ``read_merged`` — the query-time view ``main ⟕anti stale ∪ delta``:
  the anti-join broadcasts the stale list, so serving pays one map-side
  filter, no shuffle of the main index. With no delta it is main; with
  no main (the first refresh ran before any main commit) it is delta;
- ``compact_segments`` — folds every committed delta of the group into
  its main (ONE rewrite each, amortized over many refreshes), and only
  then resets the deltas and the stale list to empty tables whose
  schema comes from their manifests — so every fold sees the full stale
  list, and an interrupted compaction resumes cleanly.

Every piece rides the normal TableIO commit protocol, so refreshes are
resumable and the whole index history is snapshot-logged. Equality
with a from-scratch rebuild is pinned in tests/test_index_maintenance.py,
tests/test_ivf_ann.py and tests/test_pq.py — the merge is exact.

At 10^12 turns: a daily 0.1% diff makes delta ~10^9 rows vs main's
~10^13; between weekly compactions the stale list stays ≪ broadcast
threshold (it holds keys, not postings).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.tableio import TableIO
from .serving import corpus_stats_of, doc_lengths_of, term_frequencies

CONFIG_HASH = "index-delta-v1"


class SegmentGroup(NamedTuple):
    """The segments one stale list masks. ``layouts`` maps each main
    table to the ``commit_stage`` layout keywords that it and its delta
    ``<main>_delta`` are written with."""

    key: str
    stale: str
    config_hash: str
    layouts: dict


SERVING_INDEX = SegmentGroup("conv_id", "index_stale_convs", CONFIG_HASH, {
    "tokens": {"counter_cols": ["tf"], "bucket_col": "term"},
    "doc_lengths": {"counter_cols": ["dl"], "bucket_col": "conv_id"},
})

IVF_INDEX = SegmentGroup("vec_id", "ivf_stale_vecs", "ivf-delta-v1", {
    "ivf_index": {"partition_by": "bucket"},
    "ivf_pq_codes": {"partition_by": "bucket"},
})


def refresh_segments(
    spark: SparkSession,
    io: TableIO,
    group: SegmentGroup,
    new_rows: dict[str, DataFrame],
    stale_keys: DataFrame,
    input_snapshot: str,
    n_buckets: int = 16,
) -> dict:
    """Commit one incremental refresh of ``group``. ``new_rows`` maps a
    main table name to its re-derived rows for the new/changed keys;
    ``stale_keys`` holds every superseded-or-deleted key (every changed
    key MUST appear here; deleted keys appear with no new rows).

    For each delta: the prior delta's rows whose key is stale again are
    dropped (the new rows supersede them) and the new rows are added.
    Then the stale list is replaced by the union of the old and new
    lists. Returns the committed manifests by table name."""
    new_stale = stale_keys.select(group.key).distinct()
    out = {}
    for main, rows in new_rows.items():
        delta = f"{main}_delta"
        prev = io.read_manifest(delta)
        if prev is not None and prev["rows"] > 0:
            rows = (
                io.read_table(spark, delta)
                .join(F.broadcast(new_stale), group.key, "left_anti")
                .unionByName(rows)
            )
        out[delta] = io.commit_stage(
            rows, delta, input_snapshot, group.config_hash,
            n_buckets=n_buckets, **group.layouts[main],
        )
    if io.read_manifest(group.stale) is not None:
        new_stale = (
            io.read_table(spark, group.stale).unionByName(new_stale).distinct()
        )
    out[group.stale] = io.commit_stage(
        new_stale, group.stale, input_snapshot, group.config_hash
    )
    return out


def read_merged(
    spark: SparkSession, io: TableIO, group: SegmentGroup, main: str
) -> DataFrame:
    """Serving view of one segment: main minus stale keys, plus delta.
    The stale list is broadcast — no shuffle of the main index."""
    if io.read_manifest(f"{main}_delta") is None:
        return io.read_table(spark, main)
    delta = io.read_table(spark, f"{main}_delta")
    if io.read_manifest(main) is None:
        return delta  # bootstrap: first refresh ran before any main commit
    stale = io.read_table(spark, group.stale)
    return (
        io.read_table(spark, main)
        .join(F.broadcast(stale), group.key, "left_anti")
        .unionByName(delta)
    )


def compact_segments(
    spark: SparkSession,
    io: TableIO,
    group: SegmentGroup,
    input_snapshot: str,
    n_buckets: int = 16,
) -> dict:
    """Fold every committed delta of ``group`` into its main, then reset
    those deltas and the stale list to empty. Returns the main
    manifests by table name.

    Commits under ``<input_snapshot>:compacted`` — distinct from the
    refresh's own snapshot id, so the reset is not swallowed by the
    refresh's committed manifests, while compaction itself stays
    resume-idempotent."""
    snap = f"{input_snapshot}:compacted"
    live = [main for main in group.layouts
            if io.read_manifest(f"{main}_delta") is not None]
    out = {
        main: io.commit_stage(
            read_merged(spark, io, group, main), main, snap,
            group.config_hash, n_buckets=n_buckets, **group.layouts[main],
        )
        for main in live
    }
    # a JVM-side empty RDD has no partitions, so each reset write is one
    # task; createDataFrame([]) parallelizes an empty list over every core
    empty = spark.sparkContext.emptyRDD()
    for name in [f"{main}_delta" for main in live] + [group.stale]:
        manifest = io.read_manifest(name)
        if manifest is not None:
            schema = StructType.fromJson(manifest["schema"])
            io.commit_stage(
                spark.createDataFrame(empty, schema), name, snap,
                group.config_hash,
            )
    return out


def refresh_serving_index(
    spark: SparkSession,
    io: TableIO,
    changed_spans: DataFrame,
    stale_convs: DataFrame,
    input_snapshot: str,
    n_buckets: int = 16,
) -> dict:
    """Commit the tokens and doc_lengths deltas for one incremental
    refresh.

    ``changed_spans``: the re-extracted spans of new/changed
    conversations (incremental_extract's ``todo`` output shape).
    ``stale_convs``: one conv_id per superseded-or-deleted conversation
    — every changed conv MUST appear here (its old postings are stale);
    deleted convs appear here with no rows in ``changed_spans``. Both
    deltas derive from the spans with the pipeline's own stage-3/4
    builders, so ``dl == sum(tf)`` per turn by construction."""
    ids = ["conv_id", "turn_idx"]
    return refresh_segments(
        spark, io, SERVING_INDEX,
        {
            "tokens": term_frequencies(changed_spans, "extracted_text", ids),
            "doc_lengths": doc_lengths_of(changed_spans, "extracted_text", ids),
        },
        stale_convs, input_snapshot, n_buckets,
    )


def read_tokens_merged(spark: SparkSession, io: TableIO) -> DataFrame:
    return read_merged(spark, io, SERVING_INDEX, "tokens")


def read_doc_lengths_merged(spark: SparkSession, io: TableIO) -> DataFrame:
    return read_merged(spark, io, SERVING_INDEX, "doc_lengths")


def compact_serving_index(
    spark: SparkSession, io: TableIO, input_snapshot: str, n_buckets: int = 16
) -> dict:
    """Compact the tokens index and recommit the stage-4 corpus
    statistics from the merged lengths — read off the manifest of the
    merged doc_lengths commit (its row count and summed ``dl`` lineage
    counter) rather than by re-scanning it."""
    out = compact_segments(spark, io, SERVING_INDEX, input_snapshot, n_buckets)
    out["corpus_stats"] = io.commit_stage(
        corpus_stats_of(spark, io), "corpus_stats",
        f"{input_snapshot}:compacted", CONFIG_HASH, counter_cols=["n_docs"],
    )
    return out
