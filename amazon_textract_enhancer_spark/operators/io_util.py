"""Shared table loader for the driver testdata parquet tables, and the
one place that checkpoints DataFrames or starts threads."""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table; declarative so Catalyst pushes filters
    and prunes columns into the parquet scan."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def t_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table and, WHEN the file is too small to give
    the scan one split per core, round-robin it to the session's
    default parallelism (r6, guide §2.6/§6).

    Why: the fixture tables are single-row-group parquet files, so any
    scan-rooted map stage — shingling, per-row md5 witnesses, the d²
    covariance Generate — ran as ONE task with every other core idle
    (measured: embed_covariance 3.2s → 1.4s, ann_lsh_portable 2.1s →
    1.5s just from spreading). The condition is data-adaptive, not a
    local[32] constant: estimated scan splits = file bytes /
    spark.sql.files.maxPartitionBytes; at production sizes the
    estimate exceeds the core count, the condition is false and the
    plan is EXACTLY ``t()`` — no repartition, no cost. Only
    map-side-heavy consumers opt in (an extra exchange is pure
    overhead for cheap scans feeding an immediate aggregation)."""
    df = t(spark, sf_dir, name)
    sc = spark.sparkContext
    try:
        nbytes = _data_bytes(f"{sf_dir}/{name}.parquet")
    except OSError:
        return df
    try:
        max_pb = int(
            spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
            )
        )
    except Exception:
        max_pb = 128 * 1024 * 1024
    est_splits = max(1, nbytes // max_pb)
    if est_splits < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _data_bytes(path: str) -> int:
    """Bytes of a table's data file, or of the part files under a table
    directory (whose own ``getsize`` is the inode size)."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Row count of a testdata table from parquet FOOTER metadata only
    (pyarrow, no Spark job, no data pages read) — the in-sandbox
    stand-in for a committed stats table / TableIO manifest row count.
    Operators that only need the corpus size's order of magnitude
    (e.g. ``ann_lsh_bucketed``'s plane-count derivation) read this
    instead of running an ``emb.count()`` full-scan job per query call
    (ADVICE r4): at 10^12 indexed rows the footers of the current
    snapshot are exactly what an Iceberg ``snapshot.summary`` /
    manifest ``record_count`` serves for free."""
    import pyarrow.dataset as ds

    return ds.dataset(f"{sf_dir}/{name}.parquet", format="parquet").count_rows()


def materialize(
    df: DataFrame, label: str, replaces: DataFrame | None = None
) -> DataFrame:
    """Eager local checkpoint of ``df`` — the engine's only
    materialization point, for intermediates that feed several
    consumers or a loop. A checkpoint, never ``persist``: the session
    CacheManager matches cached frames by plan, so a persisted frame
    leaks results (and memory) into later invocations of the same query.
    The job runs with description ``label``; the caller's is restored.

    Retention: the returned checkpoint's blocks stay stored until
    ``release`` frees them, or the JVM collects the DataFrame and
    ContextCleaner drops them. ``replaces`` (a DataFrame this function
    returned earlier, which no live plan reads any more, e.g. a loop's
    previous round) is released as soon as the new checkpoint exists."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        out = df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    if replaces is not None:
        release(replaces)
    return out


def release(df: DataFrame) -> None:
    """Free the stored blocks of a checkpoint ``materialize`` returned;
    no live plan may read it any more."""
    df._jdf.queryExecution().logical().rdd().unpersist(True)


def overlap(thunks: dict[str, Callable[[], T]]) -> dict[str, T]:
    """Run independent thunks concurrently and return ``{label:
    result}`` in the given order; the tail of one job back-fills the
    idle task slots of another. Each thread inherits the caller's local
    properties (job group included) and runs with description
    ``label``. All thunks run to the end; then the exception of the
    first-LISTED failing thunk is raised, whichever failed first."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    spark = SparkSession.active()

    def _labelled(label: str, fn: Callable[[], T]) -> Callable[[], T]:
        def run() -> T:
            spark.sparkContext.setJobDescription(label)
            return fn()

        # wrapped per thunk, so each thread owns its copy of the properties
        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = {k: pool.submit(_labelled(k, fn)) for k, fn in thunks.items()}
    return {k: f.result() for k, f in futures.items()}
