"""The engine's one materialize/overlap policy (operators/io_util.py):
job-group inheritance and deterministic failures under ``overlap``,
release of superseded loop checkpoints under ``materialize``, the
layout-aware ``t_spread`` size probe, and the guard that keeps every
checkpoint and thread pool behind those two helpers."""

from __future__ import annotations

import pathlib
import re
import time

import pytest
from pyspark.sql import functions as F

from amazon_textract_enhancer_spark.operators.io_util import (
    materialize,
    overlap,
    t_spread,
)
from conftest import jobs_in_group

PKG = pathlib.Path(__file__).resolve().parent.parent / "amazon_textract_enhancer_spark"


def _stored_rdd_ids(spark) -> set[int]:
    return {int(i.id()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_overlap_jobs_keep_caller_job_group(spark):
    out, n_jobs = jobs_in_group(spark, "overlap-group-test", lambda: overlap({
        "a": lambda: spark.range(100).count(),
        "b": lambda: spark.range(50).count(),
    }))
    assert out == {"a": 100, "b": 50}
    assert list(out) == ["a", "b"]
    assert n_jobs >= 2


def test_overlap_raises_first_listed_failure(spark):
    def slow_fail():
        time.sleep(0.5)
        raise ValueError("first")

    def fast_fail():
        raise KeyError("second")

    ran = []
    for _ in range(3):
        with pytest.raises(ValueError, match="first"):
            overlap({
                "slow": slow_fail,
                "fast": fast_fail,
                "ok": lambda: ran.append(1),
            })
    assert len(ran) == 3  # a failure never cancels the other thunks


def test_materialize_restores_caller_description(spark):
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        df = materialize(spark.range(10), "probe")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert df.count() == 10


def test_materialize_replaces_frees_blocks(spark):
    before = _stored_rdd_ids(spark)
    a = materialize(spark.range(1000), "round 0")
    b = materialize(a.select((F.col("id") + 1).alias("id")), "round 1", replaces=a)
    new = _stored_rdd_ids(spark) - before
    assert len(new) == 1
    assert b.agg(F.sum("id")).first()[0] == sum(range(1, 1001))


def test_connected_components_releases_superseded_rounds(spark):
    from amazon_textract_enhancer_spark.operators.dedup import connected_components

    # a 9-vertex path: min-label propagation needs ~8 rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    before = _stored_rdd_ids(spark)
    labels = connected_components(edges, single_partition=False)
    assert {r["label"] for r in labels.collect()} == {1}
    # only the edge list and the final round's labels stay stored
    assert len(_stored_rdd_ids(spark) - before) <= 2


def test_embed_kmeans_releases_superseded_codebooks(spark, tmp_path):
    from amazon_textract_enhancer_spark.operators.similarity import (
        KMEANS_ITERS,
        embed_kmeans,
    )

    assert KMEANS_ITERS >= 2
    spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (d + 1)) for d in range(8)]).alias("embedding"),
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    before = _stored_rdd_ids(spark)
    df = embed_kmeans(spark, str(tmp_path))
    # only the final round's 1-row codebook stays stored
    assert len(_stored_rdd_ids(spark) - before) == 1
    assert df.count() > 0


def test_t_spread_directory_table_big_enough_is_not_repartitioned(spark, tmp_path):
    path = tmp_path / "big.parquet"
    spark.range(0, 20000, 1, 4).select(
        F.sha2(F.col("id").cast("string"), 256).alias("h")
    ).write.parquet(str(path))
    data = sum(
        p.stat().st_size for p in path.iterdir() if not p.name.startswith((".", "_"))
    )
    par = spark.sparkContext.defaultParallelism
    # the directory inode (~4 KB) is under one split, the data is over
    # twice the parallelism in splits
    max_pb = max(data // (2 * par), 8192)
    assert data // max_pb >= par
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_pb))
    try:
        plan = t_spread(spark, str(tmp_path), "big")._jdf.queryExecution().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert "Repartition" not in plan, plan


def test_checkpoints_and_pools_only_in_io_util():
    pat = re.compile(r"localCheckpoint\(|ThreadPoolExecutor\(")
    offenders = [
        f"{p.relative_to(PKG)}:{n}"
        for p in PKG.rglob("*.py")
        if p.name != "io_util.py" or p.parent.name != "operators"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not offenders, offenders
