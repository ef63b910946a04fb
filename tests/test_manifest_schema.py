"""The TableIO manifest as schema authority (the Iceberg reader's view
of table metadata): every table ``read_table`` returns has exactly the
schema that inferring it from the parquet footers would give, without
the inference job; manifests written before the schema was recorded
still read, by inference."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from amazon_textract_enhancer_spark.pipeline import STAGES, run_extraction_pipeline
from amazon_textract_enhancer_spark.sources.tableio import TableIO
from conftest import jobs_in_group


def _assert_manifest_schema(spark, io, name):
    assert "schema" in io.read_manifest(name), name
    inferred = spark.read.parquet(io.data_path(name)).schema
    assert io.read_table(spark, name).schema == inferred, name


def test_pipeline_tables_read_with_inferred_schema(spark, transcripts_df, tmp_path):
    io = TableIO(str(tmp_path / "wh"))
    m = run_extraction_pipeline(spark, transcripts_df, io.warehouse)
    tables = [t for t in m if not t.startswith("_")]
    assert set(STAGES) <= set(tables) and len(tables) == 5
    for name in tables:
        _assert_manifest_schema(spark, io, name)


def test_fixture_tables_read_with_inferred_schema(spark, monkeypatch, tmp_path):
    from amazon_textract_enhancer_spark import fixture_cache as fc
    from amazon_textract_enhancer_spark.operators import extraction_queries as xq

    monkeypatch.setattr(fc, "CACHE_ROOT", str(tmp_path / "cache"))
    sf_dir = "sf0.002"  # n_convs_for → 8
    for build in (xq.fixture_spans, xq.fixture_blocks, xq.fixture_nodes):
        build(spark, sf_dir)
    io, _ = xq._fixture_io(xq.n_convs_for(sf_dir))
    for name in ("extracted_spans", "blocks_long", "nodes_long"):
        _assert_manifest_schema(spark, io, name)


def test_partitioned_ivf_index_reads_with_inferred_schema(spark, tmp_path):
    from amazon_textract_enhancer_spark.operators.similarity import ivf_build_index

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (k + 1)) for k in range(4)]).alias("v"),
    )
    wh = str(tmp_path / "ivf")
    m = ivf_build_index(spark, emb, wh, n_centroids=4, input_snapshot="s1")
    assert m["partition_by"] == "bucket"
    io = TableIO(wh)
    _assert_manifest_schema(spark, io, "ivf_index")
    assert io.read_table(spark, "ivf_index").schema["bucket"].dataType.typeName() == "integer"


def test_range_export_and_as_of_read_with_inferred_schema(spark, tmp_path):
    io = TableIO(str(tmp_path / "wh"), retain_snapshots=1)
    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("payload"))
    io.commit_stage(df, "export", "s1", range_col="doc_id",
                    sort_within=["doc_id"], n_buckets=4)
    _assert_manifest_schema(spark, io, "export")
    # the next snapshot has another schema; as_of=1 reads snapshot 1
    # with the schema its snapshot-log entry recorded
    io.commit_stage(df.withColumn("n", F.length("payload")), "export", "s2")
    got = io.read_table(spark, "export", as_of=1)
    assert got.schema == spark.read.parquet(io.snap_path("export", 1)).schema
    assert got.columns == ["doc_id", "payload"] and got.count() == 500
    _assert_manifest_schema(spark, io, "export")


def test_evolved_table_reads_like_inferred_plus_default(spark, tmp_path):
    io = TableIO(str(tmp_path / "wh"))
    io.commit_stage(spark.createDataFrame([(1,), (2,)], "v int"), "t", "s1")
    io.evolve_add_column("t", "quality", "double", default=0.5)
    inferred = spark.read.parquet(io.data_path("t")).withColumn(
        "quality", F.lit(0.5).cast("double"))
    got = io.read_table(spark, "t")
    assert got.schema == inferred.schema
    assert sorted(tuple(r) for r in got.collect()) == [(1, 0.5), (2, 0.5)]


def test_manifest_without_schema_reads_by_inference(spark, tmp_path):
    """A manifest written before schemas were recorded (such as the
    committed fixture caches) has no ``schema`` key: read_table infers
    the schema from the footers, at the cost of one job."""
    io = TableIO(str(tmp_path / "wh"))
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    io.commit_stage(df, "t", "s1")
    _, with_schema = jobs_in_group(
        spark, "schema-read", lambda: io.read_table(spark, "t").collect())

    m = io.read_manifest("t")
    del m["schema"]
    with open(io.manifest_path("t"), "w") as f:
        json.dump(m, f)
    got, inferred = jobs_in_group(
        spark, "legacy-read", lambda: io.read_table(spark, "t").collect())
    assert sorted(tuple(r) for r in got) == [("a", 1), ("b", 2)]
    assert io.read_table(spark, "t").schema == spark.read.parquet(io.data_path("t")).schema
    assert inferred == with_schema + 1
