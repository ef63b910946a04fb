from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(os.environ.get("SPARK_TEST_MASTER", "local[4]"))
        .appName("ates-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def transcripts_df(spark):
    """Small fixture transcript table as a Spark DataFrame (shuffled rows)."""
    from amazon_textract_enhancer_spark.fixtures import generate_transcripts, rows_to_pandas
    from amazon_textract_enhancer_spark.schemas import TRANSCRIPT_SCHEMA

    rows, _ = generate_transcripts(seed=42, n_convs=25)
    df = spark.createDataFrame(rows_to_pandas(rows), schema=TRANSCRIPT_SCHEMA)
    return df.cache()


def jobs_in_group(spark, group, fn):
    """Run ``fn()`` under Spark job group ``group``; return its result
    and the number of Spark jobs started in the group (threads started
    through ``io_util.overlap`` inherit the group). The status store is
    fed by the asynchronous listener bus, so it is drained first: an
    exact count must not depend on how far the bus has got."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
