import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from accelerated_intelligent_document_processing_on_aws_spark.sources.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="idp-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def kernel_tasks():
    """Rows in and rows out per kernel task of an extracted frame, and
    per any extra ``by`` columns.  The partition id is projected
    straight on the kernel's output, so it is the kernel task's."""

    def per_task(extracted, *by):
        return (
            extracted.withColumn("partition_id", F.spark_partition_id())
            .groupBy(*by, "partition_id")
            .agg(
                F.count(F.lit(1)).alias("rows_in"),
                F.count("extracted_text").alias("rows_out"),
            )
        )

    return per_task


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory):
    from accelerated_intelligent_document_processing_on_aws_spark.fixtures import (
        write_transcripts_parquet,
    )

    p = tmp_path_factory.mktemp("corpus") / "transcripts.parquet"
    write_transcripts_parquet(str(p), n_convs=200, seed=42)
    return str(p)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
