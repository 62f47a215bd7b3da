import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("emsort-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def with_row_hash():
    """Adds the hidden row-hash column that ``external_sort_df`` feeds a
    checkpointed kernel to a pandas chunk.  pandas' per-row hash stands
    in for Spark's xxhash64: the kernel only folds the values."""
    import pandas as pd

    from external_merge_sort_loser_tree_ovc_spark.kernel.external_sort import (
        ROW_HASH_COL,
    )

    def add(chunk):
        h = pd.util.hash_pandas_object(chunk, index=False).to_numpy()
        return chunk.assign(**{ROW_HASH_COL: h.view("int64")})

    return add
