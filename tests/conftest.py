import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (SparkSession.builder
             .master(f"local[{cpus}]")
             .appName("tileigi-spark-tests")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    yield spark
    spark.stop()


@pytest.fixture
def hash_exchanges():
    """The hash exchanges of a frame's physical plan: 1 for a
    build_tiles render (its metatile exchange)."""
    return lambda df: (df._jdf.queryExecution().executedPlan().toString()
                       .count("Exchange hashpartitioning"))
