import contextlib
import os

import pytest

ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


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
def forced_split(spark):
    """A context manager under which build_tiles plans the split render
    (salted exchange + assemble_tiles) for every range with salted
    zooms: it takes that plan when the covered rows' size estimate is
    larger than the advisory partition size / 16, and at 1 byte every
    nonempty estimate is. The plan is chosen when build_tiles builds
    it."""
    @contextlib.contextmanager
    def split():
        old = spark.conf.get(ADVISORY)
        spark.conf.set(ADVISORY, "1b")
        try:
            yield
        finally:
            spark.conf.set(ADVISORY, old)
    return split


@pytest.fixture
def known_size(spark):
    """df as an in-memory Arrow relation, whose size the planner knows.
    A frame built from a Python list is an RDD of unknown size, for
    which build_tiles takes the split plan."""
    return lambda df: spark.createDataFrame(df.toArrow())


@pytest.fixture
def hash_exchanges():
    """The hash exchanges of a frame's physical plan: 1 for a fused
    render, 2 for a split one (the salted render exchange and
    assemble_tiles')."""
    return lambda df: (df._jdf.queryExecution().executedPlan().toString()
                       .count("Exchange hashpartitioning"))
