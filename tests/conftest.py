import os
import sys
from contextlib import contextmanager

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

REFERENCE_TESTS = "/root/reference/tests"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    # Tiny-fixture tuning: 1 shuffle partition, no codegen/AQE — per-stage
    # compile overhead dominates at this scale. perfbench/session.py
    # sizes these for real data volumes.
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("extract-cbd-shape-spark-tests")
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.codegen.wholeStage", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@contextmanager
def max_partition_bytes(spark, nbytes):
    """Run the block with ``spark.sql.files.maxPartitionBytes`` set to
    ``nbytes`` (the split size that sizes buckets and sink tasks), then
    restore it."""
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(nbytes))
    try:
        yield
    finally:
        spark.conf.set(conf, old)


def load_fixture(relpath: str) -> str:
    with open(os.path.join(REFERENCE_TESTS, relpath)) as f:
        return f.read()


@pytest.fixture
def sink_extract(spark, tmp_path_factory):
    """Store-local extraction the way the pipeline runs it: bucket the
    quads and member seeds by store (``materialize_store``), run the
    sink-fused kernel (``extract_store_files_to_store``) and read the
    result files back as a DataFrame."""
    from extract_cbd_shape_spark.operators.local_extract import (
        OUT_COLS,
        extract_store_files_to_store,
        materialize_store,
    )

    schema = ", ".join(
        f"{c} {'tinyint' if c.endswith('_kind') else 'string'}"
        for c in OUT_COLS)

    def run(triples, members, store_col="store_key", **kw):
        root = tmp_path_factory.mktemp("sink")
        store = materialize_store(
            triples, members, str(root / "store"), store_col=store_col)
        out = str(root / "out")
        extract_store_files_to_store(
            spark, store, out, store_col=store_col, **kw).collect()
        return spark.read.schema(schema).parquet(out)

    return run
