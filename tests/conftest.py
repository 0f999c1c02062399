from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moz_datapipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Test data is sf0.001-sized: 32 shuffle partitions mean ~32 tiny
    # tasks per exchange across ~1,200 tests, which is pure scheduler
    # overhead.  8 keeps every plan shape identical (AQE still
    # coalesces/splits as in production) while roughly halving task
    # count; override with SPARK_GRAFT_TEST_SHUFFLE when a test run
    # should mirror the bench exactly.
    s = get_spark(
        app_name="moz_datapipeline_spark_tests",
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8")
        ),
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def clean_storage(spark):
    """Start a storage-registry test from an empty registry.

    Earlier tests leave severed localCheckpoint results (and frames
    they persisted) behind, and Spark's ContextCleaner drops those
    whenever the JVM happens to collect them — so a count taken
    against that leftover baseline can shrink mid-test.  Releasing
    them first makes ``registry == base`` measure the operator under
    test alone."""
    spark.catalog.clearCache()
    for jrdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).values():
        jrdd.unpersist(True)
    return spark
