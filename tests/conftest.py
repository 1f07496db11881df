from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from imdedup_plus_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_corpus(spark):
    """t1-tier corpus (FIXTURES.md): 64 base pages -> ~300 docs, cached."""
    from imdedup_plus_spark import fixtures as FX

    gt = FX.generate_documents(spark, n_base=64, with_ground_truth=True).cache()
    gt.count()
    return gt


@pytest.fixture(scope="session")
def sf001_docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
