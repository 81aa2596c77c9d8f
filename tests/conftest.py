from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rios_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rios_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def counted_reads(spark):
    """wrap(df) -> (df behind an identity mapInPandas, accumulator): the
    accumulator sums the rows read from df over every job that scans
    it, so a test can assert how many times an operator reads its
    input."""

    def wrap(df):
        reads = spark.sparkContext.accumulator(0)

        def ident(batches):
            for b in batches:
                reads.add(len(b))
                yield b

        return df.mapInPandas(ident, df.schema), reads

    return wrap


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
