import pytest

from kgx.fixtures.gen import ensure
from kgx.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kgx-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_dir():
    return str(ensure("tiny"))


@pytest.fixture(scope="session")
def tiny(spark, tiny_dir):
    """dict of DataFrames for the tiny fixture set."""
    return {
        name: spark.read.parquet(f"{tiny_dir}/{name}.parquet")
        for name in ("source_files", "compound_dict", "golden_mentions", "golden_triples", "manifest")
    }
