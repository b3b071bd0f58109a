import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kbasesearchengine_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kbse-tests")
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


SHARED_ROWS = 800


@pytest.fixture(scope="session")
def shared_index_dir(spark, tmp_path_factory):
    """One 800-row corpus index shared by read-only test modules."""
    from kbasesearchengine_spark.corpus import generate_corpus
    from kbasesearchengine_spark.operators.indexer import IndexBuilder

    idx_dir = str(tmp_path_factory.mktemp("shared_index"))
    corpus = generate_corpus(spark, SHARED_ROWS, parallelism=8)
    IndexBuilder(spark, idx_dir, num_segments=8, segments_per_commit=8).build(
        corpus, key_cols=["repo", "path", "commit"]
    )
    return idx_dir


@pytest.fixture
def no_persisted_leak(spark):
    """Fails a test that leaves more persisted RDDs in the session than
    it found: a write path must release what it caches on every exit."""

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    yield
    leaked = persisted() - before
    if leaked > 0:
        pytest.fail(f"{leaked} persisted RDD(s) left behind")
