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


def persisted_ids(spark) -> set[int]:
    """The ids of the session's persisted RDDs. A leak check asks whether
    an id is present that was not there before, not whether the count
    grew: Spark's context cleaner releases RDDs of earlier tests (a
    collected Dataset's localCheckpoint) at any time, which would offset
    a leak in a count or make it shrink mid-test."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.fixture
def no_persisted_leak(spark):
    """Fails a test that leaves a persisted RDD in the session that was
    not there before it: a write path must release what it caches on
    every exit."""
    before = persisted_ids(spark)
    yield
    leaked = persisted_ids(spark) - before
    if leaked:
        pytest.fail(f"persisted RDD(s) {sorted(leaked)} left behind")
