"""term_dfs driver-side pyarrow lookup: must match the Spark scan exactly,
including across incremental batch partitions, and the terms files must be
hash-sorted so row-group statistics can prune the point lookup."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.corpus import generate_corpus
from kbasesearchengine_spark.operators.indexer import IndexBuilder, add_documents
from kbasesearchengine_spark.operators.topk import InvertedIndex
from kbasesearchengine_spark.functions.hashing import term_hash


def _spark_dfs(index, terms):
    h2t = {term_hash(t): t for t in terms}
    rows = (
        index.terms.where(F.col("term_hash").isin(list(h2t)))
        .collect()
    )
    return {h2t[r["term_hash"]]: int(r["df"]) for r in rows}


def test_pyarrow_lookup_matches_spark(spark, shared_index_dir):
    index = InvertedIndex(spark, shared_index_dir)
    terms = ["parser", "http", "license", "import", "the", "rfah",
             "no_such_token_xyz"]
    got = index.term_dfs(terms)
    want = _spark_dfs(index, terms)
    assert got == want
    assert "no_such_token_xyz" not in got


def test_pyarrow_lookup_sums_across_batches(spark, tmp_path):
    idx_dir = str(tmp_path / "idx")
    base = generate_corpus(spark, 300, parallelism=4)
    IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=4).build(
        base, key_cols=["repo", "path", "commit"]
    )
    extra = generate_corpus(spark, 400, parallelism=4).where(
        F.monotonically_increasing_id() >= 0
    ).subtract(base)
    add_documents(spark, idx_dir, extra, key_cols=["repo", "path", "commit"])
    index = InvertedIndex(spark, idx_dir)
    batches = {
        d for d in os.listdir(os.path.join(idx_dir, "terms"))
        if d.startswith("batch=")
    }
    assert len(batches) >= 2  # the add contributed its own partition
    terms = ["parser", "license", "import", "cache"]
    assert index.term_dfs(terms) == _spark_dfs(index, terms)


def assert_terms_hash_sorted(index_dir):
    """Every terms file (of every batch) is term_hash-sorted."""
    terms_dir = os.path.join(index_dir, "terms")
    checked = 0
    for root, _dirs, files in os.walk(terms_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            col = pq.read_table(
                os.path.join(root, f), columns=["term_hash"]
            ).column("term_hash").to_pylist()
            assert col == sorted(col)
            checked += 1
    assert checked > 0


def test_terms_files_hash_sorted(shared_index_dir):
    assert_terms_hash_sorted(shared_index_dir)


def test_spark_fallback_matches_pyarrow(spark, shared_index_dir, monkeypatch):
    """A terms store pyarrow cannot open (OSError) takes the Spark scan,
    which must return the same dfs; any other error in the pyarrow
    lookup is a defect and must surface, not fall back. The handle opens
    its pyarrow snapshot in refresh(), so each case reopens it."""
    import pyarrow.dataset as pads

    index = InvertedIndex(spark, shared_index_dir)
    terms = ["parser", "http", "license", "rfah", "no_such_token_xyz"]
    want = index.term_dfs(terms)
    calls = []

    def unreadable(*args, **kwargs):
        calls.append(args)
        raise OSError("terms store not readable through pyarrow")

    monkeypatch.setattr(pads, "dataset", unreadable)
    index.refresh()
    assert index.term_dfs(terms) == want
    assert calls  # the pyarrow path was tried first

    def broken(*args, **kwargs):
        raise TypeError("defect in the lookup")

    monkeypatch.setattr(pads, "dataset", broken)
    with pytest.raises(TypeError):
        index.refresh()
