"""End-to-end golden tests: build index → query → rank-identical to oracle.

The analog of the reference's embedded-ES integration suite
(ElasticIndexingStorageTest.java): full pipeline on a deterministic corpus,
asserting exact top-k docIDs, scores (atol 1e-9), and the per-row sha256
invariant.
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.corpus import generate_corpus, generate_corpus_pandas
from kbasesearchengine_spark.operators.indexer import IndexBuilder
from kbasesearchengine_spark.operators.topk import InvertedIndex, topk, topk_naive
from kbasesearchengine_spark.oracle import build_oracle_index, oracle_topk

from conftest import SHARED_ROWS

N_ROWS = SHARED_ROWS

QUERIES = [
    "rfah",               # rare planted term
    "license",            # stopword (in >90% of docs)
    "parser http",        # two mid-frequency terms, AND
    "quorum license",     # rare + stopword
    "license import the", # stopwords only, 3-term AND
    "zz_absent_token",    # not in corpus -> empty
    "RfaH",               # case variant must equal lowercase
    "parse_",             # term with underscore prefix handling
]


@pytest.fixture(scope="module")
def built(spark, shared_index_dir):
    import json, os
    with open(os.path.join(shared_index_dir, "stats.json")) as f:
        stats = json.load(f)
    return shared_index_dir, stats


@pytest.fixture(scope="module")
def oracle_idx():
    pdf = generate_corpus_pandas(N_ROWS)
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    docs = list(zip(range(len(pdf)), pdf["content"]))
    return build_oracle_index(docs), pdf


def test_stats_match_oracle(built, oracle_idx):
    _, stats = built
    oidx, _ = oracle_idx
    assert stats["n_docs"] == oidx.n_docs == N_ROWS
    assert abs(stats["avgdl"] - oidx.avgdl) < 1e-9


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("mode", ["and", "or"])
def test_topk_rank_identical(spark, built, oracle_idx, query, mode):
    idx_dir, _ = built
    oidx, _ = oracle_idx
    index = InvertedIndex(spark, idx_dir)
    got = topk(index, query, k=10, mode=mode, hydrate=False).collect()
    exp = oracle_topk(oidx, query, k=10, mode=mode)
    assert [r["doc_id"] for r in got] == [d for d, _ in exp], f"{query} {mode}"
    np.testing.assert_allclose(
        [r["score"] for r in got], [s for _, s in exp], atol=1e-9
    )


@pytest.mark.parametrize("query", ["rfah", "parser http", "license import"])
def test_naive_path_matches_indexed(spark, built, query):
    idx_dir, _ = built
    index = InvertedIndex(spark, idx_dir)
    got_idx = topk(index, query, k=10, mode="and", hydrate=False).collect()
    got_naive = topk_naive(index.docs, query, k=10, mode="and").collect()
    assert [r["doc_id"] for r in got_idx] == [r["doc_id"] for r in got_naive]
    np.testing.assert_allclose(
        [r["score"] for r in got_idx],
        [r["score"] for r in got_naive],
        atol=1e-9,
    )


def test_sha256_invariant(spark, built, oracle_idx):
    """Every hydrated result row's sha256 equals sha256 of corpus content."""
    idx_dir, _ = built
    _, pdf = oracle_idx
    index = InvertedIndex(spark, idx_dir)
    res = topk(index, "parser http", k=10, mode="and").collect()
    assert len(res) > 0
    by_key = {
        (r.repo, r.path, r.commit): hashlib.sha256(r.content.encode()).hexdigest()
        for _, r in pdf.iterrows()
    }
    for row in res:
        assert row["sha256"] == by_key[(row["repo"], row["path"], row["commit"])]
        assert (
            hashlib.sha256(row["content"].encode()).hexdigest() == row["sha256"]
        )


def test_doc_filter_applied_before_ranking(spark, built):
    idx_dir, _ = built
    index = InvertedIndex(spark, idx_dir)
    res = topk(
        index, "license", k=10, mode="and", doc_filter=F.col("lang") == "python"
    ).collect()
    assert len(res) > 0
    assert all(r["lang"] == "python" for r in res)
    # the filtered top-k must contain python docs ranked by score among
    # python docs only — i.e. not just the unfiltered winners post-filtered
    unfiltered = topk(index, "license", k=10, mode="and", hydrate=False).collect()
    assert {r["doc_id"] for r in res} != set() and len(res) == 10 or len(unfiltered) < 10


OR_QUERIES = ["license import", "parser http cache", "rfah quorum"]


@pytest.mark.parametrize("query", OR_QUERIES)
def test_or_every_match_scored_matches_oracle(spark, built, oracle_idx, query):
    """topk(mode="or", k=None): the exhaustive OR kernel scores every
    match, each with the oracle's score."""
    idx_dir, _ = built
    oidx, _ = oracle_idx
    got = topk(InvertedIndex(spark, idx_dir), query, k=None, mode="or",
               hydrate=False).collect()
    exp = dict(oracle_topk(oidx, query, k=N_ROWS, mode="or"))
    got = {r["doc_id"]: r["score"] for r in got}
    assert exp and sorted(got) == sorted(exp)
    np.testing.assert_allclose(
        [got[d] for d in sorted(exp)], [exp[d] for d in sorted(exp)],
        atol=1e-9,
    )


@pytest.mark.parametrize("query", OR_QUERIES)
def test_or_match_only_matches_oracle(spark, built, oracle_idx, query):
    """scores=False OR returns exactly the oracle's match set."""
    idx_dir, _ = built
    oidx, _ = oracle_idx
    got = topk(InvertedIndex(spark, idx_dir), query, k=None, mode="or",
               hydrate=False, scores=False)
    assert got.columns == ["doc_id"]
    exp = {d for d, _ in oracle_topk(oidx, query, k=N_ROWS, mode="or")}
    assert exp and sorted(r["doc_id"] for r in got.collect()) == sorted(exp)


@pytest.mark.parametrize("query", OR_QUERIES)
def test_or_doc_filter_matches_oracle(spark, built, oracle_idx, query):
    """OR with a doc_filter ranks among the filtered docs only: the
    top-10 is the oracle's ranking over all docs restricted to them."""
    idx_dir, _ = built
    oidx, pdf = oracle_idx
    got = topk(InvertedIndex(spark, idx_dir), query, k=10, mode="or",
               doc_filter=F.col("lang") == "python", hydrate=False).collect()
    python_ids = set(pdf.index[pdf["lang"] == "python"])
    exp = [(d, s) for d, s in oracle_topk(oidx, query, k=N_ROWS, mode="or")
           if d in python_ids][:10]
    assert exp
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [r["score"] for r in got], [s for _, s in exp], atol=1e-9
    )


def test_doc_id_assignment_is_sorted_rank(spark, built, oracle_idx):
    idx_dir, _ = built
    _, pdf = oracle_idx
    index = InvertedIndex(spark, idx_dir)
    docs = index.docs.select("doc_id", "repo", "path", "commit").orderBy("doc_id")
    got = docs.collect()
    assert [r["doc_id"] for r in got] == list(range(N_ROWS))
    assert [(r["repo"], r["path"], r["commit"]) for r in got] == list(
        zip(pdf["repo"], pdf["path"], pdf["commit"])
    )


def test_doc_ids_invariant_to_partition_count(spark, monkeypatch):
    """The docs phase's rank ids (one literal offset array plus the
    within-partition sequence) do not depend on how many partitions the
    range shuffle makes: 1, 8 and 64 partitions over 200 rows all give
    each row its dense rank under the sorted keys."""
    from pyspark import SparkContext

    from kbasesearchengine_spark.operators import indexer as ix

    rows = [("r%03d" % (i % 37), "p%03d" % i, "c", "x y z") for i in range(200)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    rank = {k: i for i, k in enumerate(sorted((r[0], r[1]) for r in rows))}
    for nump in (1, 8, 64):
        monkeypatch.setattr(SparkContext, "defaultParallelism",
                            property(lambda self: nump))
        with ix.docs_phase(df, ["repo", "path"], "content") as (docs, n):
            ids = {(r["repo"], r["path"]): r["doc_id"]
                   for r in docs(50).collect()}
        assert n == 200
        assert ids == rank, nump
        assert sorted(ids.values()) == list(range(200))


def test_tiny_flush_buffer_rank_identical(spark, monkeypatch, tmp_path):
    """FLUSH_PAIRS bounds the flush kernel's working set (sized for
    the cache tier — see indexer.build_postings_from_docs). A tiny budget
    forces MANY flushes per partition, so every common term's posting
    splits into fragment rows; readers must merge them back to results
    identical to the shared (single-flush) index."""
    from kbasesearchengine_spark.operators import indexer as ix

    corpus = generate_corpus(spark, 400, parallelism=4)
    # a flush can only trigger BETWEEN Arrow batches — shrink the batch
    # so each build partition spans several, then every batch overflows
    # the 100-pair budget and flushes
    monkeypatch.setattr(ix, "FLUSH_PAIRS", 100)
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(batch_key, None)
    spark.conf.set(batch_key, "4")
    frag_dir = str(tmp_path / "frag_idx")
    try:
        IndexBuilder(spark, frag_dir, num_segments=4, segments_per_commit=4).build(
            corpus, key_cols=["repo", "path", "commit"]
        )
    finally:
        if old_batch is None:
            spark.conf.unset(batch_key)
        else:
            spark.conf.set(batch_key, old_batch)
    monkeypatch.undo()  # default budget for the reference build
    ref_dir = str(tmp_path / "ref_idx")
    IndexBuilder(spark, ref_dir, num_segments=4, segments_per_commit=4).build(
        corpus, key_cols=["repo", "path", "commit"]
    )
    frag, ref = InvertedIndex(spark, frag_dir), InvertedIndex(spark, ref_dir)
    # the tiny budget really did fragment the postings
    assert frag.postings.count() > 1.5 * ref.postings.count()
    for q, mode in [("license import", "and"), ("parser http", "or"), ("rfah", "and")]:
        a = [(r["doc_id"], round(r["score"], 9))
             for r in topk(frag, q, k=10, mode=mode, hydrate=False).collect()]
        b = [(r["doc_id"], round(r["score"], 9))
             for r in topk(ref, q, k=10, mode=mode, hydrate=False).collect()]
        assert a == b, q


def test_given_doc_ids_postings_sorted(spark, shared_index_dir, tmp_path):
    """A doc_id_col build (the field-index input) must not depend on the
    input's row order — a docs table read back from parquet arrives in
    file order. Every posting's doc list is strictly increasing, as the
    block-max metadata and the segment merge require."""
    import os

    from kbasesearchengine_spark.functions.codec import delta_decode

    docs = spark.read.parquet(os.path.join(shared_index_dir, "docs"))
    idx_dir = str(tmp_path / "given_ids")
    IndexBuilder(spark, idx_dir, num_segments=3, segments_per_commit=3).build(
        docs.orderBy(F.col("doc_id").desc()), key_cols=["doc_id"],
        doc_id_col="doc_id",
    )
    rows = InvertedIndex(spark, idx_dir).postings.select("doc_ids").collect()
    assert rows
    for r in rows:
        ids = delta_decode(bytes(r["doc_ids"])).astype(np.int64)
        assert np.all(np.diff(ids) > 0)
