"""Block-max WAND == exhaustive scoring, on every fixture query (the
north-rule proof obligation: pruning must be rank-identical)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.functions.codec import encode_grouped
from kbasesearchengine_spark.operators.topk import InvertedIndex, topk
from kbasesearchengine_spark.operators.wand import wand_topk_segment
from kbasesearchengine_spark.functions.bm25 import idf as bm25_idf
from kbasesearchengine_spark.functions.hashing import term_hash
from kernel_reference import eager_segment_topk


@pytest.fixture(scope="module")
def built(shared_index_dir):
    return shared_index_dir


QUERIES = [
    "license import",       # stopwords: dense postings, heavy pruning load
    "parser http cache",
    "rfah license",
    "quorum",
    "the import license parse",
]


@pytest.mark.parametrize("query", QUERIES)
def test_wand_equals_exhaustive_per_segment(spark, built, query):
    index = InvertedIndex(spark, built)
    terms = sorted(set(query.split()))
    n, avgdl = index.stats["n_docs"], index.stats["avgdl"]
    dfs = index.term_dfs(terms)
    terms = [t for t in terms if t in dfs]
    idfs = {term_hash(t): float(bm25_idf(dfs[t], n)) for t in terms}
    postings = index.postings.where(
        F.col("term_hash").isin(list(idfs))
    ).toPandas()
    for seg, pdf in postings.groupby("segment"):
        wand = wand_topk_segment(pdf, idfs, avgdl, 10)
        exact = eager_segment_topk(pdf, idfs, avgdl, 10, "or")
        assert list(wand["doc_id"]) == list(exact["doc_id"]), f"seg {seg}"
        np.testing.assert_allclose(wand["score"], exact["score"], atol=1e-9)


def test_wand_end_to_end_matches_naive(spark, built):
    index = InvertedIndex(spark, built)
    got = topk(index, "license import the", k=10, mode="or", hydrate=False).collect()
    from kbasesearchengine_spark.operators.topk import topk_naive

    exp = topk_naive(index.docs, "license import the", k=10, mode="or").collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]
    np.testing.assert_allclose(
        [r["score"] for r in got], [r["score"] for r in exp], atol=1e-9
    )


def _synthetic_segment():
    """One 5000-doc segment (the shared fixture's ~100-doc segments fit
    in one 128-posting block — nothing to skip there): a stopword in
    every doc (tf 1, dl 100 -> ~39 blocks, tiny ub) and a rare term in
    50 CLUSTERED docs (one doc-id region -> its single block's upper
    bound covers only the intervals there) with huge tf and small dl,
    which dominates the top-10. Returns (pdf, idfs, avgdl)."""
    n = 5000
    rng = np.random.default_rng(7)

    def row(th, ids, tfs, dls):
        ids = np.asarray(ids, dtype=np.uint64)
        enc = encode_grouped(
            ids, np.asarray(tfs, dtype=np.uint64),
            np.asarray(dls, dtype=np.uint64),
            np.array([0]), np.array([len(ids)]), 128,
        )
        return {"term_hash": th, "df": len(ids),
                **{k: v[0] for k, v in enc.items()}}

    common = row(1, np.arange(n), np.ones(n), np.full(n, 100))
    rare_ids = np.arange(1000, 1050)
    rare = row(2, rare_ids, rng.integers(5, 21, 50), np.full(50, 50))
    pdf = pd.DataFrame([common, rare])
    idfs = {1: float(bm25_idf(n, n)), 2: float(bm25_idf(50, n))}
    return pdf, idfs, 100.0


def test_wand_skips_decoding_bytes():
    """Lazy decode is real: on a stopword-heavy OR query the sweep stops
    before touching most of the stopword's blocks — decoded BYTES (not
    just scored FLOPs) are a fraction of the postings' total bytes, and
    results still equal the exhaustive reference. Away from the rare
    term's block only the stopword's negligible upper bound remains, and
    the sweep stops without decoding."""
    pdf, idfs, avgdl = _synthetic_segment()
    agg = {}
    wand = wand_topk_segment(pdf, idfs, avgdl, 10, stats=agg)
    exact = eager_segment_topk(pdf, idfs, avgdl, 10, "or")
    assert list(wand["doc_id"]) == list(exact["doc_id"])
    np.testing.assert_allclose(wand["score"], exact["score"], atol=1e-9)
    assert agg["total_blocks"] > 35  # ~40 common + 1 rare
    # the pruning skips MOST of the stopword's blocks, by bytes
    assert agg["decoded_blocks"] < agg["total_blocks"] * 0.6, agg
    assert agg["decoded_bytes"] < agg["total_bytes"] * 0.6, agg


def test_exhaustive_or_decodes_every_block():
    """k=None (every match, ranked) and scores=False (the match set)
    have nothing to prune: every block is decoded and counted. The
    match-only pass reads only the doc-id stream."""
    pdf, idfs, avgdl = _synthetic_segment()
    agg = {}
    got = wand_topk_segment(pdf, idfs, avgdl, None, stats=agg)
    exact = eager_segment_topk(pdf, idfs, avgdl, None, "or")
    assert len(got) == 5000
    assert list(got["doc_id"]) == list(exact["doc_id"])
    np.testing.assert_allclose(got["score"], exact["score"], atol=1e-9)
    assert agg["total_bytes"] > 0
    assert agg["decoded_bytes"] == agg["total_bytes"], agg
    assert agg["decoded_blocks"] == agg["total_blocks"] > 35, agg

    plain = {}
    ids = wand_topk_segment(pdf, idfs, avgdl, None, stats=plain, scores=False)
    assert list(ids.columns) == ["doc_id"]
    assert list(ids["doc_id"]) == list(range(5000))
    doc_bytes = sum(len(r["doc_ids"]) for _, r in pdf.iterrows())
    assert plain["decoded_bytes"] == doc_bytes < plain["total_bytes"], plain
    assert plain["decoded_blocks"] == plain["total_blocks"], plain
