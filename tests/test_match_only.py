"""Intersection-only (scores=False) paths + conjunctive block-max
skipping: the reference's DEFAULT page order is not relevance
(ElasticIndexingStorage.java:1498-1501), so the default full-text plan
must not pay BM25 math or tf/dl decode; AND queries must skip
common-term blocks the rarest term cannot intersect (Lucene skip-list
analog, SURVEY §4)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.functions.bm25 import idf as bm25_idf
from kbasesearchengine_spark.functions.hashing import term_hash
from kbasesearchengine_spark.operators.topk import InvertedIndex, topk
from kbasesearchengine_spark.operators.wand import and_topk_segment
from kbasesearchengine_spark.plans.search import (
    MatchFilter,
    Pagination,
    SortingRule,
    search_objects,
)
from kernel_reference import eager_segment_topk


@pytest.fixture(scope="module")
def index(spark, shared_index_dir):
    return InvertedIndex(spark, shared_index_dir)


def _kernel_inputs(index, query, scores=True):
    terms = sorted(set(query.split()))
    n, avgdl = index.stats["n_docs"], index.stats["avgdl"]
    dfs = index.term_dfs(terms)
    terms = [t for t in terms if t in dfs]
    idfs = {
        term_hash(t): (float(bm25_idf(dfs[t], n)) if scores else 0.0)
        for t in terms
    }
    postings = index.postings.where(
        F.col("term_hash").isin(list(idfs))
    ).toPandas()
    return postings, idfs, avgdl


AND_QUERIES = [
    "license import",
    "rfah license",          # rare AND common: the skipping showcase
    "the import license parse",
    "parser http cache",
]


@pytest.mark.parametrize("query", AND_QUERIES)
def test_and_lazy_equals_eager(spark, index, query):
    """Block-skipping AND kernel is bit-identical to the eager
    reference."""
    postings, idfs, avgdl = _kernel_inputs(index, query)
    for seg, pdf in postings.groupby("segment"):
        lazy = and_topk_segment(pdf, idfs, avgdl, 10)
        eager = eager_segment_topk(pdf, idfs, avgdl, 10, "and")
        assert list(lazy["doc_id"]) == list(eager["doc_id"]), f"seg {seg}"
        np.testing.assert_array_equal(
            lazy["score"].to_numpy(), eager["score"].to_numpy()
        )


def test_and_skips_common_term_blocks(spark, tmp_path):
    """rare AND stopword: the stopword's postings are mostly never
    decoded (bytes, not just FLOPs — same counter as the OR-path WAND).
    Needs a posting list spanning MANY 128-doc blocks, so a dedicated
    single-segment index: 'the' in all 4000 docs (~32 blocks), 'needle'
    in 2 — the intersection touches ≤ a couple of the stopword's blocks."""
    from kbasesearchengine_spark.operators.indexer import IndexBuilder

    idx_dir = str(tmp_path / "blockidx")
    rows = [
        (i, "the filler%d word%d" % (i % 50, i % 7)
         + (" needle" if i in (10, 3900) else ""))
        for i in range(4000)
    ]
    corpus = spark.createDataFrame(rows, "doc_id bigint, text string")
    IndexBuilder(spark, idx_dir, num_segments=1, segments_per_commit=1).build(
        corpus, key_cols=["doc_id"], text_col="text", doc_id_col="doc_id"
    )
    bidx = InvertedIndex(spark, idx_dir)
    postings, idfs, avgdl = _kernel_inputs(bidx, "needle the")
    stats = {}
    for seg, pdf in postings.groupby("segment"):
        and_topk_segment(pdf, idfs, avgdl, 10, stats=stats)
    assert stats["total_blocks"] >= 30
    # the two candidate docs live in 2 blocks of 'the' + 1 of 'needle'
    assert stats["decoded_blocks"] <= 4
    assert stats["decoded_bytes"] < stats["total_bytes"] / 4
    # correctness on the same index: lazy == eager reference
    for seg, pdf in postings.groupby("segment"):
        lazy = and_topk_segment(pdf, idfs, avgdl, 10)
        eager = eager_segment_topk(pdf, idfs, avgdl, 10, "and")
        assert list(lazy["doc_id"]) == list(eager["doc_id"]) == [10, 3900]
    assert stats["decoded_bytes"] < stats["total_bytes"]


def test_match_only_same_doc_set_and_no_payload_decode(spark, index):
    """scores=False returns exactly the scored match set's doc_ids, with
    strictly fewer decoded bytes (tf/dl streams untouched)."""
    for mode in ("and", "or"):
        scored = topk(index, "license import", k=None, mode=mode,
                      hydrate=False)
        plain = topk(index, "license import", k=None, mode=mode,
                     hydrate=False, scores=False)
        assert plain.columns == ["doc_id"]
        a = sorted(r["doc_id"] for r in scored.select("doc_id").collect())
        b = sorted(r["doc_id"] for r in plain.collect())
        assert a == b, mode
    # decode accounting (kernel-level, AND path)
    postings, idfs, avgdl = _kernel_inputs(index, "license import")
    s_scores, s_plain = {}, {}
    for seg, pdf in postings.groupby("segment"):
        and_topk_segment(pdf, idfs, avgdl, None, stats=s_scores)
        and_topk_segment(pdf, idfs, avgdl, None, stats=s_plain, scores=False)
    assert s_plain["decoded_bytes"] < s_scores["decoded_bytes"]


def test_match_only_requires_match_shape(index):
    with pytest.raises(ValueError):
        topk(index, "license", k=10, scores=False, hydrate=False)
    with pytest.raises(ValueError):
        topk(index, "license", k=None, scores=False, hydrate=True)


def test_default_sort_page_has_no_score_column(index):
    """O2: the default (non-relevance) full-text page is intersection-
    only — no score column in the result at all."""
    page = search_objects(
        index, MatchFilter(full_text="license import"),
        pagination=Pagination(0, 10),
    )
    assert "score" not in page.columns
    rows = page.collect()
    assert rows
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids)
    # the same match under relevance DOES carry scores, same doc set page
    rel = search_objects(
        index, MatchFilter(full_text="license import"),
        sorting=[SortingRule("relevance")],
        pagination=Pagination(0, 10),
    )
    assert "score" in rel.columns


def test_key_sorted_fulltext_page_matches_scored_reference(index):
    """A non-relevance multi-key sort over a full-text match returns the
    same rows the scored path would, just without scoring work."""
    mf = MatchFilter(full_text="license")
    got = search_objects(
        index, mf, sorting=[SortingRule("dl", ascending=False)],
        pagination=Pagination(0, 15),
    ).select("doc_id").collect()
    exp = (
        index.docs.join(
            topk(index, "license", k=None, hydrate=False).select("doc_id"),
            "doc_id",
        )
        .orderBy(F.desc("dl"), F.asc("doc_id"))
        .limit(15)
        .select("doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]
