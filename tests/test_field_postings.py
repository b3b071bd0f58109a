"""A field index is a posting set of the primary index: it shares the
primary's docs, segments and stats commit, every add and merge reaches
it, and field-scoped queries equal the brute-force oracle on both query
tiers."""

import os
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.corpus import generate_corpus_pandas
from kbasesearchengine_spark.operators import store
from kbasesearchengine_spark.operators import topk as T
from kbasesearchengine_spark.operators.indexer import (
    IndexBuilder,
    add_documents,
    build_field_index,
)
from kbasesearchengine_spark.operators.merge import apply_merge
from kbasesearchengine_spark.operators.mutate import share_with_group
from kbasesearchengine_spark.oracle import build_oracle_index, oracle_topk
from kbasesearchengine_spark.plans.search import (
    AccessFilter,
    MatchFilter,
    Pagination,
    SortingRule,
    count_objects,
    search_objects,
)

pytestmark = pytest.mark.usefixtures("no_persisted_leak")

KEYS = ["repo", "path", "commit"]
GROUP = 7
ACCESS = AccessFilter(user_groups=[GROUP])
TIERS = {"fanout": 0, "local": sys.maxsize}
# `rs`/`go` are file extensions (a fifth of the paths each); the other
# two terms occur in added paths only
OR_QUERY = "rs tree_b164f8 merge_359cc5"
AND_QUERY = "src go"


def _field_df_sum(spark, idx_dir, field):
    return store.read_table(
        spark, os.path.join(idx_dir, "fields", field), "postings"
    ).agg(F.sum("df")).first()[0]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """300 rows in 4 segments of 75, a field index over `path`, two adds
    of 30 rows (segments 4 and 5: the second starts on a fresh segment,
    so the ids have a gap), then every third doc shared with GROUP. The
    oracle maps each doc id to its row."""
    d = str(tmp_path_factory.mktemp("field_postings") / "idx")
    pdf = generate_corpus_pandas(360)
    IndexBuilder(spark, d, num_segments=4, segments_per_commit=2).build(
        spark.createDataFrame(pdf.iloc[:300]), key_cols=KEYS
    )
    build_field_index(spark, d, "path")
    firsts = [add_documents(spark, d, spark.createDataFrame(pdf.iloc[lo:lo + 30]),
                            KEYS)["first_segment"] for lo in (300, 330)]
    assert firsts == [4, 5]
    share_with_group(spark, d, F.col("doc_id") % 3 == 0, GROUP)
    parts = [pdf.iloc[:300], pdf.iloc[300:330], pdf.iloc[330:]]
    starts = [0, 300, 375]
    rows = pd.concat([
        p.sort_values(KEYS).assign(doc_id=range(s, s + len(p)))
        for p, s in zip(parts, starts)
    ])
    oracle = {
        "path": build_oracle_index(list(zip(rows["doc_id"], rows["path"]))),
        "lang": dict(zip(rows["doc_id"], rows["lang"])),
    }
    return d, oracle


def _want(oracle, query, mode, lang):
    return [(d, s) for d, s in oracle_topk(oracle["path"], query, k=1000,
                                           mode=mode)
            if d % 3 == 0 and oracle["lang"][d] == lang]


def _answers(index, query, mode, lang):
    match = MatchFilter(full_text=query, full_text_mode=mode, field="path",
                        term_eq={"lang": lang})
    ranked = search_objects(index, match, sorting=[SortingRule("relevance")],
                            pagination=Pagination(0, 10), access=ACCESS)
    ids = search_objects(index, match, pagination=Pagination(0, 1000),
                         access=ACCESS)
    return ([(r["doc_id"], r["score"]) for r in ranked.collect()],
            [r["doc_id"] for r in ids.collect()],
            count_objects(index, match, ACCESS))


def _check(spark, idx_dir, oracle, monkeypatch):
    index = T.InvertedIndex(spark, idx_dir)
    for query, mode, lang in [(OR_QUERY, "or", "rust"),
                              (AND_QUERY, "and", "go")]:
        want = _want(oracle, query, mode, lang)
        assert any(d >= 300 for d, _ in want), query  # added docs match
        got = {}
        for tier, bound in TIERS.items():
            monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", bound)
            got[tier] = _answers(index, query, mode, lang)
        assert got["local"] == got["fanout"], query
        ranked, ids, count = got["local"]
        assert [d for d, _ in ranked] == [d for d, _ in want[:10]], query
        np.testing.assert_allclose([s for _, s in ranked],
                                   [s for _, s in want[:10]], atol=1e-9)
        assert ids == sorted(d for d, _ in want), query
        assert count == len(want), query


def test_field_follows_adds_shares_and_merges(spark, built, monkeypatch):
    idx_dir, oracle = built
    _check(spark, idx_dir, oracle, monkeypatch)
    # the field holds postings and terms only; one stats.json covers it
    field_dir = os.path.join(idx_dir, "fields", "path")
    assert sorted(os.listdir(field_dir)) == ["postings", "terms"]
    stats = store.read_stats(idx_dir)
    assert stats["n_docs"] == 360 and list(stats["fields"]) == ["path"]

    apply_merge(spark, idx_dir, {4: 4, 5: 4})
    for table_dir in (idx_dir, field_dir):
        segs = os.listdir(os.path.join(table_dir, "postings"))
        assert "segment=4" in segs and "segment=5" not in segs
    _check(spark, idx_dir, oracle, monkeypatch)


def test_field_after_an_add_has_every_doc(spark, tmp_path):
    """A field over the one-token `lang` column, built after an add (the
    ids have a gap at the add's fresh segment: 300 rows in segments of
    38, so the add's ids are 304-353), has one posting per doc."""
    d = str(tmp_path / "idx")
    pdf = generate_corpus_pandas(350)
    IndexBuilder(spark, d, num_segments=8, segments_per_commit=4).build(
        spark.createDataFrame(pdf.iloc[:300]), key_cols=KEYS
    )
    add_documents(spark, d, spark.createDataFrame(pdf.iloc[300:]), KEYS)
    build_field_index(spark, d, "lang")
    stats = store.read_stats(d)
    assert (stats["n_docs"], stats["max_doc_id"]) == (350, 353)
    assert _field_df_sum(spark, d, "lang") == 350


def test_given_ids_with_a_gap_have_every_posting(spark, tmp_path):
    """A doc_id_col build whose ids jump past n builds the postings of
    every doc: the segments are counted from max_doc_id."""
    d = str(tmp_path / "idx")
    pdf = generate_corpus_pandas(200)
    pdf["doc_id"] = list(range(100)) + list(range(1000, 1100))
    IndexBuilder(spark, d, num_segments=4, segments_per_commit=8).build(
        spark.createDataFrame(pdf), key_cols=["doc_id"], text_col="lang",
        doc_id_col="doc_id",
    )
    assert store.read_table(spark, d, "postings").agg(
        F.sum("df")).first()[0] == 200
