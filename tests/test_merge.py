"""Segment-merge stage: merged index must answer queries identically."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.corpus import generate_corpus
from kbasesearchengine_spark.operators.indexer import IndexBuilder
from kbasesearchengine_spark.operators.merge import merge_postings, plan_merges
from kbasesearchengine_spark.operators.topk import InvertedIndex
from kbasesearchengine_spark.functions.bm25 import idf as bm25_idf
from kbasesearchengine_spark.functions.hashing import term_hash
from kernel_reference import eager_segment_topk

pytestmark = pytest.mark.usefixtures("no_persisted_leak")


@pytest.fixture(scope="module")
def built(shared_index_dir):
    return shared_index_dir


def _kernel_topk(postings_pdf, idfs, avgdl, mode):
    outs = []
    for _, pdf in postings_pdf.groupby("segment"):
        outs.append(
            eager_segment_topk(pdf, idfs, avgdl, 10, mode)
        )
    import pandas as pd

    allr = pd.concat(outs, ignore_index=True)
    allr = allr.sort_values(["score", "doc_id"], ascending=[False, True])
    return list(allr.head(10)["doc_id"]), list(allr.head(10)["score"])


@pytest.mark.parametrize("query,mode", [
    ("parser http", "and"),
    ("license import", "or"),
    ("rfah", "and"),
])
def test_merged_index_answers_identically(spark, built, query, mode):
    index = InvertedIndex(spark, built)
    terms = sorted(set(query.split()))
    n, avgdl = index.stats["n_docs"], index.stats["avgdl"]
    dfs = index.term_dfs(terms)
    idfs = {term_hash(t): float(bm25_idf(dfs[t], n)) for t in terms if t in dfs}

    before = index.postings.where(F.col("term_hash").isin(list(idfs))).toPandas()
    # merge segments 0-3 -> 0 and 4-7 -> 4
    seg_map = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 4}
    merged = merge_postings(index.postings, seg_map)
    after = merged.where(F.col("term_hash").isin(list(idfs))).toPandas()

    assert set(after["segment"].unique()) <= {0, 4}
    d_b, s_b = _kernel_topk(before, idfs, avgdl, mode)
    d_a, s_a = _kernel_topk(after, idfs, avgdl, mode)
    assert d_a == d_b
    np.testing.assert_allclose(s_a, s_b, atol=1e-12)


def test_merged_df_consistent(spark, built):
    index = InvertedIndex(spark, built)
    seg_map = {s: 0 for s in range(8)}
    merged = merge_postings(index.postings, seg_map)
    df_before = index.postings.groupBy("term_hash").agg(F.sum("df").alias("df"))
    df_after = merged.groupBy("term_hash").agg(F.sum("df").alias("df"))
    a = {r["term_hash"]: r["df"] for r in df_before.collect()}
    b = {r["term_hash"]: r["df"] for r in df_after.collect()}
    assert a == b


def test_plan_merges_greedy():
    sizes = {0: 100, 1: 100, 2: 900, 3: 100, 4: 100, 5: 100}
    m = plan_merges(sizes, target_size=300)
    assert 2 not in m  # full-size segment untouched
    # all small segments assigned to bins; bin leader maps to itself
    assert set(m).issuperset({0, 1, 3, 4, 5})
    for src, dst in m.items():
        assert dst in m and m[dst] == dst


def test_apply_merge_keeps_doc_filter_consistent(spark, tmp_path):
    """apply_merge rewrites postings AND docs partitions together: a
    filtered query after the on-disk merge must return exactly
    what it returned before (the silent-vanish bug class: postings
    remapped without docs.segment)."""
    import shutil

    from kbasesearchengine_spark.operators.merge import apply_merge
    from kbasesearchengine_spark.operators.topk import topk

    idx_dir = str(tmp_path / "mergedisk")
    corpus = generate_corpus(spark, 400, parallelism=4)
    IndexBuilder(spark, idx_dir, num_segments=8, segments_per_commit=8).build(
        corpus, key_cols=["repo", "path", "commit"]
    )
    index = InvertedIndex(spark, idx_dir)
    flt = F.col("lang") == "python"
    before = topk(index, "parser http", k=10, mode="and",
                  doc_filter=flt, hydrate=False).collect()
    before_or = topk(index, "license import", k=10, mode="or",
                     doc_filter=flt, hydrate=False).collect()
    assert len(before) > 0  # the scenario must actually exercise the filter

    seg_map = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 4}
    out = apply_merge(spark, idx_dir, seg_map)
    assert out["merged"] == 6 and out["targets"] == [0, 4]

    index.refresh()
    segs_p = sorted(
        int(r["segment"]) for r in index.postings.select("segment").distinct().collect()
    )
    segs_d = sorted(
        int(r["segment"]) for r in index.docs.select("segment").distinct().collect()
    )
    assert segs_p == [0, 4] and segs_d == [0, 4]  # both moved together
    assert not {"_staging", "_merge_tmp"} & set(os.listdir(idx_dir))

    after = topk(index, "parser http", k=10, mode="and",
                 doc_filter=flt, hydrate=False).collect()
    after_or = topk(index, "license import", k=10, mode="or",
                    doc_filter=flt, hydrate=False).collect()
    assert [(r["doc_id"], r["score"]) for r in before] == [
        (r["doc_id"], r["score"]) for r in after
    ]
    assert [(r["doc_id"], r["score"]) for r in before_or] == [
        (r["doc_id"], r["score"]) for r in after_or
    ]
    shutil.rmtree(idx_dir, ignore_errors=True)
