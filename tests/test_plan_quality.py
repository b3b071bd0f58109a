"""Physical-plan audits: the 100-TB checklist, asserted from explain().

Catalyst must be doing the work we rely on at scale: filter pushdown to
parquet, column pruning, broadcast joins for dims, partition pruning on
the segment directory layout.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.corpus import generate_corpus
from kbasesearchengine_spark.operators.indexer import IndexBuilder
from kbasesearchengine_spark.operators.topk import InvertedIndex


@pytest.fixture(scope="module")
def index(spark, shared_index_dir):
    return InvertedIndex(spark, shared_index_dir)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _full_plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_term_filter_pushed_to_postings_scan(index):
    from kbasesearchengine_spark.functions.hashing import term_hash

    df = index.postings.where(
        F.col("term_hash").isin(term_hash("license"), term_hash("parser"))
    )
    plan = _full_plan(df)
    assert "PushedFilters" in plan
    assert (
        "In(term_hash" in plan
        or "term_hash" in plan.split("PushedFilters")[1][:200]
    )


def test_postings_scan_prunes_columns(index):
    from kbasesearchengine_spark.functions.hashing import term_hash

    df = index.postings.where(
        F.col("term_hash") == term_hash("license")
    ).select("segment", "df")
    plan = _full_plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_ids" not in read_schema  # heavy blob column NOT read
    assert "tfs" not in read_schema


def test_segment_partition_pruning(index):
    df = index.postings.where(F.col("segment") == 2)
    plan = _full_plan(df)
    # segment is a hive-style partition column -> partition filters, and the
    # blob columns are still listed in schema but only matching dirs scanned
    assert "PartitionFilters" in plan
    seg_part = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "segment" in seg_part


def test_docs_metadata_filter_pushed(index):
    df = index.docs.where(F.col("lang") == "python").select("doc_id")
    plan = _full_plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "lang" in pushed


def test_small_dim_join_broadcasts(spark, index):
    dim = spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
    j = index.docs.join(F.broadcast(dim), "doc_id")
    assert "BroadcastHashJoin" in _plan(j)


def test_topk_final_sort_is_bounded(index, monkeypatch):
    """Global top-k must be TakeOrdered (k-row heap merge), not a full sort
    (the fan-out plan: the local-tier bound is pinned to 0)."""
    from kbasesearchengine_spark.operators import topk as topk_mod
    from kbasesearchengine_spark.operators.topk import topk

    monkeypatch.setattr(topk_mod, "LOCAL_POSTINGS_MAX", 0)
    df = topk(index, "license import", k=10, mode="and", hydrate=False)
    assert "TakeOrderedAndProject" in _plan(df)


def test_ann_bucketed_partition_pruning(spark, tmp_path):
    """The write_bucketed ANN layout must turn bucket probing into
    PARTITION pruning (directory-level), not a data filter — the whole
    point of the layout at 100 TB."""
    import numpy as np

    from kbasesearchengine_spark.operators import ann

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((300, 16)).astype("float32")
    pdf = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(pdf, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "emb_bucketed")
    ann.write_bucketed(emb, path, dim=16)

    q = [float(x) for x in vecs[0]]
    out = ann.cosine_topk_lsh_indexed(spark, path, q, k=5)
    plan = out._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan
    part = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "bucket" in part

    # and the probe answers match the scan-time LSH variant exactly
    got = [(r["vec_id"], round(r["cosine"], 9)) for r in out.collect()]
    exp = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in ann.cosine_topk_lsh(emb, q, k=5).collect()
    ]
    assert got == exp
    assert got[0][0] == 0  # the query vector itself is its own top-1


def test_filtered_topk_broadcasts_candidates_not_docs(index, monkeypatch):
    """Conjunctive filtered BM25 must ship the (df-bounded) CANDIDATE set
    to the predicate-pruned docs scan — NOT the full filtered doc list
    into a per-segment cogroup (at 10^12 docs a lang='en'-style predicate
    passes ~10^11 rows; candidates are bounded by the rarest term's df).
    And it must rank among the filtered docs only: the top-10 equals the
    oracle's ranking over all docs restricted to the filter. (The fan-out
    plan: the local-tier bound is pinned to 0.)"""
    from kbasesearchengine_spark.corpus import generate_corpus_pandas
    from kbasesearchengine_spark.operators import topk as topk_mod
    from kbasesearchengine_spark.operators.topk import topk
    from kbasesearchengine_spark.oracle import build_oracle_index, oracle_topk

    from conftest import SHARED_ROWS

    monkeypatch.setattr(topk_mod, "LOCAL_POSTINGS_MAX", 0)

    df = topk(index, "license import", k=10, mode="and",
              doc_filter=F.col("lang") == "python", hydrate=False)
    plan = _plan(df)
    full = _full_plan(df)
    # the candidate set is the broadcast side of a hash join
    assert "BroadcastHashJoin" in plan
    # no cogroup anywhere in the plan
    assert "FlatMapCoGroupsInPandas" not in plan
    # the doc predicate reaches the parquet scan
    pushed = full.split("PushedFilters:")
    assert any("lang" in p.splitlines()[0] for p in pushed[1:])

    pdf = generate_corpus_pandas(SHARED_ROWS)
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    oidx = build_oracle_index(list(zip(range(len(pdf)), pdf["content"])))
    python_ids = set(pdf.index[pdf["lang"] == "python"])
    exp = [(d, s) for d, s in
           oracle_topk(oidx, "license import", k=SHARED_ROWS, mode="and")
           if d in python_ids][:10]
    got = df.collect()
    assert len(exp) == 10
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]
    np.testing.assert_allclose(
        [r["score"] for r in got], [s for _, s in exp], atol=1e-9
    )
