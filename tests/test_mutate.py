"""Update-by-query mutations (M2-M7): partition-scoped in-place field
updates; untouched partitions stay byte-identical; queries see the new
metadata immediately."""

import os
import shutil
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.corpus import generate_corpus, generate_corpus_pandas
from kbasesearchengine_spark.operators.indexer import IndexBuilder
from kbasesearchengine_spark.operators.mutate import (
    publish_objects,
    set_access_group,
    unpublish_objects,
    update_docs_fields,
)
from kbasesearchengine_spark.operators import topk as topk_mod
from kbasesearchengine_spark.operators.topk import InvertedIndex, topk
from kbasesearchengine_spark.oracle import build_oracle_index, oracle_topk

pytestmark = pytest.mark.usefixtures("no_persisted_leak")


def _mtimes(root):
    out = {}
    for d in os.listdir(root):
        if d.startswith("segment="):
            p = os.path.join(root, d)
            out[d] = sorted(
                (f, os.stat(os.path.join(p, f)).st_mtime_ns)
                for f in os.listdir(p) if not f.startswith((".", "_"))
            )
    return out


def test_update_by_query_partition_scoped(spark, tmp_path):
    idx_dir = str(tmp_path / "mutidx")
    corpus = generate_corpus(spark, 400, parallelism=4)
    IndexBuilder(spark, idx_dir, num_segments=8, segments_per_commit=8).build(
        corpus, key_cols=["repo", "path", "commit"]
    )
    index = InvertedIndex(spark, idx_dir)
    # pick a predicate confined to a few segments
    target = index.docs.where(F.col("doc_id") < 60)
    n_target = target.count()
    segs_target = sorted(
        int(r["segment"]) for r in target.select("segment").distinct().collect()
    )

    before = _mtimes(os.path.join(idx_dir, "docs"))
    # a staged partition left behind by a killed mutation must not be
    # swapped into docs/ by the next one
    shutil.copytree(os.path.join(idx_dir, "docs", "segment=7"),
                    os.path.join(idx_dir, "_staging", "docs", "segment=99"))
    out = update_docs_fields(
        spark, idx_dir, F.col("doc_id") < 60, {"reviewed": True, "stars": 5}
    )
    assert out["updated_rows"] == n_target
    assert out["updated_segments"] == segs_target
    assert "segment=99" not in os.listdir(os.path.join(idx_dir, "docs"))
    assert not os.path.exists(os.path.join(idx_dir, "_staging"))

    after = _mtimes(os.path.join(idx_dir, "docs"))
    for seg, files in before.items():
        s = int(seg.split("=")[1])
        if s in segs_target:
            assert after[seg] != files, f"{seg} should have been rewritten"
        else:
            assert after[seg] == files, f"{seg} rewritten unnecessarily"

    index.refresh()
    assert index.docs.where(F.col("reviewed")).count() == n_target
    assert index.docs.where(F.col("stars") == 5).count() == n_target
    # rows outside the match keep nulls for the new columns
    assert index.docs.where(F.col("reviewed").isNull()).count() == 400 - n_target
    # postings untouched: a ranked query still runs and hydrates
    got = topk(index, "parser http", k=5, mode="and").collect()
    assert len(got) > 0 and "reviewed" in got[0].asDict()


def test_publish_and_share_flags(spark, tmp_path):
    idx_dir = str(tmp_path / "pubidx")
    corpus = generate_corpus(spark, 200, parallelism=4)
    IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=4).build(
        corpus, key_cols=["repo", "path", "commit"]
    )
    publish_objects(spark, idx_dir, F.col("lang") == "python")
    set_access_group(spark, idx_dir, F.col("lang") == "go", group=7)

    index = InvertedIndex(spark, idx_dir)
    n_py = index.docs.where(F.col("lang") == "python").count()
    assert index.docs.where(F.col("is_public")).count() == n_py
    go = index.docs.where(F.col("lang") == "go")
    assert go.where((F.col("access_group") == 7) & F.col("shared")).count() == go.count()
    # filtered search honors the new metadata (the A-block collapse)
    got = topk(index, "license import", k=10, mode="or",
               doc_filter=F.col("is_public"), hydrate=False).collect()
    pub_ids = {r["doc_id"] for r in index.docs.where(F.col("is_public")).select("doc_id").collect()}
    assert all(r["doc_id"] in pub_ids for r in got)


def test_unpublish_hides_from_with_public(spark, tmp_path, monkeypatch):
    """M5 unpublish (:802-835): after publishing the python and go docs
    and unpublishing the go docs, a with_public search sees exactly the
    python docs — its relevance page and its count equal the oracle's on
    both query tiers."""
    from kbasesearchengine_spark.plans.search import (
        AccessFilter,
        MatchFilter,
        Pagination,
        SortingRule,
        count_objects,
        search_objects,
    )

    keys = ["repo", "path", "commit"]
    idx_dir = str(tmp_path / "unpubidx")
    IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=4).build(
        generate_corpus(spark, 200, parallelism=4), key_cols=keys
    )
    publish_objects(spark, idx_dir, F.col("lang").isin("python", "go"))
    unpublish_objects(spark, idx_dir, F.col("lang") == "go")

    pdf = generate_corpus_pandas(200).sort_values(keys).reset_index(drop=True)
    query = "license import"
    want = [(d, s) for d, s in oracle_topk(
        build_oracle_index(list(enumerate(pdf["content"]))), query, k=200,
        mode="or") if pdf["lang"][d] == "python"]
    assert want
    index = InvertedIndex(spark, idx_dir)
    match = MatchFilter(full_text=query, full_text_mode="or")
    public = AccessFilter(with_public=True)
    for bound in (0, sys.maxsize):
        monkeypatch.setattr(topk_mod, "LOCAL_POSTINGS_MAX", bound)
        rows = search_objects(
            index, match, sorting=[SortingRule("relevance")],
            pagination=Pagination(0, 200), access=public,
        ).collect()
        assert [r["doc_id"] for r in rows] == [d for d, _ in want], bound
        np.testing.assert_allclose([r["score"] for r in rows],
                                   [s for _, s in want], atol=1e-9)
        assert count_objects(index, match, public) == len(want)


def test_multigroup_share_unshare(spark, tmp_path):
    """M2/M3 multi-group arrays (ElasticIndexingStorage.java:666-763;
    testSharing :726-773): one doc shared into SEVERAL groups stays
    visible to each; unsharing one group keeps the others."""
    from kbasesearchengine_spark.operators.mutate import (
        share_with_group,
        unshare_group,
    )
    from kbasesearchengine_spark.plans.search import (
        AccessFilter,
        MatchFilter,
        Pagination,
        search_objects,
    )

    idx_dir = str(tmp_path / "mgidx")
    corpus = generate_corpus(spark, 200, parallelism=4)
    IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=4).build(
        corpus, key_cols=["repo", "path", "commit"]
    )
    share_with_group(spark, idx_dir, F.col("lang") == "go", group=7)
    share_with_group(spark, idx_dir, F.col("lang") == "go", group=9)
    share_with_group(spark, idx_dir, F.col("lang") == "python", group=9)
    share_with_group(spark, idx_dir, F.col("lang") == "java", group=5)
    unshare_group(spark, idx_dir, F.col("lang") == "java", group=5)

    index = InvertedIndex(spark, idx_dir)
    n_go = index.docs.where(F.col("lang") == "go").count()
    n_py = index.docs.where(F.col("lang") == "python").count()

    def visible(groups):
        return search_objects(
            index, MatchFilter(),
            access=AccessFilter(user_groups=groups),
            pagination=Pagination(0, 10_000),
        ).count()

    assert visible([7]) == n_go            # go docs carry BOTH 7 and 9
    assert visible([9]) == n_go + n_py
    assert visible([5]) == 0               # unshared: 5 grants revoked
    assert visible([7, 5]) == n_go         # union over caller's groups
    # share is idempotent (array_union)
    share_with_group(spark, idx_dir, F.col("lang") == "go", group=7)
    index.refresh()
    assert visible([7]) == n_go


def test_update_marker_name_is_process_stable(spark, tmp_path):
    """The update-by-query lineage marker name must be identical across
    processes for the SAME logical mutation (idempotence protocol — md5
    of predicate + assignments, NOT Python's per-process-salted hash())
    yet UNIQUE across DIFFERENT mutations (ADVICE r4: consecutive share
    calls for different groups must each leave their own lineage record,
    not overwrite one marker)."""
    idx_dir = str(tmp_path / "markidx")
    corpus = generate_corpus(spark, 100, parallelism=2)
    IndexBuilder(spark, idx_dir, num_segments=2, segments_per_commit=2).build(
        corpus, key_cols=["repo", "path", "commit"]
    )

    def markers():
        return sorted(
            f for f in os.listdir(os.path.join(idx_dir, "_lineage"))
            if f.startswith("update-")
        )

    update_docs_fields(spark, idx_dir, F.col("doc_id") < 10, {"flag": True})
    assert len(markers()) == 1
    # a RETRY of the same logical mutation (fresh Column objects — the
    # same expression tree str()s identically, with no per-process state
    # such as object addresses in it) reuses the same marker name
    update_docs_fields(spark, idx_dir, F.col("doc_id") < 10, {"flag": True})
    assert len(markers()) == 1
    assert "0x" not in str(F.col("doc_id") < 10)  # no address leakage
    # a DIFFERENT mutation over the same segments+fields gets its own
    # marker (value is part of the name, not just the field set)
    update_docs_fields(spark, idx_dir, F.col("doc_id") < 10, {"flag": False})
    assert len(markers()) == 2
    # ... and so does the same assignment under a different predicate
    update_docs_fields(spark, idx_dir, F.col("doc_id") < 5, {"flag": True})
    assert len(markers()) == 3
