"""S6 catalog operations: listIndeces / deleteIndex / refresh / exists
(reference: ElasticIndexingStorage.java:1603-1618 listIndeces,
:197-205 deleteIndex, refreshIndex usage across
ElasticIndexingStorageTest.java)."""

import os

import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.operators.indexer import IndexBuilder, add_documents
from kbasesearchengine_spark.operators.topk import InvertedIndex, topk
from kbasesearchengine_spark.sources.catalog import (
    delete_index,
    index_ddl,
    index_exists,
    list_indexes,
    refresh_index,
)

CORPUS = [
    ("r1", "a.py", "c1", "py", "alpha beta gamma"),
    ("r1", "b.py", "c1", "py", "beta gamma delta"),
    ("r2", "a.py", "c1", "py", "epsilon zeta"),
]
SCHEMA = "repo string, path string, commit string, lang string, content string"


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    base_dir = str(tmp_path_factory.mktemp("catalog"))
    for name in ("idx_one", "idx_two"):
        IndexBuilder(
            spark, os.path.join(base_dir, name), num_segments=2,
            segments_per_commit=2,
        ).build(
            spark.createDataFrame(CORPUS, SCHEMA),
            key_cols=["repo", "path", "commit"],
        )
    # a non-index dir must not be listed
    os.makedirs(os.path.join(base_dir, "not_an_index"))
    return base_dir


def test_list_indexes(base):
    listed = list_indexes(base)
    assert [x["name"] for x in listed] == ["idx_one", "idx_two"]
    for x in listed:
        assert x["n_docs"] == 3
        assert x["avgdl"] > 0


def test_index_exists(base):
    assert index_exists(os.path.join(base, "idx_one"))
    assert not index_exists(os.path.join(base, "not_an_index"))
    assert not index_exists(os.path.join(base, "nope"))


def test_delete_index_is_destructive_and_idempotent(spark, base):
    assert delete_index(base, "idx_two")
    assert not os.path.isdir(os.path.join(base, "idx_two"))
    assert [x["name"] for x in list_indexes(base)] == ["idx_one"]
    assert not delete_index(base, "idx_two")  # second delete: no-op False
    # the surviving index still answers queries
    idx = InvertedIndex(spark, os.path.join(base, "idx_one"))
    assert topk(idx, "beta", 10, "and", hydrate=False).count() == 2


def test_refresh_makes_new_segments_visible(spark, base):
    """refreshIndex analog: after an incremental add commits new segment
    partitions, a refresh()ed handle (new file listing + re-read stats)
    sees the new docs; the stale handle's cached stats do not."""
    d = os.path.join(base, "idx_one")
    idx = InvertedIndex(spark, d)
    n_before = idx.stats["n_docs"]
    add_documents(
        spark,
        d,
        spark.createDataFrame(
            [("r9", "z.py", "c2", "py", "beta omicron")], SCHEMA
        ),
        key_cols=["repo", "path", "commit"],
    )
    refresh_index(spark, d)
    idx.refresh()
    assert idx.stats["n_docs"] == n_before + 1
    got = topk(idx, "beta", 10, "and", hydrate=False).count()
    assert got == 3  # the newly added beta doc is visible


def test_ddl_matches_v4_layout():
    stmts = index_ddl("warehouse", "code")
    assert len(stmts) == 3
    assert "term_hash BIGINT" in stmts[1]
    assert "PARTITIONED BY (segment)" in stmts[1]
    assert "PARTITIONED BY (batch)" in stmts[2]
    assert all("CREATE TABLE IF NOT EXISTS" in s for s in stmts)
    # the postings DDL must carry EVERY writer column (derived from the
    # store's POSTING_SCHEMA so it can't drift): v4's lazy WAND decode
    # needs the per-block byte offsets
    from kbasesearchengine_spark.operators.store import POSTING_SCHEMA

    for f in POSTING_SCHEMA.fields:
        col_def = f"{f.name} {f.dataType.simpleString().upper()}"
        assert col_def in stmts[1], col_def
    for off in ("block_doc_off", "block_tf_off", "block_dl_off"):
        assert f"{off} ARRAY<BIGINT>" in stmts[1]


def test_reader_rejects_old_format_version(spark, tmp_path):
    """Opening a pre-v4 index must fail FAST with a clear rebuild message,
    not a KeyError deep inside query execution."""
    import json

    from kbasesearchengine_spark.operators.topk import InvertedIndex

    old = tmp_path / "oldidx"
    old.mkdir()
    (old / "stats.json").write_text(json.dumps({
        "n_docs": 10, "avgdl": 5.0, "format_version": 3,
    }))
    with pytest.raises(ValueError, match="format_version.*Rebuild"):
        InvertedIndex(spark, str(old))
    # missing version field (v1/v2 indexes) also refused
    (old / "stats.json").write_text(json.dumps({"n_docs": 10, "avgdl": 5.0}))
    with pytest.raises(ValueError, match="format_version"):
        InvertedIndex(spark, str(old))
