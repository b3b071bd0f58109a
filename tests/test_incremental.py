"""Incremental add (M6) + merge-after-add: queries see the union with
updated global stats, verified against the oracle over the full corpus.
Also pins the O(new) property (base partitions untouched by an add) and
the batch_id idempotence token."""

import os

import numpy as np
import pytest

from kbasesearchengine_spark.corpus import generate_corpus, generate_corpus_pandas
from kbasesearchengine_spark.operators.indexer import IndexBuilder, add_documents
from kbasesearchengine_spark.operators.topk import InvertedIndex, topk
from kbasesearchengine_spark.oracle import build_oracle_index, oracle_topk
from conftest import persisted_ids
from test_term_dfs_lookup import assert_terms_hash_sorted

pytestmark = pytest.mark.usefixtures("no_persisted_leak")


def _partition_snapshot(root: str) -> dict:
    """{segment dir -> sorted (file, mtime_ns)} for change detection."""
    out = {}
    for d in os.listdir(root):
        if not d.startswith("segment="):
            continue
        p = os.path.join(root, d)
        out[d] = sorted(
            (f, os.stat(os.path.join(p, f)).st_mtime_ns)
            for f in os.listdir(p)
            if not f.startswith((".", "_"))
        )
    return out

BASE, EXTRA = 400, 150


def test_incremental_add_matches_full_oracle(spark, tmp_path):
    idx_dir = str(tmp_path / "incidx")
    full_pdf = generate_corpus_pandas(BASE + EXTRA)

    base = generate_corpus(spark, BASE, parallelism=4)
    IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=4).build(
        base, key_cols=["repo", "path", "commit"]
    )

    # the incremental batch = rows BASE..BASE+EXTRA of the same generator
    extra_pdf = generate_corpus_pandas(BASE + EXTRA).iloc[BASE:]
    extra = spark.createDataFrame(extra_pdf)
    info = add_documents(spark, idx_dir, extra, key_cols=["repo", "path", "commit"])
    assert info["added"] == EXTRA
    assert info["n_docs"] == BASE + EXTRA

    index = InvertedIndex(spark, idx_dir)

    # oracle over the UNION corpus in engine doc order: base sorted block,
    # then extra sorted block at the new segment boundary
    base_sorted = full_pdf.iloc[:BASE].sort_values(["repo", "path", "commit"])
    extra_sorted = extra_pdf.sort_values(["repo", "path", "commit"])
    docs_rows = index.docs.select("doc_id", "repo", "path", "commit").collect()
    id_by_key = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in docs_rows}
    oracle_docs = [
        (id_by_key[(r.repo, r.path, r.commit)], r.content)
        for _, r in base_sorted.iterrows()
    ] + [
        (id_by_key[(r.repo, r.path, r.commit)], r.content)
        for _, r in extra_sorted.iterrows()
    ]
    oidx = build_oracle_index(oracle_docs)

    for query, mode in [("license import", "and"), ("rfah", "and"),
                        ("parser http cache", "or")]:
        got = topk(index, query, k=10, mode=mode, hydrate=False).collect()
        exp = oracle_topk(oidx, query, k=10, mode=mode)
        assert [r["doc_id"] for r in got] == [d for d, _ in exp], (query, mode)
        np.testing.assert_allclose(
            [r["score"] for r in got], [s for _, s in exp], atol=1e-9
        )


def test_add_is_o_new_and_idempotent(spark, tmp_path):
    """An incremental add must not rewrite existing docs/postings/terms
    files (O(new) commits), and retrying the same logical add with a
    batch_id token must be a no-op."""
    idx_dir = str(tmp_path / "onew")
    base = generate_corpus(spark, 300, parallelism=4)
    IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=4).build(
        base, key_cols=["repo", "path", "commit"]
    )
    before_p = _partition_snapshot(os.path.join(idx_dir, "postings"))
    before_d = _partition_snapshot(os.path.join(idx_dir, "docs"))

    extra_pdf = generate_corpus_pandas(400).iloc[300:]
    extra = spark.createDataFrame(extra_pdf)
    info = add_documents(
        spark, idx_dir, extra, key_cols=["repo", "path", "commit"],
        batch_id="batch-A",
    )
    assert info["added"] == 100

    after_p = _partition_snapshot(os.path.join(idx_dir, "postings"))
    after_d = _partition_snapshot(os.path.join(idx_dir, "docs"))
    # every pre-existing partition byte-identical (same files, same mtimes)
    for seg, files in before_p.items():
        assert after_p[seg] == files, f"base postings partition {seg} rewritten"
    for seg, files in before_d.items():
        assert after_d[seg] == files, f"base docs partition {seg} rewritten"
    assert len(after_p) > len(before_p)  # new segments appended
    # terms: per-batch partitions, base batch untouched
    tdirs = sorted(
        d for d in os.listdir(os.path.join(idx_dir, "terms"))
        if d.startswith("batch=")
    )
    assert len(tdirs) == 2 and tdirs[0] == "batch=0"
    assert_terms_hash_sorted(idx_dir)  # both batches, one writer

    # exactly-once: same batch_id retries without duplicating anything
    stats_before = InvertedIndex(spark, idx_dir).stats
    info2 = add_documents(
        spark, idx_dir, extra, key_cols=["repo", "path", "commit"],
        batch_id="batch-A",
    )
    assert info2["added"] == 100  # reported from the committed marker
    idx = InvertedIndex(spark, idx_dir)
    assert idx.stats["n_docs"] == stats_before["n_docs"] == 400
    assert idx.docs.count() == 400
    assert _partition_snapshot(os.path.join(idx_dir, "postings")) == after_p


def test_add_to_empty_index(spark, tmp_path):
    """max(doc_id) on an empty docs table must not crash the add."""
    idx_dir = str(tmp_path / "emptyadd")
    empty = generate_corpus(spark, 50, parallelism=2).limit(0)
    IndexBuilder(spark, idx_dir, num_segments=2, segments_per_commit=2).build(
        empty, key_cols=["repo", "path", "commit"]
    )
    extra = generate_corpus(spark, 50, parallelism=2)
    info = add_documents(spark, idx_dir, extra, key_cols=["repo", "path", "commit"])
    assert info["added"] == 50
    assert InvertedIndex(spark, idx_dir).stats["n_docs"] == 50


def test_add_releases_its_caches(spark, tmp_path, monkeypatch):
    """Each add persists its one docs-phase frame only for its own
    duration, on every exit: adds that commit, an add whose posting
    write raises and an add of 0 rows leave no persisted RDD that was
    not there before, and rerunning the failed add completes it."""
    from kbasesearchengine_spark.operators import indexer

    idx_dir = str(tmp_path / "cache")
    pdf = generate_corpus_pandas(160)
    IndexBuilder(spark, idx_dir, num_segments=2, segments_per_commit=2).build(
        spark.createDataFrame(pdf.iloc[:100]), key_cols=["repo", "path", "commit"]
    )

    def add(rows):
        return add_documents(
            spark, idx_dir, rows, key_cols=["repo", "path", "commit"]
        )

    before = persisted_ids(spark)
    for lo in (100, 120):
        assert add(spark.createDataFrame(pdf.iloc[lo:lo + 20]))["added"] == 20
    assert persisted_ids(spark) <= before

    def failing_write(*args):
        raise OSError("posting write failed")

    monkeypatch.setattr(indexer, "build_postings_from_docs", failing_write)
    last = spark.createDataFrame(pdf.iloc[140:])
    with pytest.raises(OSError, match="posting write failed"):
        add(last)
    assert persisted_ids(spark) <= before
    monkeypatch.undo()
    assert add(last)["added"] == 20
    assert add(last.limit(0))["added"] == 0
    assert persisted_ids(spark) <= before
    assert InvertedIndex(spark, idx_dir).stats["n_docs"] == 160


def test_session_write_mode_is_left_as_set(spark, tmp_path):
    """The build and the add give each partitioned write its own overwrite
    mode: a session set to static still reads static after both, and the
    add leaves every existing docs, postings and terms file as it was."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        idx_dir = str(tmp_path / "static")
        pdf = generate_corpus_pandas(250)
        IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=2).build(
            spark.createDataFrame(pdf.iloc[:200]), key_cols=["repo", "path", "commit"]
        )
        assert spark.conf.get(key) == "static"
        tables = ("docs", "postings")
        before = {t: _partition_snapshot(os.path.join(idx_dir, t)) for t in tables}
        terms0 = os.path.join(idx_dir, "terms", "batch=0")
        terms_before = sorted((f, os.stat(os.path.join(terms0, f)).st_mtime_ns)
                              for f in os.listdir(terms0))
        info = add_documents(spark, idx_dir, spark.createDataFrame(pdf.iloc[200:]),
                             key_cols=["repo", "path", "commit"])
        assert spark.conf.get(key) == "static"
        assert info["n_docs"] == 250
        for t in tables:
            after = _partition_snapshot(os.path.join(idx_dir, t))
            assert {s: after[s] for s in before[t]} == before[t], t
            assert len(after) > len(before[t]), t
        assert sorted((f, os.stat(os.path.join(terms0, f)).st_mtime_ns)
                      for f in os.listdir(terms0)) == terms_before
        assert InvertedIndex(spark, idx_dir).docs.count() == 250
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
