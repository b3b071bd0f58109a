"""Resume/lineage semantics (FIXTURES.md §6; north rule: a killed build
resumes from per-partition lineage markers without recomputation)."""

import glob
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.api.rpc import RpcService
from kbasesearchengine_spark.corpus import generate_corpus, generate_corpus_pandas
from kbasesearchengine_spark.operators import indexer, store, topk as topk_mod
from kbasesearchengine_spark.operators.indexer import (
    IndexBuilder,
    add_documents,
    require_exactly_once_metrics,
)
from kbasesearchengine_spark.operators.mutate import update_docs_fields
from kbasesearchengine_spark.operators.topk import InvertedIndex, topk
from kbasesearchengine_spark.oracle import build_oracle_index, oracle_topk

from conftest import persisted_ids

pytestmark = pytest.mark.usefixtures("no_persisted_leak")

N_ROWS = 400
KEYS = ["repo", "path", "commit"]


def _corpus(spark, ids, n):
    """A corpus of n rows for one id kind, its build arguments and the
    oracle's (doc_id, text) pairs: doc ids are the rank over the sorted
    keys, or a given doc_id column that permutes them."""
    pdf = generate_corpus_pandas(n)
    if ids == "keyed":
        ranked = pdf.sort_values(KEYS)["content"]
        return (generate_corpus(spark, n, parallelism=4), {"key_cols": KEYS},
                list(enumerate(ranked)))
    pdf["doc_id"] = (np.arange(n) * 7) % n
    return (spark.createDataFrame(pdf),
            {"key_cols": ["doc_id"], "doc_id_col": "doc_id"},
            list(zip(pdf["doc_id"].tolist(), pdf["content"])))


def _postings_fingerprint(spark, idx_dir):
    """Canonical LOGICAL postings: split rows merged per (segment, term).

    Physical split points may differ between the in-memory build path and
    the parquet-re-read resume path; the decoded postings must not."""
    from kbasesearchengine_spark.functions.codec import (
        delta_decode,
        varint_decode,
    )

    idx = InvertedIndex(spark, idx_dir)
    rows = idx.postings.select(
        "segment", "term_hash", "df", "doc_ids", "tfs", "dls"
    ).collect()
    merged = {}
    for r in rows:
        key = (r["segment"], r["term_hash"])
        merged.setdefault(key, []).append(
            (
                delta_decode(bytes(r["doc_ids"])).tolist(),
                varint_decode(bytes(r["tfs"])).tolist(),
                varint_decode(bytes(r["dls"])).tolist(),
            )
        )
    out = {}
    for key, parts in merged.items():
        parts.sort(key=lambda p: p[0][0] if p[0] else -1)
        out[key] = (
            sum((p[0] for p in parts), []),
            sum((p[1] for p in parts), []),
            sum((p[2] for p in parts), []),
        )
    return out


@pytest.mark.parametrize("ids", ["keyed", "doc_id_col"])
def test_kill_resume_no_recompute(spark, tmp_path, ids):
    corpus, kw, _ = _corpus(spark, ids, N_ROWS)

    # clean uninterrupted build for comparison
    clean_dir = str(tmp_path / "clean")
    IndexBuilder(spark, clean_dir, num_segments=8, segments_per_commit=2).build(
        corpus, **kw
    )

    # killed build: 2 of 4 groups committed, then crash; the docs phase
    # releases its cache on the way out
    idx_dir = str(tmp_path / "killed")
    persisted = persisted_ids(spark)
    b = IndexBuilder(spark, idx_dir, num_segments=8, segments_per_commit=2)
    with pytest.raises(RuntimeError, match="fault injection"):
        b.build(corpus, max_groups=2, **kw)
    assert persisted_ids(spark) <= persisted

    done = [
        f for f in os.listdir(os.path.join(idx_dir, "_lineage"))
        if f.startswith("group-")
    ]
    assert len(done) == 2
    # record marker payloads (metrics checkpoints) before resume
    before = {f: json.load(open(os.path.join(idx_dir, "_lineage", f))) for f in done}
    mtimes = {
        f: os.path.getmtime(os.path.join(idx_dir, "_lineage", f)) for f in done
    }

    # resume: must complete remaining groups, must not rewrite done markers
    b2 = IndexBuilder(spark, idx_dir, num_segments=8, segments_per_commit=2)
    b2.build(corpus, resume=True, **kw)
    assert persisted_ids(spark) <= persisted
    for f in done:
        assert os.path.getmtime(os.path.join(idx_dir, "_lineage", f)) == mtimes[f]
        after = json.load(open(os.path.join(idx_dir, "_lineage", f)))
        assert after == before[f]

    # final index identical to the uninterrupted build, table by table
    assert _postings_fingerprint(spark, idx_dir) == _postings_fingerprint(
        spark, clean_dir
    )

    def docs(d):
        return [r.asDict() for r in InvertedIndex(spark, d).docs.orderBy(
            "doc_id").collect()]

    def terms(d):
        return dict(store.read_table(spark, d, "terms").groupBy(
            "term_hash").agg(F.sum("df")).collect())

    def stats(d):
        out = store.read_stats(d)
        out.pop("build_seconds", None)
        return out

    assert docs(idx_dir) == docs(clean_dir)
    assert terms(idx_dir) == terms(clean_dir)
    assert stats(idx_dir) == stats(clean_dir)


def test_failed_posting_group_releases_the_cache(spark, tmp_path, monkeypatch):
    """A build whose posting group raises releases its docs-phase cache."""

    def failing_write(*args):
        raise OSError("posting write failed")

    monkeypatch.setattr(indexer, "build_postings_from_docs", failing_write)
    persisted = persisted_ids(spark)
    b = IndexBuilder(spark, str(tmp_path / "f"), num_segments=4,
                     segments_per_commit=2)
    with pytest.raises(OSError, match="posting write failed"):
        b.build(generate_corpus(spark, 200, parallelism=4), key_cols=KEYS)
    assert persisted_ids(spark) <= persisted


@pytest.mark.parametrize("killed", [False, True])
@pytest.mark.parametrize("ids", ["keyed", "doc_id_col"])
def test_store_text_false(spark, tmp_path, monkeypatch, ids, killed):
    """store_text=False writes no text to docs/ with rank ids and with a
    doc_id_col, in full or killed and resumed (the resume re-derives the
    tokens from the corpus); both query tiers equal the oracle, and a
    highlight, which needs the text, fails with its cause."""
    corpus, kw, oracle_docs = _corpus(spark, ids, 200)
    idx_dir = str(tmp_path / "notext")
    b = IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=2)
    if killed:
        with pytest.raises(RuntimeError, match="fault injection"):
            b.build(corpus, store_text=False, max_groups=1, **kw)
    b.build(corpus, store_text=False, **kw)

    files = glob.glob(os.path.join(idx_dir, "docs", "segment=*", "*.parquet"))
    assert files
    for f in files:
        assert "content" not in pq.read_schema(f).names
    assert "content" not in store.docs_schema(store.read_stats(idx_dir)).names

    index = InvertedIndex(spark, idx_dir)
    oidx = build_oracle_index(oracle_docs)
    for bound in (0, sys.maxsize):
        monkeypatch.setattr(topk_mod, "LOCAL_POSTINGS_MAX", bound)
        for query, mode in [("license import", "and"), ("rfah", "and"),
                            ("parser http cache", "or")]:
            got = topk(index, query, k=10, mode=mode, hydrate=False).collect()
            exp = oracle_topk(oidx, query, k=10, mode=mode)
            assert [r["doc_id"] for r in got] == [d for d, _ in exp], (
                bound, query, mode)
            np.testing.assert_allclose(
                [r["score"] for r in got], [s for _, s in exp], atol=1e-9
            )
        with pytest.raises(ValueError, match="no text payload"):
            RpcService(index).search_objects({
                "match_filter": {"full_text_in_all": "license"},
                "post_processing": {"include_highlight": 1},
                "pagination": {"start": 0, "count": 5},
            })


def test_job_labels_do_not_outlive_the_call(spark, tmp_path):
    """The build labels its jobs for their own phase only: after a full
    build, a killed build and its resume, an add and a field build, the
    driver thread's job description is the caller's again (a label, or
    none)."""
    sc = spark.sparkContext
    key = "spark.job.description"
    pdf = generate_corpus_pandas(240)
    corpus = spark.createDataFrame(pdf.iloc[:200])
    try:
        sc.setLocalProperty(key, "caller label")
        full = str(tmp_path / "full")
        IndexBuilder(spark, full, num_segments=4, segments_per_commit=2).build(
            corpus, key_cols=KEYS)
        assert sc.getLocalProperty(key) == "caller label"
        b = IndexBuilder(spark, str(tmp_path / "killed"), num_segments=4,
                         segments_per_commit=2)
        with pytest.raises(RuntimeError, match="fault injection"):
            b.build(corpus, key_cols=KEYS, max_groups=1)
        assert sc.getLocalProperty(key) == "caller label"
        b.build(corpus, key_cols=KEYS)
        assert sc.getLocalProperty(key) == "caller label"
        sc.setLocalProperty(key, None)
        add_documents(spark, full, spark.createDataFrame(pdf.iloc[200:]), KEYS)
        assert sc.getLocalProperty(key) is None
        indexer.build_field_index(spark, full, "path")
        assert sc.getLocalProperty(key) is None
    finally:
        sc.setLocalProperty(key, None)


def test_lineage_metrics_recorded(spark, tmp_path):
    corpus = generate_corpus(spark, 200, parallelism=4)
    idx_dir = str(tmp_path / "m")
    b = IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=2)
    b.build(corpus, key_cols=["repo", "path", "commit"])
    lineage = os.path.join(idx_dir, "_lineage")
    groups = sorted(f for f in os.listdir(lineage) if f.startswith("group-"))
    assert groups
    for g in groups:
        m = json.load(open(os.path.join(lineage, g)))
        assert m["rows"] > 0 and m["bytes"] > 0 and m["seconds"] > 0
        assert m["postings"] > 0
    docs_m = json.load(open(os.path.join(lineage, "docs.json")))
    assert docs_m["rows"] == 200


class _StubSpark:
    """Just enough session for the gate: spark.speculation cannot be
    changed on a running session, so the conf is a dict."""

    def __init__(self, conf):
        self._conf = conf
        self.conf = self

    def get(self, key, default=None):
        return self._conf.get(key, default)


def test_speculation_gate(tmp_path):
    """observe() metrics (build markers, stats.json, mutation counts) are
    exactly-once only without speculative task duplicates: the build and
    update-by-query refuse to run with speculation on, before any I/O."""
    for on in ("true", "TRUE"):
        with pytest.raises(ValueError, match="spark.speculation"):
            require_exactly_once_metrics(_StubSpark({"spark.speculation": on}))
    require_exactly_once_metrics(_StubSpark({}))
    require_exactly_once_metrics(_StubSpark({"spark.speculation": "false"}))

    on = _StubSpark({"spark.speculation": "true"})
    with pytest.raises(ValueError, match="spark.speculation"):
        IndexBuilder(on, str(tmp_path / "idx")).build(None, ["doc_id"])
    with pytest.raises(ValueError, match="spark.speculation"):
        update_docs_fields(on, str(tmp_path / "idx"), None, {"x": 1})
    with pytest.raises(ValueError, match="spark.speculation"):
        add_documents(on, str(tmp_path / "idx"), None, ["doc_id"])
    assert not os.listdir(tmp_path)


def test_commit_stats_failure_keeps_previous(tmp_path, monkeypatch):
    """A stats commit that dies mid-write leaves the previous stats.json
    complete and loadable (write to a temp file, then rename)."""
    idx_dir = str(tmp_path)
    old = {"n_docs": 10, "avgdl": 5.0, "seg_size": 4}
    store.commit_stats(idx_dir, old)

    def torn_dump(obj, f, **kwargs):
        f.write('{"n_docs": ')
        raise OSError("disk full")

    monkeypatch.setattr(store.json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        store.commit_stats(idx_dir, {"n_docs": 20, "avgdl": 6.0, "seg_size": 4})
    monkeypatch.undo()
    assert store.read_stats(idx_dir) == old
