"""Resume/lineage semantics (FIXTURES.md §6; north rule: a killed build
resumes from per-partition lineage markers without recomputation)."""

import json
import os

import pytest

from kbasesearchengine_spark.corpus import generate_corpus
from kbasesearchengine_spark.operators import store
from kbasesearchengine_spark.operators.indexer import (
    IndexBuilder,
    add_documents,
    require_exactly_once_metrics,
)
from kbasesearchengine_spark.operators.mutate import update_docs_fields
from kbasesearchengine_spark.operators.topk import InvertedIndex

N_ROWS = 400


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


def test_kill_resume_no_recompute(spark, tmp_path):
    corpus = generate_corpus(spark, N_ROWS, parallelism=4)

    # clean uninterrupted build for comparison
    clean_dir = str(tmp_path / "clean")
    IndexBuilder(spark, clean_dir, num_segments=8, segments_per_commit=2).build(
        corpus, key_cols=["repo", "path", "commit"]
    )

    # killed build: 2 of 4 groups committed, then crash
    idx_dir = str(tmp_path / "killed")
    b = IndexBuilder(spark, idx_dir, num_segments=8, segments_per_commit=2)
    with pytest.raises(RuntimeError, match="fault injection"):
        b.build(corpus, key_cols=["repo", "path", "commit"], max_groups=2)

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
    b2.build(corpus, key_cols=["repo", "path", "commit"], resume=True)
    for f in done:
        assert os.path.getmtime(os.path.join(idx_dir, "_lineage", f)) == mtimes[f]
        after = json.load(open(os.path.join(idx_dir, "_lineage", f)))
        assert after == before[f]

    # final index identical to the uninterrupted build
    assert _postings_fingerprint(spark, idx_dir) == _postings_fingerprint(
        spark, clean_dir
    )


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
