"""The two query tiers of topk(): the driver-local tier (posting volume at
or below LOCAL_POSTINGS_MAX) and the Spark fan-out must give the same
answers, and both must equal the brute-force oracle. Every case runs with
the bound forced to 0 (fan-out) and to sys.maxsize (local)."""

import logging
import shutil
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.corpus import generate_corpus, generate_corpus_pandas
from kbasesearchengine_spark.operators import topk as T
from kbasesearchengine_spark.operators.indexer import (
    IndexBuilder,
    add_documents,
    build_field_index,
)
from kbasesearchengine_spark.operators.mutate import share_with_group
from kbasesearchengine_spark.oracle import build_oracle_index, oracle_topk
from kbasesearchengine_spark.plans.search import (
    AccessFilter,
    MatchFilter,
    Pagination,
    SortingRule,
    count_objects,
    search_objects,
    search_types,
)

from conftest import SHARED_ROWS

KEYS = ["repo", "path", "commit"]
GROUP = 7
MID_PAIR = "stream_946bac heap_1be0d7"  # AND: a few dozen docs
RARE_PAIR = "rfah quorum"  # OR: a handful of docs; AND: none
ABSENT = "rfah zz_absent_token"
TIERS = {"fanout": 0, "local": sys.maxsize}


def _python():
    return F.col("lang") == "python"


def _shared(doc_id: int) -> bool:
    return doc_id % 3 == 0


@pytest.fixture(scope="module")
def index_dir(spark, shared_index_dir, tmp_path_factory):
    """A copy of the shared index with every third doc shared with GROUP
    (every docs segment is rewritten, so every file carries
    access_groups) and a field index over `path`."""
    d = str(tmp_path_factory.mktemp("local_tier") / "idx")
    shutil.copytree(shared_index_dir, d)
    share_with_group(spark, d, F.col("doc_id") % 3 == 0, GROUP)
    build_field_index(spark, d, "path")
    return d


@pytest.fixture(scope="module")
def oracle():
    pdf = generate_corpus_pandas(SHARED_ROWS)
    pdf = pdf.sort_values(KEYS).reset_index(drop=True)
    ids = range(len(pdf))
    return {
        "content": build_oracle_index(list(zip(ids, pdf["content"]))),
        "path": build_oracle_index(list(zip(ids, pdf["path"]))),
        "lang": dict(zip(ids, pdf["lang"])),
    }


def _rank(oracle, query, mode, keep=lambda d: True, field="content"):
    """The oracle's full ranking, restricted to the docs `keep` passes."""
    return [(d, s) for d, s in
            oracle_topk(oracle[field], query, k=SHARED_ROWS, mode=mode)
            if keep(d)]


def _ranked(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _all_ranked(df):
    """Every match scored: k=None leaves the frame unordered."""
    return sorted(_ranked(df), key=lambda r: (-r[1], r[0]))


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def _page(ix, query, mode="and", relevance=True, count=10, lang=None,
          access=None, field=None):
    mf = MatchFilter(full_text=query, full_text_mode=mode, field=field,
                     term_eq={"lang": lang} if lang else {})
    rows = search_objects(
        ix, mf, sorting=[SortingRule("relevance")] if relevance else None,
        pagination=Pagination(0, count), access=access,
    ).collect()
    if relevance:
        return [(r["doc_id"], r["score"]) for r in rows]
    return [r["doc_id"] for r in rows]


def _types(ix, query, access=None):
    return {r["type"]: r["count"] for r in search_types(
        ix, MatchFilter(full_text=query), access=access).collect()}


def _counts(oracle, ranked):
    out: dict = {}
    for d, _ in ranked:
        out[oracle["lang"][d]] = out.get(oracle["lang"][d], 0) + 1
    return out


ACCESS = AccessFilter(user_groups=[GROUP])

# id -> (engine call, oracle answer, whether the local tier is reached)
CASES = {
    "topk_and_k_hydrated": (
        lambda ix: _ranked(T.topk(ix, MID_PAIR, 10, "and")),
        lambda o: _rank(o, MID_PAIR, "and")[:10], True),
    "topk_or_k": (
        lambda ix: _ranked(T.topk(ix, RARE_PAIR, 5, "or", hydrate=False)),
        lambda o: _rank(o, RARE_PAIR, "or")[:5], True),
    "topk_and_all_scored": (
        lambda ix: _all_ranked(T.topk(ix, MID_PAIR, None, "and",
                                         hydrate=False)),
        lambda o: _rank(o, MID_PAIR, "and"), True),
    "topk_or_all_scored": (
        lambda ix: _all_ranked(T.topk(ix, RARE_PAIR, None, "or",
                                         hydrate=False)),
        lambda o: _rank(o, RARE_PAIR, "or"), True),
    "topk_and_match_only": (
        lambda ix: _ids(T.topk(ix, MID_PAIR, None, "and", hydrate=False,
                               scores=False)),
        lambda o: sorted(d for d, _ in _rank(o, MID_PAIR, "and")), True),
    "topk_or_match_only": (
        lambda ix: _ids(T.topk(ix, RARE_PAIR, None, "or", hydrate=False,
                               scores=False)),
        lambda o: sorted(d for d, _ in _rank(o, RARE_PAIR, "or")), True),
    "topk_and_lang_filter": (
        lambda ix: _ranked(T.topk(ix, MID_PAIR, 5, "and", doc_filter=_python(),
                                  hydrate=False)),
        lambda o: _rank(o, MID_PAIR, "and",
                        lambda d: o["lang"][d] == "python")[:5], True),
    "topk_or_lang_filter_hydrated": (
        lambda ix: _ranked(T.topk(ix, RARE_PAIR, 3, "or", doc_filter=_python())),
        lambda o: _rank(o, RARE_PAIR, "or",
                        lambda d: o["lang"][d] == "python")[:3], True),
    "topk_and_absent_term": (
        lambda ix: _ranked(T.topk(ix, ABSENT, 10, "and", hydrate=False)),
        lambda o: [], False),
    "topk_or_absent_term": (
        lambda ix: _ranked(T.topk(ix, ABSENT, 10, "or", hydrate=False)),
        lambda o: _rank(o, "rfah", "or")[:10], True),
    "topk_and_empty_match": (
        lambda ix: _ranked(T.topk(ix, RARE_PAIR, 10, "and")),
        lambda o: [], True),
    "search_relevance": (
        lambda ix: _page(ix, MID_PAIR),
        lambda o: _rank(o, MID_PAIR, "and")[:10], True),
    "search_ids_lang_filter": (
        lambda ix: _page(ix, RARE_PAIR, mode="or", relevance=False,
                         lang="python"),
        lambda o: sorted(d for d, _ in _rank(
            o, RARE_PAIR, "or", lambda d: o["lang"][d] == "python")), True),
    "search_relevance_access": (
        lambda ix: _page(ix, MID_PAIR, count=8, access=ACCESS),
        lambda o: _rank(o, MID_PAIR, "and", _shared)[:8], True),
    "search_empty_match": (
        lambda ix: _page(ix, RARE_PAIR),
        lambda o: [], True),
    "search_field_index": (
        lambda ix: _page(ix, "merge_9ac17b parser_918e43", mode="or",
                         field="path"),
        lambda o: _rank(o, "merge_9ac17b parser_918e43", "or",
                        field="path")[:10], True),
    "count": (
        lambda ix: count_objects(ix, MatchFilter(full_text=MID_PAIR)),
        lambda o: len(_rank(o, MID_PAIR, "and")), True),
    "count_access": (
        lambda ix: count_objects(ix, MatchFilter(full_text=MID_PAIR), ACCESS),
        lambda o: len(_rank(o, MID_PAIR, "and", _shared)), True),
    "count_absent_term": (
        lambda ix: count_objects(ix, MatchFilter(full_text=ABSENT)),
        lambda o: 0, False),
    "types": (
        lambda ix: _types(ix, MID_PAIR),
        lambda o: _counts(o, _rank(o, MID_PAIR, "and")), True),
    "types_access": (
        lambda ix: _types(ix, MID_PAIR, ACCESS),
        lambda o: _counts(o, _rank(o, MID_PAIR, "and", _shared)), True),
}


EMPTY_CASES = {"topk_and_absent_term", "topk_and_empty_match",
               "search_empty_match", "count_absent_term"}


def _same(got, want, exact: bool):
    if isinstance(want, list) and want and isinstance(want[0], tuple):
        assert [d for d, _ in got] == [d for d, _ in want]
        if exact:
            assert [s for _, s in got] == [s for _, s in want]
        else:
            np.testing.assert_allclose([s for _, s in got],
                                       [s for _, s in want], atol=1e-9)
    else:
        assert got == want


@pytest.mark.parametrize("case", sorted(CASES))
def test_tiers_agree_with_oracle(spark, index_dir, oracle, monkeypatch, case):
    run, expect, reaches_local = CASES[case]
    index = T.InvertedIndex(spark, index_dir)
    local_calls = []
    real = T._local_hits

    def spy(*a, **kw):
        local_calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(T, "_local_hits", spy)
    got = {}
    for tier, bound in TIERS.items():
        monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", bound)
        local_calls.clear()
        got[tier] = run(index)
        assert bool(local_calls) == (tier == "local" and reaches_local)
    want = expect(oracle)
    _same(got["local"], got["fanout"], exact=True)
    _same(got["local"], want, exact=False)
    # only the edge cases may have an empty answer
    assert bool(want) == (case not in EMPTY_CASES)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("kind", ["topk", "match_frame"])
def test_local_tier_plan_is_one_docs_scan(spark, index_dir, monkeypatch, kind):
    """A local-tier query runs no Python worker and no postings shuffle:
    its plan has no grouped pandas UDF or Arrow evaluation, and its
    collect runs at most one Spark job."""
    from kbasesearchengine_spark.plans.search import match_frame

    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", sys.maxsize)
    index = T.InvertedIndex(spark, index_dir)
    if kind == "topk":
        df = T.topk(index, MID_PAIR, 10, "and", doc_filter=_python())
    else:
        df = match_frame(index, MatchFilter(full_text=MID_PAIR,
                                            term_eq={"lang": "python"}),
                         scores=True, k=5)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    sc = spark.sparkContext
    group = f"local-tier-{kind}"
    sc.setJobGroup(group, "local tier plan test")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1


def test_snapshot_until_refresh(spark, tmp_path, monkeypatch):
    """A handle answers from the snapshot it opened: after an
    add_documents without refresh() both tiers still give the pre-add
    oracle's answer (idf, avgdl and postings of one snapshot); after
    refresh() both give the post-add oracle's."""
    d = str(tmp_path / "idx")
    base_rows, all_rows = 300, 360
    base = generate_corpus(spark, base_rows, parallelism=4)
    IndexBuilder(spark, d, num_segments=4, segments_per_commit=4).build(
        base, key_cols=KEYS
    )
    index = T.InvertedIndex(spark, d)
    docs_before = index.docs.select("doc_id", "content").collect()
    add_documents(spark, d, generate_corpus(
        spark, all_rows, parallelism=4).subtract(base), KEYS)
    docs_after = T.InvertedIndex(spark, d).docs.select(
        "doc_id", "content").collect()
    assert len(docs_after) == all_rows
    query = "parser_db627f array_e5fc4d"

    def check(rows):
        want = oracle_topk(
            build_oracle_index([(r["doc_id"], r["content"]) for r in rows]),
            query, k=20, mode="or",
        )
        got = {}
        for tier, bound in TIERS.items():
            monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", bound)
            got[tier] = _ranked(T.topk(index, query, 20, "or",
                                       hydrate=False))
        assert got["local"] == got["fanout"]
        _same(got["local"], want, exact=False)
        return got["local"]

    before = check(docs_before)
    index.refresh()
    assert check(docs_after) != before


def test_unreadable_store_falls_back_and_logs(
    spark, index_dir, monkeypatch, caplog
):
    """A store pyarrow cannot open takes the Spark path for the term
    dictionary and the fan-out for the query, with the same answers, and
    the fallback is logged."""
    import pyarrow.dataset as pads

    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", sys.maxsize)
    want = _ranked(T.topk(T.InvertedIndex(spark, index_dir), MID_PAIR, 10,
                          "and"))
    want_dfs = T.InvertedIndex(spark, index_dir).term_dfs(MID_PAIR.split())

    def unreadable(*args, **kwargs):
        raise OSError("store not readable through pyarrow")

    monkeypatch.setattr(pads, "dataset", unreadable)
    caplog.set_level(logging.INFO, logger=T.__name__)
    index = T.InvertedIndex(spark, index_dir)
    assert index.term_dfs(MID_PAIR.split()) == want_dfs
    assert _ranked(T.topk(index, MID_PAIR, 10, "and")) == want
    logged = [r for r in caplog.records if r.name == T.__name__]
    assert {"terms", "postings"} <= {
        t for r in logged for t in ("terms", "postings") if t in r.getMessage()
    }
