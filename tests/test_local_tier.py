"""The two query tiers of topk(): the driver-local tier (posting volume at
or below LOCAL_POSTINGS_MAX) and the Spark fan-out must give the same
answers, and both must equal the brute-force oracle. Every case runs with
the bound forced to 0 (fan-out) and to sys.maxsize (local)."""

import itertools
import logging
import math
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.api import rpc
from kbasesearchengine_spark.corpus import generate_corpus, generate_corpus_pandas
from kbasesearchengine_spark.functions.hashing import term_hash
from kbasesearchengine_spark.functions.tokenize import tokenize_py
from kbasesearchengine_spark.operators import store
from kbasesearchengine_spark.operators import topk as T
from kbasesearchengine_spark.operators.indexer import (
    IndexBuilder,
    add_documents,
    build_field_index,
)
from kbasesearchengine_spark.operators.mutate import (
    share_with_group,
    update_docs_fields,
)
from kbasesearchengine_spark.oracle import build_oracle_index, oracle_topk
from kbasesearchengine_spark.plans.search import (
    AccessFilter,
    MatchFilter,
    Pagination,
    PostProcessing,
    SortingRule,
    count_objects,
    search_objects,
    search_types,
)

from conftest import SHARED_ROWS

KEYS = ["repo", "path", "commit"]
GROUP = 7
MID_PAIR = "stream_946bac heap_1be0d7"  # AND: a few dozen docs
HEAD = "license"  # most docs
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
        "text": dict(zip(ids, pdf["content"])),
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


# ------------------------------------------------- answers built in Arrow

_groups = itertools.count()


def _jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"local-arrow-{next(_groups)}"
    sc.setJobGroup(group, "local tier job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_relation_keeps_the_rows_after_a_zero_row_batch(spark):
    """pyspark 4.1's createDataFrame(pa.Table) drops every row after a
    zero-row record batch (batches [1], [], [2] give [1]), which a
    filtered pyarrow read emits for a file with no matching row."""
    batch = [pa.record_batch([pa.array([i], pa.int64())], names=["doc_id"])
             for i in (1, 2)]
    rows = pa.Table.from_batches([batch[0], batch[0].slice(0, 0), batch[1]])
    got = T.local_relation(spark, rows, "doc_id bigint").collect()
    assert [r["doc_id"] for r in got] == [1, 2]


def test_hits_on_both_sides_of_a_segment_gap(spark, tmp_path, monkeypatch):
    """A local-tier topk(k=None) whose hits lie in segments 0, 1 and 3 of
    a 4-segment index returns every hit, also when a doc_filter drops
    every hit of segment 1."""
    d = str(tmp_path / "idx")
    IndexBuilder(spark, d, num_segments=4, segments_per_commit=4).build(
        generate_corpus(spark, 300, parallelism=4), key_cols=KEYS
    )
    docs = pads.dataset(os.path.join(d, "docs"), partitioning="hive").to_table(
        columns=["doc_id", "content", "segment"]).to_pylist()
    segments: dict = {}
    for r in docs:
        for t in set(tokenize_py(r["content"])):
            segments.setdefault(t, set()).add(r["segment"])
    term = min(t for t, segs in segments.items() if segs == {0, 1, 3})
    hits = {r["doc_id"]: r["segment"] for r in docs
            if term in tokenize_py(r["content"])}
    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", sys.maxsize)
    index = T.InvertedIndex(spark, d)
    assert _ids(T.topk(index, term, None, "or", hydrate=False,
                       scores=False)) == sorted(hits)
    kept = T.topk(index, term, None, "or", doc_filter=F.col("segment") != 1,
                  hydrate=False)
    assert _ids(kept) == sorted(i for i, seg in hits.items() if seg != 1)


def test_local_page_and_types_after_a_share_equal_oracle(
    spark, index_dir, oracle, monkeypatch
):
    """After share_with_group, access_groups is a list column, on which
    pyarrow 16's Table.join raises: local rows get their scores and text
    payload by index_in + take. A scored local page that returns the
    payload, and search_types, equal the oracle."""
    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", sys.maxsize)
    svc = rpc.RpcService(T.InvertedIndex(spark, index_dir),
                         groups_for=lambda user: [GROUP])
    want = _rank(oracle, MID_PAIR, "and", _shared)
    mf = {"full_text_in_all": MID_PAIR}
    access = {"with_private": 1}
    out = svc.search_objects({
        "match_filter": mf, "access_filter": access,
        "sorting_rules": [{"property": "relevance"}],
        "pagination": {"start": 0, "count": 5},
    }, user="alice")
    assert out["total"] == len(want)
    assert [o["guid"] for o in out["objects"]] == [d for d, _ in want[:5]]
    for o in out["objects"]:
        assert o["data"] == oracle["text"][o["guid"]]
        assert o["object_props"]["access_groups"] == [GROUP]
    types = svc.search_types({"match_filter": mf, "access_filter": access},
                             user="alice")["type_to_count"]
    assert types == _counts(oracle, want)


def _with_nulls(doc_id: int):
    """The (stars, weight) a sorting test's index gives a doc: stars is
    null on every third doc, weight on odd docs and NaN on every tenth."""
    stars = None if doc_id % 3 == 0 else doc_id % 7
    weight = None
    if doc_id % 2 == 0:
        weight = math.nan if doc_id % 5 == 0 else doc_id % 11 / 10
    return {"stars": stars, "weight": weight}


@pytest.fixture(scope="module")
def nulls_dir(spark, shared_index_dir, tmp_path_factory):
    """A copy of the shared index with two sort columns that hold nulls
    (and NaN): stars int, weight double, as _with_nulls gives them."""
    d = str(tmp_path_factory.mktemp("local_nulls") / "idx")
    shutil.copytree(shared_index_dir, d)
    doc = F.col("doc_id")
    update_docs_fields(spark, d, doc % 3 != 0,
                       {"stars": (doc % 7).cast("int")})
    update_docs_fields(spark, d, doc % 2 == 0, {"weight": F.when(
        doc % 5 == 0, F.lit(float("nan"))).otherwise(doc % 11 / 10)})
    return d


def _spark_order(ids, keys):
    """ids in Spark's orderBy order: per (value of id, ascending) key,
    nulls first ascending and last descending, NaN above every number,
    ties kept in the order of the keys after."""
    out = list(ids)
    for value, asc in reversed(keys):
        def rank(i, value=value):
            v = value(i)
            if v is None:
                return (0, 0, 0)
            return (1, 1, 0) if v != v else (1, 0, v)
        out.sort(key=rank, reverse=not asc)
    return out


SORTS = {
    "stars_asc": ([("stars", True)], False),
    "stars_desc": ([("stars", False)], False),
    "weight_asc": ([("weight", True)], False),
    "weight_desc": ([("weight", False)], False),
    "relevance_then_stars": ([("relevance", True), ("stars", False)], True),
}


@pytest.mark.parametrize("case", sorted(SORTS))
def test_sorting_rules_over_nulls_equal_oracle(
    spark, nulls_dir, oracle, monkeypatch, case
):
    """SortingRule keys over columns with nulls and NaN: both tiers give
    Spark's order (the local tier sorts in Arrow), equal to the oracle's,
    on a first and a deep page."""
    rules, relevance = SORTS[case]
    ranked = _rank(oracle, HEAD, "and")
    score = dict(ranked)
    keys = [((lambda i: -score[i]), True), ((lambda i: i), True)] if (
        relevance) else []
    keys += [((lambda i, c=c: _with_nulls(i)[c]), asc)
             for c, asc in rules if c != "relevance"]
    if not relevance:
        keys.append(((lambda i: i), True))
    want = _spark_order([d for d, _ in ranked], keys)
    index = T.InvertedIndex(spark, nulls_dir)
    sorting = [SortingRule(c, ascending=asc) for c, asc in rules]
    for start, count in ((0, 30), (200, 40)):
        got = {}
        for tier, bound in TIERS.items():
            monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", bound)
            got[tier] = [r["doc_id"] for r in search_objects(
                index, MatchFilter(full_text=HEAD), sorting=sorting,
                pagination=Pagination(start, count),
                post=PostProcessing(ids_only=True),
            ).collect()]
        assert got["local"] == got["fanout"] == want[start:start + count]


class _Unreadable:
    """A docs dataset whose reads fail as an unreadable store's do."""

    def to_table(self, *args, **kwargs):
        raise OSError("docs not readable through pyarrow")


@pytest.mark.parametrize("broken", ["open", "read"])
def test_unreadable_docs_snapshot_takes_the_fan_out(
    spark, index_dir, oracle, monkeypatch, caplog, broken
):
    """When pyarrow cannot open the docs snapshot, or cannot read it,
    every query takes the Spark fan-out with the oracle's answers, and
    the handle logs the fallback once."""
    real = store.open_dataset

    def open_dataset(index_dir, table, stats=None):
        if table != "docs":
            return real(index_dir, table, stats)
        if broken == "open":
            raise OSError("docs not readable through pyarrow")
        return _Unreadable()

    monkeypatch.setattr(store, "open_dataset", open_dataset)
    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", sys.maxsize)
    caplog.set_level(logging.INFO, logger=T.__name__)
    index = T.InvertedIndex(spark, index_dir)
    want = _rank(oracle, MID_PAIR, "and", _shared)
    for _ in range(2):
        page, jobs = _jobs(spark, lambda: _page(index, MID_PAIR, count=8,
                                                 access=ACCESS))
        _same(page, want[:8], exact=False)
        assert jobs > 0  # Spark answered
        assert count_objects(index, MatchFilter(full_text=MID_PAIR),
                             ACCESS) == len(want)
        assert _types(index, MID_PAIR, ACCESS) == _counts(oracle, want)
        _same(_ranked(T.topk(index, MID_PAIR, 10, "and")),
              _rank(oracle, MID_PAIR, "and")[:10], exact=False)
    logged = [r for r in caplog.records
              if r.name == T.__name__ and "docs" in r.getMessage()]
    assert len(logged) == 1


def test_postings_read_prunes_row_groups(
    spark, shared_index_dir, tmp_path, monkeypatch
):
    """The local tier reads postings with an OR of term_hash equalities,
    which the installed pyarrow prunes row groups on (it prunes none on
    isin): on a postings file written with small row groups, a two-term
    query's read keeps fewer row groups than the file has."""
    d = str(tmp_path / "idx")
    shutil.copytree(shared_index_dir, d)
    seg = os.path.join(d, "postings", "segment=0")
    files = [os.path.join(seg, f) for f in os.listdir(seg)
             if f.endswith(".parquet")]
    rows = pa.concat_tables(pq.read_table(f) for f in files)
    for f in files:
        os.remove(f)
    pq.write_table(rows.sort_by("term_hash"),
                   os.path.join(seg, "part-0.parquet"), row_group_size=16)
    reads = []
    real = T.InvertedIndex._read

    def spy(self, table, where, columns=None):
        reads.append((table, where))
        return real(self, table, where, columns)

    monkeypatch.setattr(T.InvertedIndex, "_read", spy)
    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", sys.maxsize)
    assert _ranked(T.topk(T.InvertedIndex(spark, d), MID_PAIR, 10, "and"))
    (where,) = [w for t, w in reads if t == "postings"]
    assert str(term_hash(MID_PAIR.split()[0])) in str(where)
    (frag,) = pads.dataset(seg, format="parquet").get_fragments()
    assert frag.num_row_groups > 10
    assert frag.subset(filter=where).num_row_groups < frag.num_row_groups
