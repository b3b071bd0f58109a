"""RpcService.search_objects pages: the page and hits.total come from one
pass over the match set (the reference reads both from one ES
response, ElasticIndexingStorage.java:1557): on the driver-local tier an
Arrow table with no Spark job, on the fan-out one collect of the match
frame. Every case runs on both
query tiers (topk.LOCAL_POSTINGS_MAX forced to 0 and to sys.maxsize) and
must equal the brute-force oracle, in total and in guids, within a
Spark-job budget read from the status tracker."""

import itertools
import os
import shutil
import sys

import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from kbasesearchengine_spark.api import rpc
from kbasesearchengine_spark.corpus import generate_corpus, generate_corpus_pandas
from kbasesearchengine_spark.operators import topk as T
from kbasesearchengine_spark.operators.indexer import IndexBuilder, add_documents
from kbasesearchengine_spark.operators.mutate import share_with_group
from kbasesearchengine_spark.oracle import build_oracle_index, oracle_topk
from kbasesearchengine_spark.plans.search import (
    AccessFilter,
    MatchFilter,
    count_objects,
    match_frame,
)

from conftest import SHARED_ROWS

KEYS = ["repo", "path", "commit"]
GROUP = 7
MID_PAIR = "stream_946bac heap_1be0d7"  # AND: a few dozen docs
HEAD = "license"  # most docs
RARE_PAIR = "rfah quorum"  # AND: no doc has both
ABSENT = "rfah zz_absent_token"
TIERS = {"fanout": 0, "local": sys.maxsize}
_groups = itertools.count()


@pytest.fixture(scope="module")
def svc(spark, shared_index_dir, tmp_path_factory):
    """The shared index with every third doc shared with GROUP."""
    d = str(tmp_path_factory.mktemp("rpc_pages") / "idx")
    shutil.copytree(shared_index_dir, d)
    share_with_group(spark, d, F.col("doc_id") % 3 == 0, GROUP)
    return rpc.RpcService(
        T.InvertedIndex(spark, d), groups_for=_groups_for,
    )


def _groups_for(user):
    return {"alice": [GROUP]}.get(user, [])


@pytest.fixture(scope="module")
def oracle():
    pdf = generate_corpus_pandas(SHARED_ROWS)
    pdf = pdf.sort_values(KEYS).reset_index(drop=True)
    ids = range(len(pdf))
    return {
        "index": build_oracle_index(list(zip(ids, pdf["content"]))),
        "lang": dict(zip(ids, pdf["lang"])),
    }


# id -> (query, relevance, start, count, lang, user); a count of None is
# the match-set size (an exactly full first page) and a start of None is
# past it
CASES = {
    "first_fits": (MID_PAIR, False, 0, 200, None, None),
    "first_overflows": (MID_PAIR, True, 0, 5, None, None),
    "first_exactly_full": (MID_PAIR, False, 0, None, None, None),
    "first_exactly_full_relevance": (MID_PAIR, True, 0, None, None, None),
    "deep_ids": (MID_PAIR, False, 10, 10, None, None),
    "deep_relevance": (MID_PAIR, True, 10, 10, None, None),
    "past_the_end": (MID_PAIR, False, None, 10, None, None),
    "past_the_end_relevance": (MID_PAIR, True, None, 10, None, None),
    "count_zero": (MID_PAIR, False, 0, 0, None, None),
    "lang_deep_ids": (HEAD, False, 50, 20, "python", None),
    "lang_deep_relevance": (HEAD, True, 50, 10, "python", None),
    "access_relevance": (MID_PAIR, True, 0, 8, None, "alice"),
    "access_deep_ids": (HEAD, False, 40, 10, None, "alice"),
    "no_full_text_lang": (None, False, 100, 10, "go", None),
    "empty_intersection": (RARE_PAIR, True, 0, 10, None, None),
    "absent_term": (ABSENT, False, 0, 10, None, None),
    "a5_no_groups": (MID_PAIR, True, 0, 10, None, "bob"),
}
# answers known empty before any job on every tier; the empty
# intersection is known empty only once the local tier's kernels ran
KNOWN_EMPTY = {"absent_term", "a5_no_groups"}


def _params(query, relevance, start, count, lang, user):
    mf: dict = {}
    if query is not None:
        mf["full_text_in_all"] = query
    if lang is not None:
        mf["lookup_in_keys"] = {"lang": {"value": lang}}
    params = {"match_filter": mf,
              "pagination": {"start": start, "count": count},
              "post_processing": {"ids_only": 1}}
    if relevance:
        params["sorting_rules"] = [{"property": "relevance"}]
    if user is not None:
        params["access_filter"] = {"with_private": 1}
    return params


def _oracle_ranked(oracle, query, lang, user):
    """(doc_id, score) of every match, ranked, after the filters."""
    if query is None:
        ranked = [(d, 0.0) for d in sorted(oracle["lang"])]
    else:
        ranked = oracle_topk(oracle["index"], query, k=SHARED_ROWS)
    return [
        (d, s) for d, s in ranked
        if (lang is None or oracle["lang"][d] == lang)
        and (user is None or (user == "alice" and d % 3 == 0))
    ]


def _jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"rpc-pages-{next(_groups)}"
    sc.setJobGroup(group, "rpc page job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("tier", sorted(TIERS))
@pytest.mark.parametrize("case", sorted(CASES))
def test_page_and_total_equal_oracle_in_one_pass(
    spark, svc, oracle, monkeypatch, case, tier
):
    query, relevance, start, count, lang, user = CASES[case]
    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", TIERS[tier])
    ranked = _oracle_ranked(oracle, query, lang, user)
    n = len(ranked)
    assert bool(n) == (case not in KNOWN_EMPTY | {"empty_intersection"})
    count = n if count is None else count
    start = n + 5 if start is None else start
    want = [d for d, _ in ranked] if relevance else sorted(d for d, _ in ranked)
    want = want[start:start + count]

    out, jobs = _jobs(spark, lambda: svc.search_objects(
        _params(query, relevance, start, count, lang, user), user=user))
    assert out["total"] == n
    assert [o["guid"] for o in out["objects"]] == want

    # job budget. The driver answers a full-text match set of the local
    # tier, and any answer known empty, in Arrow: no job. Otherwise (the
    # fan-out, or a filter-only docs scan) one pass over the match frame:
    # the jobs of collecting the frame once (its shuffle and broadcast
    # stages). A count-0 page, or one at or past the end, may take one
    # more: a count when its plan folded, or, on the fan-out, the stages
    # an empty frame's own collect skips but the observation still runs.
    if case in KNOWN_EMPTY or (tier == "local" and query is not None):
        assert jobs == 0
        return
    mf = MatchFilter(full_text=query,
                     term_eq={"lang": lang} if lang is not None else {})
    access = AccessFilter(user_groups=[GROUP]) if user else None
    _, frame_jobs = _jobs(spark, lambda: match_frame(
        svc.index, mf, access=access, scores=relevance).collect())
    at_end = start >= n or count == 0
    assert jobs <= frame_jobs + at_end, (jobs, frame_jobs)


# the fan-out only: a local-tier page is an Arrow slice of the match
# table, whose row count is the total, so it observes nothing
@pytest.mark.parametrize("tier", ["fanout"])
def test_total_is_counted_in_the_result_stage(spark, svc, monkeypatch, tier):
    """The observed count has no exchange above it: it runs in the result
    stage, whose task metrics Spark applies once per partition, so a
    speculative duplicate task cannot count a row twice."""
    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", TIERS[tier])
    pages = []
    real_page = rpc._page

    def spy(*a, **kw):
        pages.append(real_page(*a, **kw))
        return pages[-1]

    monkeypatch.setattr(rpc, "_page", spy)
    out = svc.search_objects(_params(HEAD, True, 50, 10, "python", None))
    assert out["total"] > 60
    plan = pages[-1]._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" in plan
    assert "Exchange" not in plan.split("CollectMetrics")[0], plan


# ------------------------------------------- grants on the added segments


@pytest.fixture(scope="module")
def added(spark, tmp_path_factory):
    """An index built over 300 rows, then 60 rows added, then the added
    segments alone shared with GROUP: only their docs files carry
    access_groups, which the committed docs schema still names."""
    d = str(tmp_path_factory.mktemp("rpc_added") / "idx")
    base = generate_corpus(spark, 300, parallelism=4)
    IndexBuilder(spark, d, num_segments=4, segments_per_commit=4).build(
        base, key_cols=KEYS
    )
    first = add_documents(spark, d, generate_corpus(
        spark, 360, parallelism=4).subtract(base), KEYS)["first_segment"]
    share_with_group(spark, d, F.col("segment") >= first, GROUP)
    rows = pads.dataset(os.path.join(d, "docs"), partitioning="hive").to_table(
        columns=["doc_id", "content", "lang", "segment"]).to_pylist()
    ranked = oracle_topk(
        build_oracle_index([(r["doc_id"], r["content"]) for r in rows]),
        HEAD, k=len(rows),
    )
    shared = {r["doc_id"] for r in rows if r["segment"] >= first}
    lang = {r["doc_id"]: r["lang"] for r in rows}
    return {"dir": d, "lang": lang,
            "ranked": [(i, s) for i, s in ranked if i in shared]}


def _types(ranked, lang):
    out: dict = {}
    for d, _ in ranked:
        out[lang[d]] = out.get(lang[d], 0) + 1
    return out


# id -> (engine call on (service, access filter), oracle answer)
ADDED_CASES = {
    "search_objects_relevance": (
        lambda svc, _: svc.search_objects(
            _params(HEAD, True, 0, 10, None, "alice"), user="alice"),
        lambda o: {"total": len(o["ranked"]),
                   "guids": [d for d, _ in o["ranked"][:10]]}),
    "search_objects_ids": (
        lambda svc, _: svc.search_objects(
            _params(HEAD, False, 5, 10, None, "alice"), user="alice"),
        lambda o: {"total": len(o["ranked"]),
                   "guids": sorted(d for d, _ in o["ranked"])[5:15]}),
    "count_objects": (
        lambda svc, access: count_objects(
            svc.index, MatchFilter(full_text=HEAD), access),
        lambda o: len(o["ranked"])),
    "search_types": (
        lambda svc, _: svc.search_types(
            {"match_filter": {"full_text_in_all": HEAD},
             "access_filter": {"with_private": 1}}, user="alice",
        )["type_to_count"],
        lambda o: _types(o["ranked"], o["lang"])),
}


@pytest.mark.parametrize("tier", sorted(TIERS))
@pytest.mark.parametrize("case", sorted(ADDED_CASES))
def test_grants_on_added_segments_equal_oracle(
    spark, added, monkeypatch, case, tier
):
    """A grant that only the added segments' files carry still filters:
    every file reads through the committed docs schema, so the older
    segments' docs read access_groups as null (not shared)."""
    run, expect = ADDED_CASES[case]
    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", TIERS[tier])
    svc = rpc.RpcService(T.InvertedIndex(spark, added["dir"]),
                         groups_for=_groups_for)
    got = run(svc, AccessFilter(user_groups=[GROUP]))
    if isinstance(got, dict) and "objects" in got:
        got = {"total": got["total"],
               "guids": [o["guid"] for o in got["objects"]]}
    assert added["ranked"]
    assert got == expect(added)


@pytest.mark.parametrize("probe", ["docs_columns", "a5_page"])
@pytest.mark.parametrize("handle", ["fresh", "refreshed"])
def test_handle_reads_docs_without_a_job(spark, added, handle, probe):
    """Opening or refreshing a handle and its first docs access run no
    Spark job: the docs frame is given the committed schema."""
    index = T.InvertedIndex(spark, added["dir"])
    index.docs

    def run():
        if handle == "fresh":
            ix = T.InvertedIndex(spark, added["dir"])
        else:
            ix = index
            ix.refresh()
        if probe == "docs_columns":
            return ix.docs.columns
        return rpc.RpcService(ix, groups_for=_groups_for).search_objects(
            _params(MID_PAIR, True, 0, 10, None, "bob"), user="bob")

    out, jobs = _jobs(spark, run)
    assert jobs == 0
    if probe == "docs_columns":
        assert "access_groups" in out
    else:
        assert out["total"] == 0 and out["objects"] == []


# ------------------------------------------------ driver-local answers


@pytest.mark.parametrize("access", ["none", "alice"])
@pytest.mark.parametrize("kind", ["search_types", "count_objects"])
def test_local_types_and_count_run_no_job(
    spark, svc, oracle, monkeypatch, kind, access
):
    """On the driver-local tier, search_types is an Arrow group count and
    count_objects the match table's row count: no Spark job, and the
    oracle's answers."""
    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", sys.maxsize)
    user = None if access == "none" else access
    ranked = _oracle_ranked(oracle, MID_PAIR, None, user)
    assert ranked
    if kind == "search_types":
        params = {"match_filter": {"full_text_in_all": MID_PAIR}}
        if user:
            params["access_filter"] = {"with_private": 1}
        got, jobs = _jobs(spark, lambda: svc.search_types(
            params, user=user)["type_to_count"])
        assert got == _types(ranked, oracle["lang"])
    else:
        got, jobs = _jobs(spark, lambda: count_objects(
            svc.index, MatchFilter(full_text=MID_PAIR),
            AccessFilter(user_groups=[GROUP]) if user else None))
        assert got == len(ranked)
    assert jobs == 0


def test_local_page_over_a_large_payload_runs_no_job(
    spark, tmp_path, monkeypatch
):
    """A local relation above Spark's local-relation size
    (spark.sql.execution.arrow.localRelationThreshold, 48 MiB) is planned
    as an RDD, and collecting it runs a job. The relation a doc_filter is
    evaluated over therefore leaves the text payload out: a filtered
    local page over 600 documents of 100 kB each runs no job, and reads
    the payload of its own rows only."""
    n, size = 600, 100_000
    i = F.col("id")
    corpus = spark.range(n, numPartitions=4).select(
        F.lit("r").alias("repo"),
        F.format_string("p%04d", i).alias("path"),
        F.lit("c").alias("commit"),
        F.when(i % 2 == 0, "python").otherwise("go").alias("lang"),
        F.concat(F.lit("needle "), F.repeat(F.lit("x"), size)).alias("content"),
    )
    d = str(tmp_path / "idx")
    IndexBuilder(spark, d, num_segments=4, segments_per_commit=4).build(
        corpus, key_cols=KEYS
    )
    monkeypatch.setattr(T, "LOCAL_POSTINGS_MAX", sys.maxsize)
    svc = rpc.RpcService(T.InvertedIndex(spark, d))
    out, jobs = _jobs(spark, lambda: svc.search_objects({
        "match_filter": {"full_text_in_all": "needle",
                         "lookup_in_keys": {"lang": {"value": "python"}}},
        "pagination": {"start": 0, "count": 10},
    }))
    assert out["total"] == n // 2
    assert len(out["objects"]) == 10
    assert all(len(o["data"]) == len("needle ") + size for o in out["objects"])
    assert jobs == 0
