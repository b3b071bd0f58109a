"""S8 JSON-RPC dispatch layer (KBaseSearchEngineServer.java:215-274;
param translation SearchMethods.java:102-194): every endpoint through the
envelope, results equal to direct facade calls."""

import itertools

import pytest

from kbasesearchengine_spark.api.rpc import RpcService, serve
from kbasesearchengine_spark.functions.typespec import parse_spec
from kbasesearchengine_spark.operators.topk import InvertedIndex
from kbasesearchengine_spark.plans.search import (
    AccessFilter,
    MatchFilter,
    SortingRule,
    search_objects,
)

_groups = itertools.count()


@pytest.fixture(scope="module")
def svc(spark, shared_index_dir):
    spec = parse_spec(
        """
global-object-type: TestObj
storage-type: TEST
storage-object-type: Test.Obj
versions:
  - indexing-rules:
      - key-name: lang
        path: lang
        keyword-type: keyword
      - key-name: content
        path: content
        full-text: true
"""
    )
    return RpcService(
        InvertedIndex(spark, shared_index_dir),
        type_col="lang",
        specs={"TestObj": spec},
        groups_for=lambda user: {"alice": [7], "bob": []}.get(user, []),
    )


def _call(svc, method, params, user=None):
    resp = svc.handle(
        {"version": "1.1", "id": "t1",
         "method": f"KBaseSearchEngine.{method}", "params": [params]},
        user=user,
    )
    assert resp["id"] == "t1"
    assert "error" not in resp, resp.get("error")
    return resp["result"][0]


def test_search_objects_envelope_matches_facade(svc):
    out = _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "license import"},
        "sorting_rules": [{"property": "relevance"}],
        "pagination": {"start": 0, "count": 5},
    })
    assert len(out["objects"]) == 5
    # total = hits.total (spec :262,281): the FULL match-set size
    from kbasesearchengine_spark.plans.search import count_objects

    full = count_objects(svc.index, MatchFilter(full_text="license import"))
    assert out["total"] == full >= 5
    direct = search_objects(
        svc.index, MatchFilter(full_text="license import"),
        sorting=[SortingRule("relevance")],
    ).limit(5).collect()
    assert [o["guid"] for o in out["objects"]] == [
        r["doc_id"] for r in direct
    ]
    # ObjectData split: keyword props separated from payload/system cols
    o = out["objects"][0]
    assert "lang" in o["object_props"]
    assert "sha256" not in o.get("object_props", {})
    assert o["object_hash"]


def test_lookup_in_keys_and_ranges(svc):
    out = _call(svc, "search_objects", {
        "match_filter": {
            "lookup_in_keys": {
                "lang": {"value": "go"},
                "dl": {"min_int": 100, "max_int": 2000},
            }
        },
        "pagination": {"start": 0, "count": 10},
    })
    assert out["objects"], "range+term lookup must match rows"
    for o in out["objects"]:
        assert o["object_props"]["lang"] == "go"
        # dl is a system column — split out of object_props (ObjectData
        # carries only extracted keyword props, buildObjectData:1218-1220)
        assert "dl" not in o["object_props"]


def test_post_processing_flags(svc):
    ids = _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "license"},
        "post_processing": {"ids_only": 1},
    })
    assert all(set(o) == {"guid"} for o in ids["objects"])
    nodata = _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "license"},
        "post_processing": {"skip_data": 1},
    })
    assert all("data" not in o for o in nodata["objects"])
    assert all("object_props" in o for o in nodata["objects"])


def test_access_filter_via_group_provider(svc):
    """with_private resolves the CALLER's groups through the injected
    provider (SearchMethods.java:124-137); no shares exist in this corpus
    so a private-only search sees nothing, admin sees everything."""
    empty = _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "license"},
        "access_filter": {"with_private": 1, "with_public": 0},
    }, user="bob")
    assert empty["objects"] == []
    admin = _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "license"},
        "access_filter": {"admin": 1},
    })
    assert admin["total"] > 0
    # direct-facade parity for the empty case
    direct = search_objects(
        svc.index, MatchFilter(full_text="license"),
        access=AccessFilter(),
    )
    assert direct.count() == 0


def test_search_types_and_get_objects(svc):
    st = _call(svc, "search_types", {
        "match_filter": {"full_text_in_all": "license"},
    })
    assert set(st["type_to_count"]) <= {"python", "java", "go", "js", "rust"}
    assert sum(st["type_to_count"].values()) > 0
    got = _call(svc, "get_objects", {"guids": [0, 1, 2]})
    assert sorted(o["guid"] for o in got["objects"]) == [0, 1, 2]


def test_list_types_and_errors(svc):
    lt = _call(svc, "list_types", {})
    assert "TestObj" in lt["types"]
    keys = {k["key_name"]: k["key_value_type"] for k in
            lt["types"]["TestObj"]["keys"]}
    assert keys["content"] == "text" and keys["lang"] == "string"
    bad = svc.handle({"method": "KBaseSearchEngine.nope", "params": [{}]})
    assert bad["error"]["code"] == -32601


def test_http_transport_round_trip(svc):
    """The optional stdlib transport serves the same dispatcher."""
    import json
    import threading
    import urllib.request

    server, port = serve(svc)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/",
            data=json.dumps({
                "version": "1.1", "id": "h1",
                "method": "KBaseSearchEngine.get_objects",
                "params": [{"guids": [5]}],
            }).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=30) as r:
            body = json.load(r)
        assert body["result"][0]["objects"][0]["guid"] == 5
    finally:
        server.shutdown()


def test_total_is_match_set_size_not_page_size(svc):
    """spec KBaseSearchEngine.spec:262,281: total = the number of FOUND
    objects (ES hits.total, ElasticIndexingStorage.java:1557) — a
    paginating client must see the match-set size, not the page size."""
    # a filter matching many docs, page of 5
    full = _call(svc, "search_objects", {
        "match_filter": {}, "pagination": {"start": 0, "count": 10_000},
    })
    n_all = len(full["objects"])
    assert n_all > 5
    page = _call(svc, "search_objects", {
        "match_filter": {}, "pagination": {"start": 0, "count": 5},
    })
    assert len(page["objects"]) == 5
    assert page["total"] == n_all
    # later pages report the same total
    page2 = _call(svc, "search_objects", {
        "match_filter": {}, "pagination": {"start": 5, "count": 5},
    })
    assert page2["total"] == n_all
    # short first page: total == returned size without a second count job
    one = _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "zzz_no_such_token_zzz"},
        "pagination": {"start": 0, "count": 50},
    })
    assert one["total"] == len(one["objects"]) == 0


def _jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"test-rpc-{next(_groups)}"
    sc.setJobGroup(group, "rpc job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _frame_jobs(spark, svc, mf, relevance=False):
    """Spark jobs of one collect of the full match frame: one pass."""
    from kbasesearchengine_spark.plans.search import match_frame

    return _jobs(spark, lambda: match_frame(
        svc.index, mf, scores=relevance).collect())[1]


def test_deep_page_total_is_one_pass(spark, svc):
    """G3 without a second query (ElasticIndexingStorage.java:1557 reads
    page AND total from ONE response): a deep page and its total come
    from one pass over the match frame — no more Spark jobs than one
    collect of that frame, not a separate count_objects job."""
    mf = MatchFilter(full_text="license import")
    one_pass = _frame_jobs(spark, svc, mf)
    out, jobs = _jobs(spark, lambda: _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "license import"},
        "pagination": {"start": 5, "count": 5},
    }))
    assert jobs <= one_pass
    from kbasesearchengine_spark.plans.search import count_objects

    assert out["total"] == count_objects(svc.index, mf)
    assert len(out["objects"]) == 5
    # deep RELEVANCE page: also one pass, scores still correct order
    one_pass = _frame_jobs(spark, svc, mf, relevance=True)
    rel, jobs = _jobs(spark, lambda: _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "license import"},
        "sorting_rules": [{"property": "relevance"}],
        "pagination": {"start": 5, "count": 5},
    }))
    assert jobs <= one_pass
    assert rel["total"] == out["total"]
    direct = search_objects(
        svc.index, mf, sorting=[SortingRule("relevance")],
    ).offset(5).limit(5).collect()
    assert [o["guid"] for o in rel["objects"]] == [
        r["doc_id"] for r in direct
    ]


def test_per_field_highlight_map(svc):
    """T13 extended: the reference returns {field: [fragments]} with
    readable key names, omitting fields that do not match
    (ElasticIndexingStorage.java:1096-1100, 1196-1217)."""
    out = _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "license"},
        "post_processing": {
            "include_highlight": 1,
            "highlight_fields": ["content", "lang"],
        },
        "pagination": {"start": 0, "count": 5},
    })
    assert out["objects"]
    for o in out["objects"]:
        hl = o["highlight"]
        # content matched (it IS the indexed text); lang never contains
        # the token 'license' -> omitted from the map, like the reference
        assert "<em>license</em>" in hl["content"][0].lower()
        assert "lang" not in hl
        assert "_all" in hl  # legacy single-payload fragment rides along


def test_exactly_full_first_page_is_one_pass(spark, svc):
    """An exactly-count match set learns its total from the page's own
    pass — no more Spark jobs than one collect of the match frame (r6:
    a former fast path discarded an exactly-full page and recomputed
    everything)."""
    from kbasesearchengine_spark.plans.search import count_objects

    mf = MatchFilter(full_text="license import")
    n_match = count_objects(svc.index, mf)
    assert n_match > 0
    one_pass = _frame_jobs(spark, svc, mf)
    out, jobs = _jobs(spark, lambda: _call(svc, "search_objects", {
        "match_filter": {"full_text_in_all": "license import"},
        "pagination": {"start": 0, "count": n_match},
    }))
    assert jobs <= one_pass
    assert out["total"] == n_match
    assert len(out["objects"]) == n_match


def test_total_when_the_page_plan_folds(svc):
    """When Catalyst folds a page's plan to an empty relation the count
    observation never runs, so the total comes another way: a count-0
    page (hits.total only) counts the match frame, and a frame that is
    provably empty (here: a caller's groups on an index that records no
    grants) has total 0 on a first page and on a deep one."""
    n_all = _call(svc, "search_objects", {
        "match_filter": {}, "pagination": {"start": 0, "count": 1},
    })["total"]
    none = _call(svc, "search_objects", {
        "match_filter": {}, "pagination": {"start": 0, "count": 0},
    })
    assert none["objects"] == [] and none["total"] == n_all > 0
    for start in (0, 10):
        out = _call(svc, "search_objects", {
            "match_filter": {"full_text_in_all": "license"},
            "access_filter": {"with_private": 1},
            "pagination": {"start": start, "count": 5},
        }, user="alice")
        assert out["objects"] == [] and out["total"] == 0
