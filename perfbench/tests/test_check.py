from perfbench.check import Oracle, compare

ROWS = [
    (0, "alpha beta beta", "go"),
    (1, "alpha gamma", "java"),
    (2, "alpha beta gamma delta", "go"),
    (3, "delta delta delta", "python"),
]


def _envelope(total, guids):
    return {"version": "1.1", "id": "1", "result": [
        {"objects": [{"guid": g} for g in guids], "total": total}]}


def test_topk_check_accepts_the_oracle_answer_and_flags_a_swap():
    o = Oracle(ROWS)
    req = {"kind": "topk", "query": "alpha beta", "mode": "or", "k": 3}
    want = o.expect(req)
    hits = want["hits"]
    assert len(hits) == 3 and hits[0][1] > hits[1][1]
    assert compare(req, want, list(hits)) is None
    swapped = [hits[1], hits[0], hits[2]]
    assert "doc_ids" in compare(req, want, swapped)
    off = [(hits[0][0], hits[0][1] * (1 + 1e-6))] + hits[1:]
    assert "score" in compare(req, want, off)


def test_rpc_check_flags_a_swapped_rank_and_a_wrong_total():
    o = Oracle(ROWS)
    req = {"kind": "search_objects", "query": "alpha", "mode": "and",
           "params": {"match_filter": {"full_text_in_all": "alpha"},
                      "sorting_rules": [{"property": "relevance"}],
                      "pagination": {"start": 0, "count": 2}}}
    want = o.expect(req)
    assert want["total"] == 3
    g = want["guids"]
    assert compare(req, want, _envelope(3, g)) is None
    assert "guids" in compare(req, want, _envelope(3, g[::-1]))
    assert "total" in compare(req, want, _envelope(2, g))
    err = {"version": "1.1", "id": "1", "error": {"message": "boom"}}
    assert "boom" in compare(req, want, err)


def test_filters_and_default_order():
    o = Oracle(ROWS)
    o.shared.update({1, 2})
    base = {"match_filter": {"full_text_in_all": "alpha"},
            "pagination": {"start": 0, "count": 10}}
    req = {"kind": "search_objects", "query": "alpha", "mode": "and",
           "params": dict(base, access_filter={"with_private": 1})}
    assert o.expect(req) == {"total": 2, "guids": [1, 2]}
    mf = {"full_text_in_all": "alpha", "lookup_in_keys": {"lang": {"value": "go"}}}
    req = {"kind": "search_types", "query": "alpha", "mode": "and",
           "params": {"match_filter": mf}}
    assert o.expect(req) == {"type_to_count": {"go": 2}}


def test_extend_matches_an_oracle_built_at_once():
    grown = Oracle(ROWS[:2])
    grown.extend(ROWS[2:])
    whole = Oracle(ROWS)
    for q, mode in (("alpha", "and"), ("beta delta", "or")):
        assert grown.matches(q, mode) == whole.matches(q, mode)
