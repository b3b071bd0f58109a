from perfbench import reqgen

N = 1000
# planted-style rare terms, a mid band, and stopword-style head terms
DF = {
    **{f"rare{i}": 1 + i for i in range(5)},
    **{f"mid{i}": 10 + 10 * i for i in range(9)},
    **{f"head{i}": 600 + 50 * i for i in range(4)},
    "between": 9,  # 0.9%: in no band
}
LANGS = ["go", "java", "python"]


def _cycles(workload, seed, n=4):
    bands = reqgen.df_bands(DF, N)
    return reqgen.make_cycles(workload, seed, bands, n, langs=LANGS,
                              base_rows=N, add_rows=50)


def test_bands_by_document_frequency():
    bands = reqgen.df_bands(DF, N)
    assert bands["rare"] == sorted(f"rare{i}" for i in range(5))
    assert bands["mid"] == sorted(f"mid{i}" for i in range(9))
    assert bands["head"] == sorted(f"head{i}" for i in range(4))
    assert all("between" not in terms for terms in bands.values())


def test_same_seed_same_requests():
    for workload in reqgen.WORKLOADS:
        assert _cycles(workload, 3) == _cycles(workload, 3)
        assert _cycles(workload, 3) != _cycles(workload, 4)


def test_every_cycle_has_the_same_mix():
    for workload in reqgen.WORKLOADS:
        kinds = {tuple(r["kind"] for r in c) for c in _cycles(workload, 9, 8)}
        assert len(kinds) == 1, workload


def test_selective_and_broad_draw_from_their_bands():
    sel = [r for c in _cycles("search_selective", 5) for r in c]
    broad = [r for c in _cycles("search_broad", 5) for r in c]
    assert all(not t.startswith("head") for r in sel for t in r["query"].split())
    assert all(t.startswith("head") for r in broad for t in r["query"].split())
    assert max(reqgen.df_sum(r, DF) for r in sel) < min(
        reqgen.df_sum(r, DF) for r in broad)


def test_ingest_rounds_add_distinct_seeded_rows():
    rounds = _cycles("ingest_mixed", 2, 3) + _cycles("ingest_mixed", 5, 3)
    ranges = [r["rows"] for c in rounds for r in c if r["kind"] == "add"]
    assert all(hi - lo == 50 and lo >= N for lo, hi in ranges)
    covered = [i for lo, hi in ranges for i in range(lo, hi)]
    assert len(covered) == len(set(covered))


def test_selective_pages_are_redrawn_until_the_match_set_fits():
    bands = reqgen.df_bands(DF, N)
    cycles = reqgen.make_cycles("search_selective", 5, bands, 20,
                                fits=lambda query, count: "mid0" not in query)
    pages = [r for c in cycles for r in c if r["kind"] == "search_objects"
             and "sorting_rules" not in r["params"]]
    assert len(pages) == 20
    assert all("mid0" not in r["query"].split() for r in pages)


def test_only_ingest_access_uses_the_access_filter():
    for workload in reqgen.WORKLOADS:
        filtered = [r for c in _cycles(workload, 4) for r in c
                    if "access_filter" in r.get("params", {})]
        assert bool(filtered) == (workload == "ingest_access"), workload
