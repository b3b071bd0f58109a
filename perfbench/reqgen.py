"""Seeded request generator.

Query terms are drawn by document-frequency band from the generated
corpus, so each workload has a fixed posting-volume profile:

  rare  0 < df/N <= 0.5%   (the planted terms sit at ~0.33%)
  mid   1% <= df/N <= 10%
  head  df/N > 50%         (license/import/the, parser, http, ...)

A workload is a list of cycles. Every cycle has the same composition of
request kinds, so a run that completes whole cycles has the same mix on
every seed; only the drawn terms (and pages, filters) change. The same
seed, bands and page-fit predicate always give the same requests.
"""

from __future__ import annotations

import random
from collections.abc import Mapping

BANDS = ("rare", "mid", "head")

# the group the ingest workload shares documents with, and the caller's
# group list the RPC service resolves for the benchmark user
GROUP = 7
USER = "perfbench"
# selective read cycles after each ingest round's writes
READ_CYCLES = 3


def _band(frac: float) -> str | None:
    if frac <= 0.005:
        return "rare"
    if 0.01 <= frac <= 0.10:
        return "mid"
    if frac > 0.5:
        return "head"
    return None


def df_bands(df: Mapping[str, int], n_docs: int) -> dict[str, list[str]]:
    """Terms of each band, sorted (so draws do not depend on dict order)."""
    out: dict[str, list[str]] = {b: [] for b in BANDS}
    for term, d in df.items():
        band = _band(d / n_docs)
        if band is not None:
            out[band].append(term)
    for band in out:
        out[band].sort()
        if not out[band]:
            raise ValueError(f"df band {band!r} is empty at {n_docs} docs")
    return out


def _rpc_search(query, *, relevance, start, count, post, lang=None,
                access=False) -> dict:
    mf: dict = {"full_text_in_all": query}
    if lang is not None:
        mf["lookup_in_keys"] = {"lang": {"value": lang}}
    params: dict = {
        "match_filter": mf,
        "pagination": {"start": start, "count": count},
        "post_processing": post,
    }
    if relevance:
        params["sorting_rules"] = [{"property": "relevance"}]
    if access:
        params["access_filter"] = {"with_private": 1}
    return {"kind": "search_objects", "query": query, "mode": "and",
            "params": params}


def _rpc_types(query) -> dict:
    return {"kind": "search_types", "query": query, "mode": "and",
            "params": {"match_filter": {"full_text_in_all": query}}}


def _topk(query, mode, k=10) -> dict:
    return {"kind": "topk", "query": query, "mode": mode, "k": k}


def _selective_cycle(rng: random.Random, bands, fits) -> list[dict]:
    rare, mid = bands["rare"], bands["mid"]

    def pair(count=None):
        # a page's pair is redrawn until its match set fits the page, so
        # the first page is answered by the bounded probe, not the full pass
        while True:
            query = " ".join(rng.sample(mid, 2))
            if count is None or fits(query, count):
                return query

    return [
        _rpc_search(rng.choice(rare), relevance=True, start=0, count=20,
                    post={"skip_data": 1}),
        _rpc_search(pair(50), relevance=False, start=0, count=50,
                    post={"ids_only": 1}),
        _rpc_types(rng.choice(rare)),
        _topk(pair(), "and"),
        _topk(" ".join(rng.sample(rare, 2)), "or"),
    ]


def _broad_cycle(rng: random.Random, bands, langs) -> list[dict]:
    head = bands["head"]
    return [
        _rpc_search(" ".join(rng.sample(head, 2)), relevance=True, start=0,
                    count=10, post={"skip_data": 1}),
        _rpc_search(rng.choice(head), relevance=False,
                    start=50 + 10 * rng.randrange(6), count=20,
                    post={"ids_only": 1}, lang=rng.choice(langs)),
        _rpc_types(" ".join(rng.sample(head, 2))),
        _topk(" ".join(rng.sample(head, 3)), "or"),
        _rpc_search(rng.choice(head), relevance=True, start=50, count=10,
                    post={"ids_only": 1}, lang=rng.choice(langs)),
    ]


def _ingest_round(rng: random.Random, bands, fits, seed: int, r: int,
                  n_rounds: int, base_rows: int, add_rows: int,
                  access: bool) -> list[dict]:
    """One write-then-read round: add a seeded batch of new corpus rows,
    share the new segments with GROUP, then READ_CYCLES selective cycles
    of reads.
    With ``access``, two more searches (a mid term, a mid pair) run with
    the access filter for GROUP."""
    mid = bands["mid"]
    # new rows come from a seeded window of the (prefix-stable) corpus
    # beyond the base rows, so every seed adds different documents
    lo = base_rows + (seed % 1000 * n_rounds + r) * add_rows
    reqs = [
        {"kind": "add", "rows": [lo, lo + add_rows],
         "batch_id": f"perfbench-{seed}-{r}"},
        {"kind": "share", "group": GROUP},
    ]
    for _ in range(READ_CYCLES):
        reqs += _selective_cycle(rng, bands, fits)
    if access:
        # one mid term: a few of the documents shared so far match it, so
        # the expected total is not zero
        reqs += [
            _rpc_search(rng.choice(mid), relevance=True, start=0, count=20,
                        post={"skip_data": 1}, access=True),
            _rpc_search(" ".join(rng.sample(mid, 2)), relevance=False,
                        start=0, count=50, post={"ids_only": 1}, access=True),
        ]
    return reqs


# search_selective and ingest_access are not in BENCHMARK.json: the
# first is the read half of ingest_mixed, the second fails on the
# access-filter schema defect (see README.md)
WORKLOADS = ("search_selective", "search_broad", "ingest_mixed",
             "ingest_access")


def make_cycles(workload: str, seed: int, bands: Mapping[str, list[str]],
                n_cycles: int, langs: list[str] | None = None,
                base_rows: int = 0, add_rows: int = 0,
                fits=None) -> list[list[dict]]:
    """n_cycles cycles of requests for one workload and seed. ``fits(query,
    count)`` says whether a query's AND match set fits a page of count
    rows (None: every query fits)."""
    rng = random.Random(f"{workload}:{seed}")
    langs = sorted(langs or [])
    fits = fits or (lambda query, count: True)
    cycles = []
    for r in range(n_cycles):
        if workload == "search_selective":
            cycles.append(_selective_cycle(rng, bands, fits))
        elif workload == "search_broad":
            cycles.append(_broad_cycle(rng, bands, langs))
        elif workload in ("ingest_mixed", "ingest_access"):
            cycles.append(
                _ingest_round(rng, bands, fits, seed, r, n_cycles, base_rows,
                              add_rows, access=workload == "ingest_access")
            )
        else:
            raise ValueError(f"unknown workload {workload!r}")
    return cycles


def df_sum(request: dict, df: Mapping[str, int]) -> int:
    """Posting volume of a query: the summed df of its distinct terms."""
    return sum(df.get(t, 0) for t in set(request["query"].split()))
