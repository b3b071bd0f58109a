"""Expected answers from the brute-force oracle, and the answer check.

The oracle is ``kbasesearchengine_spark.oracle``: a pure-Python BM25 over
the documents' text, independent of the index. ``Oracle`` adds the
document metadata the RPC filters read (lang, and which documents the
benchmark shared with its group) and grows with incremental adds, so an
expected answer always reflects the index state a request runs against.
"""

from __future__ import annotations

import math
from collections import Counter

from kbasesearchengine_spark.oracle import (
    OracleIndex,
    build_oracle_index,
    oracle_topk,
)

SCORE_REL_TOL = 1e-9


class Oracle:
    def __init__(self, rows: list[tuple[int, str, str]]):
        """rows: (doc_id, content, lang)."""
        self.idx = build_oracle_index([(d, c) for d, c, _ in rows])
        self.lang = {d: lang for d, _, lang in rows}
        self.shared: set[int] = set()
        self._matches: dict = {}

    def extend(self, rows: list[tuple[int, str, str]]) -> None:
        """Fold newly added documents into the oracle (an incremental add)."""
        new = build_oracle_index([(d, c) for d, c, _ in rows])
        old = self.idx
        dls = old.dls + new.dls
        self.idx = OracleIndex(
            doc_ids=old.doc_ids + new.doc_ids,
            tfs=old.tfs + new.tfs,
            dls=dls,
            n_docs=len(dls),
            avgdl=sum(dls) / len(dls),
            df=old.df + new.df,
        )
        self.lang.update((d, lang) for d, _, lang in rows)
        self._matches.clear()

    def matches(self, query: str, mode: str) -> list[tuple[int, float]]:
        """Every matching document, BM25 desc then doc_id asc."""
        key = (query, mode)
        if key not in self._matches:
            self._matches[key] = oracle_topk(
                self.idx, query, k=self.idx.n_docs, mode=mode
            )
        return self._matches[key]

    def expect(self, req: dict) -> dict:
        kind = req["kind"]
        if kind == "topk":
            return {"hits": oracle_topk(self.idx, req["query"], req["k"],
                                        req["mode"])}
        params = req["params"]
        hits = self.matches(req["query"], req["mode"])
        lang = (params["match_filter"].get("lookup_in_keys") or {}).get("lang")
        if lang is not None:
            hits = [h for h in hits if self.lang[h[0]] == lang["value"]]
        if "access_filter" in params:
            hits = [h for h in hits if h[0] in self.shared]
        if kind == "search_types":
            return {"type_to_count": dict(Counter(self.lang[d] for d, _ in hits))}
        if not params.get("sorting_rules"):
            hits = sorted(hits, key=lambda h: h[0])
        pag = params["pagination"]
        page = hits[pag["start"]:pag["start"] + pag["count"]]
        return {"total": len(hits), "guids": [d for d, _ in page]}


def compare(req: dict, expected: dict, got) -> str | None:
    """None when ``got`` is the expected answer, else why it is not.

    got: the JSON-RPC response envelope for RPC requests, the collected
    (doc_id, score) rows for library top-k requests."""
    kind = req["kind"]
    if kind == "topk":
        want = expected["hits"]
        if [d for d, _ in got] != [d for d, _ in want]:
            return (f"top-k doc_ids {[d for d, _ in got]} != oracle "
                    f"{[d for d, _ in want]}")
        for (d, s), (_, w) in zip(got, want):
            if not math.isclose(s, w, rel_tol=SCORE_REL_TOL, abs_tol=1e-12):
                return f"doc {d} score {s!r} != oracle {w!r}"
        return None
    if "error" in got:
        return f"JSON-RPC error: {got['error'].get('message')}"
    result = got["result"][0]
    if kind == "search_types":
        if result["type_to_count"] != expected["type_to_count"]:
            return (f"type_to_count {result['type_to_count']} != oracle "
                    f"{expected['type_to_count']}")
        return None
    if result["total"] != expected["total"]:
        return f"total {result['total']} != oracle {expected['total']}"
    guids = [o["guid"] for o in result["objects"]]
    if guids != expected["guids"]:
        return f"guids {guids} != oracle {expected['guids']}"
    return None
