"""The per-segment query kernels: AND and OR top-k over the block directory.

The reference hands conjunctive `match` and top-k to Lucene inside
Elasticsearch, which runs skip-list intersection and block-max WAND over
one block-encoded postings format (ElasticIndexingStorage.java:1364-1375;
SURVEY §4). Here both are from scratch, and they are the engine's only
scorers: topk.py ships every segment's query postings to
``and_topk_segment`` (mode "and") or ``wand_topk_segment`` (mode "or"),
scored or match-only, ranked or exhaustive.

Block directory. Posting blobs stay raw bytes; the per-block byte
offsets stored at encode time (codec.encode_grouped block_*_off) locate
each 128-posting block's slice, and a block is varint-decoded only when
a kernel touches it (the Lucene skip-list analog). Absolute doc ids of
block j recover from block_last[j-1] + cumsum(gaps) — no prefix decode.
Both kernels count decoded and total bytes and blocks in ``stats``.

AND: the rarest term is decoded in full and becomes the candidate list;
every other term decodes only the blocks a surviving candidate can fall
in (searchsorted over block_last).

OR with a k: a *block-interval sweep* instead of the classic
one-doc-at-a-time WAND loop (pointer-chasing — hostile to numpy):

 1. Every posting block contributes an interval [start_doc, last_doc]
    with upper bound ub = idf(t) * block_max_tf_norm (stored at build
    time, indexer.py).
 2. Doc space is cut at all block boundaries into elementary intervals;
    each interval's total upper bound = Σ_t ub of the overlapping block
    of t (0 if t has no block there).
 3. Intervals are processed in DESCENDING total-ub order; each interval's
    docs are exactly scored and merged into a tie-aware top-k. As soon as
    the next interval's ub is below the current θ (k-th best score),
    everything left is provably below the floor — stop.

This is the block-max WAND guarantee (never skips a doc that could enter
the top-k) with batch-friendly inner loops, and it skips BYTES: on a
stopword OR query most of the stopword's blocks are never decoded. OR
without a k (every match scored) or without scores (the match set only)
decodes every block.

Score contract: idfs is keyed by term_hash and its insertion order is
the sorted-term order of the query; every per-doc sum is reduced in that
order, so scores are bit-identical at any parallelism. The eager
full-decode scorer these kernels replaced is kept as the reference in
tests/kernel_reference.py: tests assert AND bit-identical to it and OR
within 1e-9.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.bm25 import tf_norm
from ..functions.codec import varint_decode


class _LazyTermPostings:
    """One query term's posting rows (possibly split across build
    partitions — disjoint ordered doc ranges), indexed for per-block
    decode. Only metadata arrays are materialized up front; payload bytes
    are sliced and decoded per block, memoized."""

    __slots__ = (
        "rows", "block_row", "block_local", "block_last", "block_start",
        "ub", "n_blocks", "_cache", "stats", "need_payload",
    )

    def __init__(
        self,
        rows: list[dict],
        avgdl: float,
        idf: float,
        stats: dict,
        need_payload: bool = True,
    ):
        # need_payload=False: intersection-only callers (non-relevance
        # pages, counts) never read tf/dl — those byte streams are not
        # even sliced, let alone decoded
        self.need_payload = need_payload
        # rows sorted by first block_last (disjoint doc ranges)
        rows = sorted(rows, key=lambda r: int(r["block_last"][0]))
        self.rows = rows
        self.stats = stats
        block_row, block_local, last_l, ub_l = [], [], [], []
        for ri, r in enumerate(rows):
            bl = np.asarray(r["block_last"], dtype=np.int64)
            block_row.append(np.full(len(bl), ri, dtype=np.int64))
            block_local.append(np.arange(len(bl), dtype=np.int64))
            last_l.append(bl)
            if need_payload:
                # block upper bounds (used by the OR-path WAND sweep
                # only). Match-only callers arrive on a column-pruned
                # frame that carries neither the tf/dl byte streams nor
                # their block metadata (topk projects them out of the
                # parquet scan) — and never reads ub.
                bmax = np.asarray(r["block_max_tf"], dtype=np.float64)
                bmin = np.asarray(r["block_min_dl"], dtype=np.float64)
                ub_l.append(idf * tf_norm(bmax, bmin, avgdl))
                stats["total_bytes"] += (
                    len(r["doc_ids"]) + len(r["tfs"]) + len(r["dls"])
                )
            else:
                ub_l.append(np.zeros(len(bl), dtype=np.float64))
                stats["total_bytes"] += len(r["doc_ids"]) + (
                    len(r["tfs"]) + len(r["dls"])
                    if "tfs" in r else 0
                )
            stats["total_blocks"] += len(bl)
        self.block_row = np.concatenate(block_row)
        self.block_local = np.concatenate(block_local)
        self.block_last = np.concatenate(last_l)
        self.ub = np.concatenate(ub_l)
        self.n_blocks = len(self.block_last)
        # conservative block starts: previous block's last + 1 (0 for the
        # very first block — a valid lower bound; looser only for the ub
        # coverage test, never for scoring, which decodes exact ids)
        self.block_start = np.empty(self.n_blocks, dtype=np.int64)
        self.block_start[0] = 0
        self.block_start[1:] = self.block_last[:-1] + 1
        self._cache: dict = {}

    def _slice(self, blob: bytes, offs, j: int) -> bytes:
        lo = int(offs[j])
        hi = int(offs[j + 1]) if j + 1 < len(offs) else len(blob)
        return blob[lo:hi]

    def decode_block(self, b: int):
        """(ids, tfs, dls) of global block b — decoded on first touch."""
        hit = self._cache.get(b)
        if hit is not None:
            return hit
        ri = int(self.block_row[b])
        j = int(self.block_local[b])
        r = self.rows[ri]
        doc_b = self._slice(bytes(r["doc_ids"]), r["block_doc_off"], j)
        gaps = varint_decode(doc_b).astype(np.int64)
        ids = np.cumsum(gaps)
        if j > 0:
            # first gap of a non-first block is relative to the previous
            # block's last doc (delta stream is contiguous per row)
            ids += int(r["block_last"][j - 1])
        if self.need_payload:
            tf_b = self._slice(bytes(r["tfs"]), r["block_tf_off"], j)
            dl_b = self._slice(bytes(r["dls"]), r["block_dl_off"], j)
            out = (
                ids,
                varint_decode(tf_b).astype(np.float64),
                varint_decode(dl_b).astype(np.float64),
            )
        else:
            tf_b = dl_b = b""
            out = (ids, None, None)
        self.stats["decoded_bytes"] += len(doc_b) + len(tf_b) + len(dl_b)
        self.stats["decoded_blocks"] += 1
        self._cache[b] = out
        return out

    def decode(self, blocks=None):
        """(ids, tfs, dls) over the given ascending blocks (all when None),
        concatenated — blocks are doc-ordered, so ids stay sorted. tfs and
        dls are None without the payload."""
        if blocks is None:
            blocks = range(self.n_blocks)
        parts = [self.decode_block(int(b)) for b in blocks]
        ids = np.concatenate([p[0] for p in parts])
        if not self.need_payload:
            return ids, None, None
        return (ids, np.concatenate([p[1] for p in parts]),
                np.concatenate([p[2] for p in parts]))


# ---------------------------------------------------------- shared steps


def _empty(scores: bool) -> pd.DataFrame:
    cols = {"doc_id": pd.Series([], dtype="int64")}
    if scores:
        cols["score"] = pd.Series([], dtype="float64")
    return pd.DataFrame(cols)


def _lazy_terms(
    pdf: pd.DataFrame,
    idfs: dict[int, float],
    avgdl: float,
    stats: dict | None,
    need_payload: bool,
) -> tuple[dict[int, _LazyTermPostings], dict]:
    """The query terms present in this segment, in idfs order, each over
    its posting rows (a (segment, term) posting can be split across build
    partitions, so one term may carry several rows), plus the stats dict
    with its counters initialized."""
    if stats is None:
        stats = {}
    for key in ("decoded_bytes", "total_bytes", "decoded_blocks",
                "total_blocks"):
        stats.setdefault(key, 0)
    by_term: dict[int, list] = {}
    for _, row in pdf.iterrows():
        if len(row["block_last"]):
            by_term.setdefault(row["term_hash"], []).append(row)
    lazy = {
        t: _LazyTermPostings(by_term[t], avgdl, idfs[t], stats, need_payload)
        for t in idfs if t in by_term
    }
    return lazy, stats


def _or_sum(
    ids: list[np.ndarray], contribs: list[np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc sums of the terms' contributions. The lists are in idfs
    order and the stable argsort keeps that order within a doc, so each
    sum is reduced in sorted-term order."""
    cat = np.concatenate(ids)
    con = np.concatenate(contribs)
    o = np.argsort(cat, kind="stable")
    cat, con = cat[o], con[o]
    starts = np.flatnonzero(np.concatenate(([True], cat[1:] != cat[:-1])))
    return cat[starts], np.add.reduceat(con, starts)


def _tie_cut(
    docs: np.ndarray, scores: np.ndarray, k: int | None
) -> tuple[np.ndarray, np.ndarray]:
    """The k best scores plus every doc tied with the k-th: a tied doc
    dropped here could be the deterministic (doc_id asc) winner of the
    k-th slot."""
    if k is None or docs.size <= k:
        return docs, scores
    part = np.argpartition(-scores, k - 1)
    keep = scores >= scores[part[k - 1]]
    return docs[keep], scores[keep]


def _ranked(docs: np.ndarray, scores: np.ndarray, k: int | None) -> pd.DataFrame:
    """≤k (doc_id, score) rows, score desc / doc_id asc (all when k is
    None)."""
    docs, scores = _tie_cut(docs, scores, k)
    o = np.lexsort((docs, -scores))[:k]
    return pd.DataFrame({"doc_id": docs[o], "score": scores[o]})


# --------------------------------------------------------------- kernels


def and_topk_segment(
    pdf: pd.DataFrame,
    idfs: dict[int, float],
    avgdl: float,
    k: int | None,
    scores: bool = True,
    stats: dict | None = None,
) -> pd.DataFrame:
    """Conjunctive (AND) match with block-granularity skipping — the
    skip-list intersection Lucene runs for ``operator:"and"`` queries.

    The rarest term (fewest blocks) is decoded in full and becomes the
    candidate list; every OTHER term then decodes ONLY the blocks a
    surviving candidate can fall in. A stopword AND a rare term decodes
    the rare list plus a handful of the stopword's blocks.

    k=None returns every match, ranked. scores=False (match-only:
    non-relevance pages, counts) skips the tf/dl streams entirely and
    returns just the doc_id column.
    """
    lazy, stats = _lazy_terms(pdf, idfs, avgdl, stats, scores)
    if len(lazy) < len(idfs):
        return _empty(scores)  # a query term absent from this segment

    order_terms = sorted(lazy, key=lambda t: lazy[t].n_blocks)
    decoded = {order_terms[0]: lazy[order_terms[0]].decode()}
    cand = decoded[order_terms[0]][0]
    for t in order_terms[1:]:
        tp = lazy[t]
        bi = np.searchsorted(tp.block_last, cand)
        needed = np.unique(bi[bi < tp.n_blocks])
        if needed.size == 0:
            return _empty(scores)
        decoded[t] = tp.decode(needed)
        ids = decoded[t][0]
        pos = np.minimum(np.searchsorted(ids, cand), len(ids) - 1)
        cand = cand[ids[pos] == cand]
        if cand.size == 0:
            return _empty(scores)

    if not scores:
        return pd.DataFrame({"doc_id": cand})
    score = np.zeros(cand.size, dtype=np.float64)
    for t in idfs:  # idfs order = sorted-term order (score contract)
        ids, tfs, dls = decoded[t]
        pos = np.searchsorted(ids, cand)
        score += idfs[t] * tf_norm(tfs[pos], dls[pos], avgdl)
    return _ranked(cand, score, k)


def wand_topk_segment(
    pdf: pd.DataFrame,
    idfs: dict[int, float],
    avgdl: float,
    k: int | None,
    stats: dict | None = None,
    scores: bool = True,
) -> pd.DataFrame:
    """Disjunctive (OR) match for one segment's query postings.

    With a k, the block-max sweep returns ≤k (doc_id, score) rows, score
    desc / doc_id asc. k=None (every match, ranked) and scores=False (the
    match set's doc_ids only, tf/dl never read) decode every block.
    """
    lazy, stats = _lazy_terms(pdf, idfs, avgdl, stats, scores)
    if not lazy:
        return _empty(scores)
    terms = [(tp, idfs[t]) for t, tp in lazy.items()]

    if k is None or not scores:
        full = [(tp.decode(), idf) for tp, idf in terms]
        if not scores:
            return pd.DataFrame(
                {"doc_id": np.unique(np.concatenate([d[0] for d, _ in full]))}
            )
        docs, score = _or_sum(
            [d[0] for d, _ in full],
            [idf * tf_norm(d[1], d[2], avgdl) for d, idf in full],
        )
        return _ranked(docs, score, None)

    # elementary intervals: cut doc space at every block boundary
    cuts = np.unique(
        np.concatenate(
            [tp.block_start for tp, _ in terms]
            + [tp.block_last + 1 for tp, _ in terms]
        )
    )
    lo = cuts[:-1]
    hi = cuts[1:] - 1  # inclusive
    total_ub = np.zeros(lo.shape, dtype=np.float64)
    for tp, _ in terms:
        bl, starts, ub = tp.block_last, tp.block_start, tp.ub
        # block covering interval i: first block with last_doc >= lo_i
        bi = np.searchsorted(bl, lo)
        safe = np.minimum(bi, len(bl) - 1)
        valid = (bi < len(bl)) & (starts[safe] <= hi)
        total_ub += np.where(valid, ub[safe], 0.0)

    order = np.argsort(-total_ub, kind="stable")

    top_docs = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    for i in order:
        if total_ub[i] <= 0:
            break
        # strict margin: an interval whose bound ties θ could still hold a
        # lower-doc_id tie for k-th place, and float sums can differ by an
        # ulp — only skip when provably below the floor
        if len(top_docs) >= k and total_ub[i] < theta - 1e-9:
            break
        a, b = int(lo[i]), int(hi[i])
        # exact OR-scoring of docs in [a, b]: decode ONLY the covering
        # block of each term (intervals are elementary — within one block)
        ids_all, contrib_all = [], []
        for tp, idf in terms:
            bi = int(np.searchsorted(tp.block_last, a))
            if bi >= tp.n_blocks or tp.block_start[bi] > b:
                continue
            ids, tfs, dls = tp.decode_block(bi)
            s = int(np.searchsorted(ids, a, side="left"))
            e = int(np.searchsorted(ids, b, side="right"))
            if e > s:
                ids_all.append(ids[s:e])
                contrib_all.append(idf * tf_norm(tfs[s:e], dls[s:e], avgdl))
        if not ids_all:
            continue
        docs, score = _or_sum(ids_all, contrib_all)
        top_docs, top_scores = _tie_cut(
            np.concatenate([top_docs, docs]),
            np.concatenate([top_scores, score]),
            k,
        )
        if len(top_docs) >= k:
            theta = float(top_scores.min())

    if top_docs.size == 0:
        return _empty(scores)
    return _ranked(top_docs, top_scores, k)
