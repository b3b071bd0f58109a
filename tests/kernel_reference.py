"""Eager full-decode BM25 scorer: the reference the block-directory
kernels (operators/wand.py) are checked against.

It decodes every posting row of a segment in full, intersects (AND) or
sums (OR) the whole lists, and keeps a tie-aware top-k. No block
directory, no skipping: slow and obviously correct. The engine itself
never runs it.
"""

import numpy as np
import pandas as pd

from kbasesearchengine_spark.functions.bm25 import tf_norm
from kbasesearchengine_spark.functions.codec import delta_decode, varint_decode


def eager_segment_topk(
    pdf: pd.DataFrame,
    idfs: dict[int, float],
    avgdl: float,
    k: int | None,
    mode: str,
) -> pd.DataFrame:
    """Score one segment's query postings. idfs is keyed by term_hash in
    sorted-term order, the order each doc's score is summed in. Returns
    ≤k (doc_id, score) rows, score desc / doc_id asc."""
    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                          "score": pd.Series([], dtype="float64")})
    # a (segment, term) posting can be split across build partitions
    # (disjoint, ordered doc ranges) — merge duplicate term rows
    parts: dict[int, list] = {}
    for _, row in pdf.iterrows():
        parts.setdefault(row["term_hash"], []).append(
            (
                delta_decode(bytes(row["doc_ids"])).astype(np.int64),
                varint_decode(bytes(row["tfs"])).astype(np.float64),
                varint_decode(bytes(row["dls"])).astype(np.float64),
            )
        )
    decoded = {}
    for t, ps in parts.items():
        ps.sort(key=lambda p: int(p[0][0]) if len(p[0]) else 0)
        decoded[t] = tuple(np.concatenate([p[i] for p in ps]) for i in range(3))
    qterms = [h for h in idfs if h in decoded and len(decoded[h][0])]
    if not qterms or (mode == "and" and len(qterms) < len(idfs)):
        return empty

    if mode == "and":
        # intersect starting from the rarest list
        cand = decoded[min(qterms, key=lambda t: len(decoded[t][0]))][0]
        for t in qterms:
            ids = decoded[t][0]
            pos = np.minimum(np.searchsorted(ids, cand), len(ids) - 1)
            cand = cand[ids[pos] == cand]
        score = np.zeros(cand.size, dtype=np.float64)
        for t in qterms:
            ids, tfs, dls = decoded[t]
            pos = np.searchsorted(ids, cand)
            score += idfs[t] * tf_norm(tfs[pos], dls[pos], avgdl)
        docs = cand
    else:
        ids = np.concatenate([decoded[t][0] for t in qterms])
        contrib = np.concatenate(
            [idfs[t] * tf_norm(decoded[t][1], decoded[t][2], avgdl)
             for t in qterms]
        )
        order = np.argsort(ids, kind="stable")
        ids, contrib = ids[order], contrib[order]
        starts = np.flatnonzero(np.concatenate(([True], ids[1:] != ids[:-1])))
        docs = ids[starts]
        score = np.add.reduceat(contrib, starts)

    if docs.size == 0:
        return empty
    if k is not None and docs.size > k:
        # keep every doc tied with the k-th score, so the lexsort below
        # resolves boundary ties by doc_id asc
        kth = score[np.argpartition(-score, k - 1)[k - 1]]
        keep = score >= kth
        docs, score = docs[keep], score[keep]
    order = np.lexsort((docs, -score))[:k]
    return pd.DataFrame({"doc_id": docs[order], "score": score[order]})
