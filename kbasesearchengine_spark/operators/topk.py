"""BM25 top-k query: the engine's read path.

Replaces the reference's query hand-off to Elasticsearch
(ElasticIndexingStorage.java:1486-1576 builds ES DSL; ES/Lucene executes).
Semantics pinned by the reference:
 - conjunctive AND full-text match (`operator: "and"`,
   ElasticIndexingStorage.java:1364-1375; testMultiwordSearch)
 - top-k by BM25 desc; deterministic tie-break doc_id asc (SURVEY §2.7 O5)

Physical plan (scales by segment — the per-doc-range shard analog):

  postings parquet ──filter term ∈ query (parquet pushdown)──►
  groupBy(segment) applyInPandas(segment_topk)   [numpy: decode + intersect
      + score + bounded heap; block-max skipping]──►
  global orderBy(score desc, doc_id).limit(k)    [k rows per segment only]
  ──► broadcast-join docs for hydration

Scores are computed per (term, doc) from scalars and summed over ≤ a few
query terms — reduction order is fixed (sorted term order), so scores are
bit-identical at any parallelism.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import idf as bm25_idf
from ..functions.bm25 import tf_norm
from ..functions.codec import delta_decode, varint_decode
from ..functions.hashing import term_hash
from ..functions.tokenize import tokenize_py, tokenize_udf
from . import store


# ------------------------------------------------------------ index handle


class InvertedIndex:
    """Read handle over an index directory written by IndexBuilder.

    DataFrame handles are memoized — repeated queries reuse the analyzed
    relation (file listing cached JVM-side); call ``refresh()`` after a
    new segment commit (the reference's refreshIndex, S6)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self._dfs: dict[str, DataFrame] = {}
        self.stats = store.read_stats(index_dir)
        # fail FAST on a layout mismatch — a pre-v4 index lacks the
        # term_hash key and the block byte offsets the lazy WAND decode
        # needs, and would otherwise die deep inside query execution
        # with an opaque KeyError
        from .indexer import FORMAT_VERSION

        got = self.stats.get("format_version")
        if got != FORMAT_VERSION:
            raise ValueError(
                f"index at {index_dir!r} has format_version={got!r}; this "
                f"reader needs {FORMAT_VERSION}. Rebuild the index "
                "(IndexBuilder.build) — on-disk layouts are not migrated."
            )

    def _tbl(self, name: str) -> DataFrame:
        if name not in self._dfs:
            self._dfs[name] = self.spark.read.parquet(
                os.path.join(self.index_dir, name)
            )
        return self._dfs[name]

    def refresh(self) -> None:
        self._dfs.clear()
        self.stats = store.read_stats(self.index_dir)

    @property
    def docs(self) -> DataFrame:
        return self._tbl("docs")

    @property
    def postings(self) -> DataFrame:
        return self._tbl("postings")

    @property
    def terms(self) -> DataFrame:
        """Global term dictionary (term_hash, df). Each incremental add
        writes its df contribution to its own terms/batch=N partition
        (O(new) commits); the global df is the lazy sum — a hash-filter
        predicate pushes below this aggregate to the parquet scan
        (grouping-key pushdown), so point lookups stay pruned. Keys are
        int64 xxhash64 term hashes (v4 layout) — query strings are hashed
        driver-side by the Spark-compatible XXH64 (functions/hashing.py),
        no extra Spark job."""
        t = self._tbl("terms")
        if "batch" in t.columns:
            t = t.groupBy("term_hash").agg(F.sum("df").alias("df"))
        return t

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Per-term global df for a handful of query terms.

        Driver-side pyarrow point lookup — no Spark job at all (the
        Lucene analog reads its term dictionary locally too). The terms
        files are written hash-sorted (indexer sortWithinPartitions), so
        parquet row-group min/max statistics prune the read to ~1 row
        group per file, and only the (term_hash, df) columns are decoded.
        The ≤ terms×batches hits are summed driver-side. Falls back to
        the former exchange-free Spark scan when the directory is not
        readable through pyarrow (non-local index stores)."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        hashes = {term_hash(t): t for t in terms}
        try:
            tbl = pads.dataset(
                os.path.join(self.index_dir, "terms"),
                format="parquet",
                partitioning="hive",
            ).to_table(
                columns=["term_hash", "df"],
                filter=pads.field("term_hash").isin(list(hashes)),
            )
            hits = zip(
                tbl.column("term_hash").to_pylist(),
                tbl.column("df").to_pylist(),
            )
        except (OSError, pa.lib.ArrowInvalid):
            rows = (
                self._tbl("terms")
                .where(F.col("term_hash").isin(list(hashes)))
                .select("term_hash", "df")
                .collect()
            )
            hits = ((r["term_hash"], r["df"]) for r in rows)
        out: dict[str, int] = {}
        for h, d in hits:
            t = hashes[h]
            out[t] = out.get(t, 0) + int(d)
        return out

    def field_index(self, field: str) -> "InvertedIndex":
        """Field-scoped sub-index (P5): per-field postings + per-field
        BM25 stats under <index_dir>/fields/<field> (built by
        indexer.build_field_index); doc_ids shared with the primary."""
        key = f"field:{field}"
        if key not in self._dfs:
            # memoize the handle object itself on the dfs dict (same
            # lifecycle: dropped on refresh())
            self._dfs[key] = InvertedIndex(
                self.spark, os.path.join(self.index_dir, "fields", field)
            )
        return self._dfs[key]

    def has_sub_index(self) -> bool:
        return store.is_index(os.path.join(self.index_dir, "sub"))

    def sub_index(self) -> "InvertedIndex":
        """The physical `*_sub` child index (U2; ElasticIndexingStorage.
        java:297-302 naming) built by indexer.build_sub_index from the
        spec's sub-object-path: child documents with their OWN postings
        and BM25 statistics. Default searches never touch it — child
        postings are structurally excluded; pass include_subobjects to
        the facade (or use this handle) to search them."""
        key = "sub:"
        if key not in self._dfs:
            self._dfs[key] = InvertedIndex(
                self.spark, os.path.join(self.index_dir, "sub")
            )
        return self._dfs[key]


# ------------------------------------------------------- segment-local kernel


def _segment_topk_kernel(
    pdf: pd.DataFrame,
    idfs: dict[int, float],
    avgdl: float,
    k: int,
    mode: str,
    allowed: np.ndarray | None = None,
    use_wand: bool = True,
    scores: bool = True,
    stats: dict | None = None,
) -> pd.DataFrame:
    """Score one segment's postings for the query terms. Vectorized numpy.

    pdf: posting rows (term_hash, doc_ids, tfs, dls, ...) — one row per
    term (within one segment). idfs is keyed by term_hash and its
    INSERTION ORDER is the term-lexicographic order of the query terms —
    that order pins the float reduction order (score contract: summed in
    sorted-term order, bit-identical at any parallelism). Returns ≤k
    (doc_id, score) rows.

    scores=False (requires k=None): intersection/union-only — emit the
    matching doc_ids without any BM25 math or tf/dl decode (the
    reference's DEFAULT non-relevance page order never reads a score,
    ElasticIndexingStorage.java:1498-1501).
    """
    terms = list(pdf["term_hash"])
    n_terms = len(idfs)
    if scores:
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                              "score": pd.Series([], dtype="float64")})
    else:
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
    if mode == "and" and len(set(terms)) < n_terms:
        return empty  # some query term absent from this segment
    if mode == "and" and use_wand and "block_last" in pdf.columns:
        # block-granularity skip-list intersection (lazy byte decode)
        from .wand import and_topk_segment

        return and_topk_segment(
            pdf, idfs, avgdl, k, allowed=allowed, scores=scores,
            stats=stats,
        )
    if (
        mode == "or"
        and use_wand
        and scores
        and k is not None
        and allowed is None
        and "block_last" in pdf.columns
    ):
        from .wand import wand_topk_segment

        return wand_topk_segment(pdf, idfs, avgdl, k, stats=stats)
    if not scores:
        # union-only OR (and the no-block-metadata AND fallback): decode
        # doc streams only, never tf/dl
        parts_ids: dict[int, list] = {}
        for _, row in pdf.iterrows():
            parts_ids.setdefault(row["term_hash"], []).append(
                delta_decode(bytes(row["doc_ids"])).astype(np.int64)
            )
        per_term = []
        for t in idfs:
            ps = parts_ids.get(t)
            if ps is None:
                continue
            ps.sort(key=lambda a: int(a[0]) if len(a) else 0)
            per_term.append(np.concatenate(ps) if len(ps) > 1 else ps[0])
        if not per_term:
            return empty
        if mode == "and":
            per_term.sort(key=len)
            cand = per_term[0]
            for ids in per_term[1:]:
                pos = np.searchsorted(ids, cand)
                pos = np.minimum(pos, len(ids) - 1)
                cand = cand[ids[pos] == cand]
                if cand.size == 0:
                    return empty
        else:
            cand = np.unique(np.concatenate(per_term))
        if allowed is not None:
            if len(allowed):
                pos = np.searchsorted(allowed, cand)
                pos = np.minimum(pos, len(allowed) - 1)
                cand = cand[allowed[pos] == cand]
            else:
                cand = cand[:0]
        return pd.DataFrame({"doc_id": cand})
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
        if len(ps) == 1:
            decoded[t] = ps[0]
        else:
            ps.sort(key=lambda p: int(p[0][0]) if len(p[0]) else 0)
            decoded[t] = tuple(
                np.concatenate([p[i] for p in ps]) for i in range(3)
            )
    # fixed reduction order: idfs insertion order = sorted-term order
    qterms = [h for h in idfs if h in decoded]
    if not qterms:
        # cogrouped segments can have allowed docs but zero query-term
        # posting rows — nothing to score (OR path would otherwise hit
        # np.concatenate([]) below)
        return empty

    if mode == "and":
        # intersect starting from the rarest list (galloping via searchsorted)
        qterms_by_df = sorted(qterms, key=lambda t: len(decoded[t][0]))
        cand = decoded[qterms_by_df[0]][0]
        for t in qterms_by_df[1:]:
            ids = decoded[t][0]
            pos = np.searchsorted(ids, cand)
            pos = np.minimum(pos, len(ids) - 1)
            cand = cand[ids[pos] == cand]
            if cand.size == 0:
                return empty
        if allowed is not None:
            pos = np.searchsorted(allowed, cand)
            pos = np.minimum(pos, max(len(allowed) - 1, 0))
            cand = cand[allowed[pos] == cand] if len(allowed) else cand[:0]
            if cand.size == 0:
                return empty
        score = np.zeros(cand.size, dtype=np.float64)
        for t in qterms:
            ids, tfs, dls = decoded[t]
            pos = np.searchsorted(ids, cand)
            score += idfs[t] * tf_norm(tfs[pos], dls[pos], avgdl)
        docs_arr = cand
    else:  # "or": exhaustive vectorized doc-at-a-time (WAND variant separate)
        all_ids, all_contrib = [], []
        for t in qterms:
            ids, tfs, dls = decoded[t]
            all_ids.append(ids)
            all_contrib.append(idfs[t] * tf_norm(tfs, dls, avgdl))
        ids = np.concatenate(all_ids)
        contrib = np.concatenate(all_contrib)
        order = np.argsort(ids, kind="stable")
        ids, contrib = ids[order], contrib[order]
        starts = np.flatnonzero(np.concatenate(([True], ids[1:] != ids[:-1])))
        docs_arr = ids[starts]
        score = np.add.reduceat(contrib, starts)
        if allowed is not None:
            if len(allowed):
                pos = np.searchsorted(allowed, docs_arr)
                pos = np.minimum(pos, len(allowed) - 1)
                keep = allowed[pos] == docs_arr
            else:
                keep = np.zeros(docs_arr.shape, dtype=bool)
            docs_arr, score = docs_arr[keep], score[keep]

    if docs_arr.size == 0:
        return empty
    if k is not None and docs_arr.size > k:
        # tie-aware selection: keep every doc tied with the k-th score so
        # the lexsort below resolves boundary ties by doc_id asc (the
        # pinned deterministic order), not argpartition's arbitrary pick
        part = np.argpartition(-score, k - 1)
        kth = score[part[k - 1]]
        keep = score >= kth
        docs_arr, score = docs_arr[keep], score[keep]
    order = np.lexsort((docs_arr, -score))
    if k is not None:
        order = order[:k]
    return pd.DataFrame({"doc_id": docs_arr[order], "score": score[order]})


# ------------------------------------------------------------- main entry

# doc_filter strategy cutover: when the scored candidate set is (by df
# bound) at most this many rows, score postings WITHOUT the filter and
# broadcast the candidates to the predicate-pruned docs scan — the
# exchange then carries ≤ this many (doc_id, score) pairs instead of the
# full filtered doc set (which at 10^12 docs and a low-selectivity
# predicate like lang='en' would ship ~10^11 rows per query). Above the
# bound (stopword-ish queries), fall back to the per-segment cogroup.
FILTER_CANDIDATE_MAX = 2_000_000


def _segment_scorer(
    idfs: dict[int, float],
    avgdl: float,
    k: int | None,
    mode: str,
    scores: bool,
    cogroup: bool = False,
):
    """The per-segment scoring closure every query plan ships to its
    tasks. PySpark picks the call shape from the closure's arity, so it
    comes in two: ``f(postings)`` for groupBy(segment).applyInPandas, and
    with cogroup=True ``f(postings, allowed_docs)`` for the doc-filter
    cogroup. The query state is a few dozen bytes and rides in the task
    closure — a sc.broadcast here paid a driver round trip per query for
    nothing."""
    if not cogroup:
        def score(pdf: pd.DataFrame) -> pd.DataFrame:
            return _segment_topk_kernel(
                pdf, idfs, avgdl, k, mode, scores=scores
            )

        return score

    def score_allowed(pdf: pd.DataFrame, docs: pd.DataFrame) -> pd.DataFrame:
        allowed = np.sort(docs["doc_id"].to_numpy(dtype=np.int64))
        return _segment_topk_kernel(
            pdf, idfs, avgdl, k, mode, allowed, scores=scores
        )

    return score_allowed


def topk(
    index: InvertedIndex,
    query: str,
    k: int | None = 10,
    mode: str = "and",
    doc_filter=None,
    hydrate: bool = True,
    scores: bool = True,
) -> DataFrame:
    """BM25 top-k over the inverted index.

    doc_filter: optional Column predicate over the docs table (the
    reference's non-scoring filter context, ElasticIndexingStorage.java:
    1321-1325); applied BEFORE ranking via a per-segment allowed-doc list.
    k=None returns ALL matching docs scored (match-only mode, no ranking
    cut) — used for counts/aggregations over the match set.
    scores=False (requires k=None, hydrate=False): return matching
    doc_ids WITHOUT computing BM25 — no idf math, and the tf/dl posting
    byte streams are never decoded. This is the plan for the reference's
    default non-relevance page order and for hits.total counts
    (ElasticIndexingStorage.java:1498-1501 — score unused there).
    """
    if not scores and (k is not None or hydrate):
        raise ValueError(
            "scores=False is match-only: requires k=None and hydrate=False"
        )
    spark = index.spark
    terms = sorted(set(tokenize_py(query)))
    stats = index.stats
    n, avgdl = stats["n_docs"], stats["avgdl"]
    out_schema = "doc_id bigint, score double" if scores else "doc_id bigint"

    # the empty frame costs a py4j round trip — build it lazily, only on
    # the early-return paths (it used to be constructed on EVERY query)
    def empty():
        return spark.createDataFrame([], out_schema)

    if not terms:
        return empty()

    if doc_filter is None and not scores:
        # match-only (non-relevance pages / hits.total / type aggs): the
        # kernels only need term PRESENCE, never idf, so the per-query
        # term-dictionary job is skipped outright (guide §2.4 — one Spark
        # job instead of two). A globally-absent term simply has no
        # posting rows: the AND kernels return empty per segment (the
        # former driver-side early-exit, without its dedicated lookup
        # job). A joined-in global-df variant for the SCORED path was
        # measured and rejected: the broadcast build (terms scan + agg +
        # AQE stage materialization) costs more than the exchange-free
        # term_dfs point lookup it replaces (+0.07-0.12 s per query).
        qhashes = [term_hash(t) for t in terms]  # sorted-term order
        # column-pruned scan: match-only never touches the tf/dl byte
        # streams or the tf/dl block metadata, and applyInPandas ships
        # every column it is given (guide §4.1) — project them out so the
        # parquet scan reads doc-id payloads + the doc-id skip directory
        # only (ReadSchema drops tfs/dls/block_max_tf/block_min_dl/
        # block_tf_off/block_dl_off — most of the index bytes)
        postings_q = index.postings.where(
            F.col("term_hash").isin(qhashes)
        ).select("segment", "term_hash", "doc_ids", "block_last",
                 "block_doc_off")
        score = _segment_scorer(
            {h: 0.0 for h in qhashes}, 0.0, k, mode, scores=False
        )
        return postings_q.groupBy("segment").applyInPandas(
            score, schema=out_schema
        )

    # ---- scored and/or filtered path: idf needs the global df, and the
    # filtered strategy cutover needs the df bound (rarest-term df for
    # AND, df sum for OR) — the term dictionary lookup stays a separate
    # exchange-free point-lookup job (plans/r06/term_dfs_after.txt)
    dfs = index.term_dfs(terms)
    if mode == "and" and any(t not in dfs for t in terms):
        return empty()  # conjunctive: a term with no postings ⇒ no results
    terms = [t for t in terms if t in dfs]
    if not terms:
        return empty()
    # keyed by term_hash; insertion order = sorted-term order (terms is
    # sorted above) — the kernels reduce in this order (score contract).
    # Match-only mode skips the idf math (values unused by the kernels).
    idfs = {
        term_hash(t): (float(bm25_idf(dfs[t], n)) if scores else 0.0)
        for t in terms
    }

    postings_q = index.postings.where(
        F.col("term_hash").isin(list(idfs.keys()))
    )

    if doc_filter is not None:
        # candidate bound from the term dictionary (already in hand — no
        # extra job): AND intersection ≤ the rarest term's df; OR union ≤
        # the df sum
        est_candidates = (
            min(dfs[t] for t in terms) if mode == "and"
            else sum(dfs[t] for t in terms)
        )
        if est_candidates <= FILTER_CANDIDATE_MAX:
            # candidate-side predicate join (the 100-TB plan): score the
            # postings UNFILTERED per segment (k=None — the rank cut must
            # come after the predicate), then broadcast the bounded
            # candidate set to the predicate-pruned docs scan. The doc
            # predicate pushes to parquet; the only exchange is the
            # candidate broadcast — thousands of rows, never the ~10^11
            # docs a low-selectivity predicate passes.
            cand = postings_q.groupBy("segment").applyInPandas(
                _segment_scorer(idfs, avgdl, None, mode, scores),
                schema=out_schema,
            )
            scored = index.docs.where(doc_filter).select("doc_id").join(
                F.broadcast(cand), "doc_id"
            )
        else:
            # stopword-scale candidate sets: ship the filtered doc list
            # into the per-segment kernels instead (bounded by segment)
            allowed_docs = index.docs.where(doc_filter).select(
                "segment", "doc_id"
            )
            scored = (
                postings_q.groupBy("segment")
                .cogroup(allowed_docs.groupBy("segment"))
                .applyInPandas(
                    _segment_scorer(idfs, avgdl, k, mode, scores,
                                    cogroup=True),
                    schema=out_schema,
                )
            )
    else:
        scored = postings_q.groupBy("segment").applyInPandas(
            _segment_scorer(idfs, avgdl, k, mode, scores), schema=out_schema
        )

    if k is None:
        top = scored
    else:
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    if not hydrate:
        return top
    docs = index.docs.drop("dl")
    return (
        top.join(docs, "doc_id", "left")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


# --------------------------------------------------- naive DataFrame scorer


def topk_naive(
    corpus: DataFrame,
    query: str,
    k: int = 10,
    mode: str = "and",
    doc_id_col: str = "doc_id",
    text_col: str = "content",
) -> DataFrame:
    """Exhaustive BM25 top-k composed from built-in DataFrame ops only —
    no index, no custom kernels. Used as the in-Spark cross-check of the
    indexed path, and as the driver-facing query over raw tables.

    Plan: tokenize → explode → tf per (doc, term) → broadcast df/stats →
    score expression → window-free global top-k (orderBy + limit; Spark
    executes as TakeOrderedAndProject — no full sort materialized).
    """
    terms = sorted(set(tokenize_py(query)))
    if not terms:
        return corpus.sparkSession.createDataFrame([], f"{doc_id_col} bigint, score double")

    base = corpus.select(
        F.col(doc_id_col).alias("doc_id"),
        tokenize_udf(F.col(text_col)).alias("toks"),
    ).withColumn("dl", F.size("toks"))

    stats = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    n = int(stats["n"])
    avgdl = (stats["tot"] or 0) / n if n else 0.0

    tok = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfs = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tok.join(F.broadcast(dfs), "term")
        .withColumn(
            "idf", F.log1p((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            / (F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.lit(avgdl))),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"), F.count("*").alias("nt"))
    )
    if mode == "and":
        scored = scored.where(F.col("nt") == len(terms))
    return (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
