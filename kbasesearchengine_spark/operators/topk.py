"""BM25 top-k query: the engine's read path.

Replaces the reference's query hand-off to Elasticsearch
(ElasticIndexingStorage.java:1486-1576 builds ES DSL; ES/Lucene executes).
Semantics pinned by the reference:
 - conjunctive AND full-text match (`operator: "and"`,
   ElasticIndexingStorage.java:1364-1375; testMultiwordSearch)
 - top-k by BM25 desc; deterministic tie-break doc_id asc (SURVEY §2.7 O5)

Physical plan (scales by segment — the per-doc-range shard analog), one
flow for every query:

  term dictionary ──driver-side pyarrow point lookup──► idfs
      (skipped for match-only queries, which need term presence only)
  postings parquet ──filter term_hash ∈ query (parquet pushdown;
      match-only scans project the doc-id payload and its skip
      directory only)──►
  groupBy(segment) applyInPandas   [wand.py: AND skip-list intersection
      or OR block-max WAND over the block directory, lazy block decode]
  ──► with a doc_filter: broadcast join of the segments' matches to the
      predicate-pruned docs scan
  ──► global orderBy(score desc, doc_id).limit(k)   [TakeOrderedAndProject]
  ──► left join to docs for hydration

Scores are computed per (term, doc) from scalars and summed over ≤ a few
query terms — reduction order is fixed (sorted term order), so scores are
bit-identical at any parallelism. The eager full-decode scorer that tests
compare the kernels against lives in tests/kernel_reference.py.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import idf as bm25_idf
from ..functions.hashing import term_hash
from ..functions.tokenize import tokenize_py, tokenize_udf
from . import store
from .store import FORMAT_VERSION
from .wand import and_topk_segment, wand_topk_segment


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
        return self._tbl("terms").groupBy("term_hash").agg(
            F.sum("df").alias("df")
        )

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


# ------------------------------------------------------------ main entry


def _segment_scorer(
    idfs: dict[int, float],
    avgdl: float,
    k: int | None,
    mode: str,
    scores: bool,
):
    """The per-segment closure for groupBy(segment).applyInPandas: AND
    goes to the skip-list intersection, OR to block-max WAND. The query
    state is a few dozen bytes and rides in the task closure — a
    sc.broadcast here paid a driver round trip per query for nothing."""
    kernel = and_topk_segment if mode == "and" else wand_topk_segment

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel(pdf, idfs, avgdl, k, scores=scores)

    return score


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
    1321-1325); applied BEFORE ranking — the segments return every match
    and the rank cut runs after the join to the filtered docs.
    k=None returns ALL matching docs scored (match-only mode, no ranking
    cut) — used for counts/aggregations over the match set.
    scores=False (requires k=None, hydrate=False): return matching
    doc_ids WITHOUT computing BM25 — no idf math, and the tf/dl posting
    byte streams are never read. This is the plan for the reference's
    default non-relevance page order and for hits.total counts
    (ElasticIndexingStorage.java:1498-1501 — score unused there).
    """
    if not scores and (k is not None or hydrate):
        raise ValueError(
            "scores=False is match-only: requires k=None and hydrate=False"
        )
    spark = index.spark
    terms = sorted(set(tokenize_py(query)))
    n, avgdl = index.stats["n_docs"], index.stats["avgdl"]
    out_schema = "doc_id bigint, score double" if scores else "doc_id bigint"

    # the empty frame costs a py4j round trip — build it lazily, only on
    # the early-return paths
    def empty():
        return spark.createDataFrame([], out_schema)

    if not terms:
        return empty()

    # idfs is keyed by term_hash; its insertion order is the sorted-term
    # order (terms is sorted above), the order the kernels reduce in
    # (score contract)
    if scores:
        # idf needs the global df: an exchange-free driver-side point
        # lookup (plans/r06/term_dfs_after.txt)
        dfs = index.term_dfs(terms)
        if mode == "and" and any(t not in dfs for t in terms):
            return empty()  # conjunctive: a term with no postings
        idfs = {term_hash(t): float(bm25_idf(dfs[t], n))
                for t in terms if t in dfs}
        if not idfs:
            return empty()
        postings_q = index.postings.where(F.col("term_hash").isin(list(idfs)))
    else:
        # match-only (non-relevance pages / hits.total / type aggs): the
        # kernels need term PRESENCE only, so no term dictionary lookup —
        # a globally absent term simply has no posting rows. The scan is
        # column-pruned to the doc-id payload and its skip directory:
        # applyInPandas ships every column it is given, and the tf/dl
        # streams and their block metadata are most of the index bytes.
        idfs = {term_hash(t): 0.0 for t in terms}
        postings_q = index.postings.where(
            F.col("term_hash").isin(list(idfs))
        ).select("segment", "term_hash", "doc_ids", "block_last",
                 "block_doc_off")

    # with a doc_filter the rank cut must come after the predicate, so
    # the segments return every match (k=None)
    scored = postings_q.groupBy("segment").applyInPandas(
        _segment_scorer(idfs, avgdl, k if doc_filter is None else None,
                        mode, scores),
        schema=out_schema,
    )
    if doc_filter is not None:
        # candidate-side predicate join: broadcast the df-bounded match
        # set to the predicate-pruned docs scan. The doc predicate pushes
        # to parquet, and the only exchange is the candidate broadcast —
        # never the ~10^11 docs a lang='en'-style predicate passes at
        # 10^12 docs.
        scored = index.docs.where(doc_filter).select("doc_id").join(
            F.broadcast(scored), "doc_id"
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
