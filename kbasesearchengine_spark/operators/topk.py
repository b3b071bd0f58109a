"""BM25 top-k query: the engine's read path.

Replaces the reference's query hand-off to Elasticsearch
(ElasticIndexingStorage.java:1486-1576 builds ES DSL; ES/Lucene executes).
Semantics pinned by the reference:
 - conjunctive AND full-text match (`operator: "and"`,
   ElasticIndexingStorage.java:1364-1375; testMultiwordSearch)
 - top-k by BM25 desc; deterministic tie-break doc_id asc (SURVEY §2.7 O5)

Every query starts with a driver-side pyarrow point lookup of its terms'
global df (the term dictionary). The df sum is the query's posting
volume, and it picks one of two tiers. Both run the same per-segment
kernels (wand.py: AND skip-list intersection or OR block-max WAND over
the block directory, lazy block decode) through one closure,
``_segment_scorer``, and apply the same global cut (score desc, doc_id
asc):

Driver-local tier (posting volume ≤ LOCAL_POSTINGS_MAX) — Lucene answers
a selective match in-process on the shard that holds the postings, and
ES returns a page with its hits.total from there:
  postings snapshot ──pyarrow read, pruned to the query's term_hash row
      groups (match-only queries read the doc-id payload and its skip
      directory only)──► per-segment kernels in-process ──► global cut
  ──► docs snapshot ──pyarrow read of the candidates (their segments and
      doc-id range), every column but the text payload──► the
      doc_filter, evaluated by Catalyst over a local relation of those
      rows (it folds while planning: no job)
  ──► one Arrow table: the match set, or its ranked top k
  Pages, hits.total and type counts are Arrow sorts, slices and counts of
  that table; topk and match_frame return it as a local relation, and
  the text payload is read for the rows they return. No postings
  shuffle, no Python worker and no Spark job.

Fan-out tier (larger volumes, or a store pyarrow cannot read):
  postings parquet ──filter term_hash ∈ query (parquet pushdown; same
      column pruning)──► groupBy(segment) applyInPandas [kernels]
  ──► with a doc_filter: broadcast join of the segments' matches to the
      predicate-pruned docs scan
  ──► global orderBy(score desc, doc_id).limit(k)   [TakeOrderedAndProject]
  ──► left join to docs for hydration

A handle scores one snapshot: stats, the term dictionary, the postings
and the docs are opened together in ``InvertedIndex.refresh()``. A field
(``field_index``) is a posting set of the same index: it scores its own
postings and term dictionary with the primary's n_docs and its own
avgdl, and both tiers filter, prune by segment and hydrate against the
primary docs.

Scores are computed per (term, doc) from scalars and summed over ≤ a few
query terms — reduction order is fixed (sorted term order), so scores are
bit-identical at any parallelism and on either tier. The eager
full-decode scorer that tests compare the kernels against lives in
tests/kernel_reference.py.
"""

from __future__ import annotations

import functools
import logging
import operator
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.bm25 import idf as bm25_idf
from ..functions.hashing import term_hash
from ..functions.tokenize import tokenize_py, tokenize_udf
from . import store
from .store import FORMAT_VERSION
from .wand import and_topk_segment, wand_topk_segment

log = logging.getLogger(__name__)

# Largest posting volume (summed global df of the query terms) scored by
# the driver-local tier; larger queries fan out over Spark. Sweep on a
# 4-core host (local[4]): 20,000-row code-corpus index in 16 segments,
# single-term OR queries, collect() of topk's frame, median of 5
# interleaved reads per point (ms); in brackets, the same sweep when the
# local tier still answered through one Spark docs scan (a literal
# doc_id IN list and score map):
#             every match (k=None,          top 10, scored,
#   df sum    match-only): local/fan-out      hydrated: local/fan-out
#       60     84 (121) /  434               177 (305) / 1197
#      512     83 (156) /  380               142 (228) / 1268
#     1024     82 (175) /  437               148 (261) / 1175
#     2053     75 (212) /  335               179 (275) / 1105
#     4094    102 (314) /  374               165 (233) / 1120
#     8246    107 (467) /  369               157 (275) /  923
#    16444    157 (1074) / 339               150 (267) /  999
# Answered in Arrow, the local tier no longer crosses over in this range.
# The bound also caps what it holds on the driver (every match's docs row
# but the text payload) and the local relation a doc_filter is evaluated
# over, which runs no job only under Spark's local-relation size
# (spark.sql.execution.arrow.localRelationThreshold).
LOCAL_POSTINGS_MAX = 4096

# the docs columns that hold a document's text: the local tier reads them
# only for the rows a page or a top k returns (and for every candidate
# when a doc_filter names one)
PAYLOAD_COLS = ("text", "content", "sub_value")

# relevance order, as (column, ascending) keys
RELEVANCE = [("score", False), ("doc_id", True)]

# what a match-only scan reads: the doc-id payload and its skip directory
_MATCH_ONLY_COLS = ["segment", "term_hash", "doc_ids", "block_last",
                    "block_doc_off"]


# ------------------------------------------------------------ index handle


class InvertedIndex:
    """Read handle over an index directory written by IndexBuilder.

    A handle scores one snapshot of the index: stats.json (with the docs
    schema every docs read is given), the pyarrow datasets of
    docs/terms/postings and the Spark postings handle (its file listing)
    are opened together, in ``__init__`` and ``refresh()``. Segments
    committed afterwards are not seen, on either query tier, until
    ``refresh()`` (the reference's refreshIndex, S6)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.field: str | None = None  # set on a field_index() handle
        self._logged: set[str] = set()
        self.refresh()

    def refresh(self) -> None:
        stats = store.read_stats(self.index_dir)
        # fail FAST on a layout mismatch — a pre-v4 index lacks the
        # term_hash key and the block byte offsets the lazy WAND decode
        # needs, and would otherwise die deep inside query execution
        # with an opaque KeyError
        got = stats.get("format_version")
        if got != FORMAT_VERSION:
            raise ValueError(
                f"index at {self.index_dir!r} has format_version={got!r}; "
                f"this reader needs {FORMAT_VERSION}. Rebuild the index "
                "(IndexBuilder.build) — on-disk layouts are not migrated."
            )
        self._snapshot(stats)

    def _snapshot(self, stats: dict) -> None:
        """Open one snapshot from the index's stats: a field handle
        scores with the field's total_dl and avgdl, and reads postings
        and terms from the field's directory (and the primary's docs)."""
        self._postings_dir = self.index_dir
        if self.field is not None:
            self._postings_dir = store.field_dir(self.index_dir, self.field)
            n, total = stats["n_docs"], stats["fields"][self.field]["total_dl"]
            stats = {**stats, "total_dl": total,
                     "avgdl": total / n if n else 0.0}
        self.stats = stats
        self._dfs: dict = {}
        # the types of a local match table's columns: the committed docs
        # schema's, and the score
        self._fields = {f.name: f for f in store.docs_schema(stats)}
        self._fields["score"] = StructField("score", DoubleType())
        self._arrow = store.docs_arrow_schema(stats).append(
            pa.field("score", pa.float64()))
        # the column order of a local match table (the fan-out's too)
        self.docs_columns = ["doc_id"] + [
            c for c in self._arrow.names if c not in ("doc_id", "score")]
        self._datasets = {t: self._open(t)
                          for t in ("terms", "postings", "docs")}
        # a Spark handle lists its files when it is made: make the
        # postings' now, so the fan-out scores this snapshot too (and the
        # terms' when the Spark scan replaces the pyarrow lookup). Docs
        # are always read by matched doc id, so a docs handle made later
        # returns the same rows.
        self._tbl("postings")
        if self._datasets["terms"] is None:
            self._tbl("terms")

    def _tbl(self, name: str) -> DataFrame:
        if name not in self._dfs:
            self._dfs[name] = store.read_table(
                self.spark, self._dir(name), name, self.stats,
            )
        return self._dfs[name]

    def _dir(self, table: str) -> str:
        """Where a table of this handle lives: a field's docs are the
        primary's."""
        return self.index_dir if table == "docs" else self._postings_dir

    def _fallback(self, table: str, err: Exception) -> None:
        """Record (once per handle and table) that pyarrow cannot read a
        table and Spark answers instead."""
        if table not in self._logged:
            self._logged.add(table)
            log.info("pyarrow cannot read %s/%s (%s); Spark answers instead",
                     self._dir(table), table, err)

    def _open(self, table: str):
        try:
            return store.open_dataset(self._dir(table), table, self.stats)
        except (OSError, pa.lib.ArrowInvalid) as err:
            self._fallback(table, err)
            return None

    def _read(self, table: str, where: pads.Expression, columns=None):
        """The snapshot's rows of `table` that `where` selects, or None
        when pyarrow cannot read the table (the caller uses Spark)."""
        ds = self._datasets[table]
        if ds is None:
            return None
        try:
            return ds.to_table(columns=columns, filter=where)
        except (OSError, pa.lib.ArrowInvalid) as err:
            self._fallback(table, err)
            return None

    # ---------------------------------------------- local match tables

    def row_columns(self, doc_filter=None) -> list[str]:
        """The columns a local match table reads for every candidate:
        every docs column but the text payload, which a doc_filter gets
        too when its text names a payload column (the filter is evaluated
        over these rows)."""
        named = set(re.findall(r"\w+", str(doc_filter))) if (
            doc_filter is not None) else set()
        return [c for c in self.docs_columns
                if c not in PAYLOAD_COLS or c in named]

    def empty_rows(self, scores: bool) -> pa.Table:
        """The empty local match table."""
        names = self.row_columns() + (["score"] if scores else [])
        return pa.schema([self._arrow.field(c) for c in names]).empty_table()

    def doc_rows(self, ids: pa.Array, segments: list[int],
                 columns: list[str]) -> pa.Table | None:
        """These columns of the snapshot's docs rows with these doc ids,
        which lie in `segments`; None when pyarrow cannot read docs. The
        read is pruned to the segments' partitions and, by row-group
        statistics, to the ids' min/max; the exact ids are kept after."""
        bounds = pc.min_max(ids)
        where = (_any_of("segment", segments)
                 & (pads.field("doc_id") >= bounds["min"].as_py())
                 & (pads.field("doc_id") <= bounds["max"].as_py()))
        rows = self._read("docs", where, columns)
        if rows is None:
            return None
        return rows.filter(pc.is_in(rows["doc_id"], value_set=ids))

    def with_columns(self, rows: pa.Table, names: list[str]) -> pa.Table:
        """A local match table with these docs columns added (read for
        its rows' doc ids) and its columns in docs order: how a page or a
        top k reads the text payload of the rows it returns."""
        names = [c for c in names if c not in rows.column_names]
        if not names:
            return rows
        unknown = [c for c in names if c not in self._fields]
        if unknown:
            raise ValueError(f"no docs column {unknown} in {self.index_dir!r}")
        if rows.num_rows:
            extra = self.doc_rows(rows["doc_id"].combine_chunks(),
                                  pc.unique(rows["segment"]).to_pylist(),
                                  ["doc_id", *names])
            if extra is None:
                raise OSError(f"pyarrow cannot read {self.index_dir}/docs")
        else:
            extra = pa.schema([self._arrow.field(c)
                               for c in ["doc_id", *names]]).empty_table()
        at = pc.index_in(rows["doc_id"], value_set=extra["doc_id"])
        for c in names:
            rows = rows.append_column(self._arrow.field(c), extra[c].take(at))
        order = self.docs_columns + ["score"]
        return rows.select([c for c in order if c in rows.column_names])

    def rows_frame(self, rows: pa.Table) -> DataFrame:
        """A local match table as a local relation, typed by the
        committed docs schema (and the score)."""
        return local_relation(self.spark, rows, StructType(
            [self._fields[c] for c in rows.column_names]))

    @property
    def docs(self) -> DataFrame:
        return self._tbl("docs")

    @property
    def postings(self) -> DataFrame:
        return self._tbl("postings")

    def no_matches(self, scores: bool, rows: bool) -> DataFrame:
        """The empty answer: (doc_id[, score]), or with `rows` this
        index's docs rows (+ `score` when scored). Its filter folds to an
        empty relation, so collecting it runs no Spark job (a frame made
        from a Python list runs one, on Python workers). The handle keeps
        one frame per shape."""
        key = f"empty:{scores}:{rows}"
        if key not in self._dfs:
            cols = [F.lit(None).cast("bigint").alias("doc_id")]
            if scores:
                cols.append(F.lit(None).cast("double").alias("score"))
            none = self.spark.range(1).select(*cols).where(F.lit(False))
            self._dfs[key] = self.docs.join(none, "doc_id") if rows else none
        return self._dfs[key]

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

        Driver-side pyarrow point lookup over the terms snapshot — no
        Spark job at all (the Lucene analog reads its term dictionary
        locally too). The terms files are written hash-sorted (indexer
        sortWithinPartitions), so parquet row-group min/max statistics
        prune the read (``_any_of``: the installed pyarrow prunes no row
        group on ``isin``), and only the (term_hash, df) columns are
        decoded. The ≤ terms×batches hits are
        summed driver-side. When pyarrow cannot read the store, the same
        snapshot's Spark scan answers (and the fallback is logged)."""
        hashes = {term_hash(t): t for t in terms}
        tbl = self._read("terms", _any_of("term_hash", list(hashes)),
                         ["term_hash", "df"])
        if tbl is not None:
            hits = zip(
                tbl.column("term_hash").to_pylist(),
                tbl.column("df").to_pylist(),
            )
        else:
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
        """The handle of a field (P5; indexer.build_field_index): the
        field's postings and term dictionary under <index_dir>/fields/
        <field>, scored with this snapshot's stats but the field's avgdl,
        and this index's docs table — filters, segment pruning and
        hydration read the primary docs. Made on first use (its files are
        listed then) and dropped by this handle's ``refresh()``; its own
        ``refresh()`` reopens the field over the index's current stats."""
        key = f"field:{field}"
        if key not in self._dfs:
            if field not in self.stats["fields"]:
                raise ValueError(
                    f"index at {self.index_dir!r} has no field index "
                    f"{field!r} (indexer.build_field_index)"
                )
            fx = object.__new__(InvertedIndex)
            fx.spark, fx.index_dir, fx.field = self.spark, self.index_dir, field
            fx._logged = set()
            fx._snapshot(self.stats)
            # memoize the handle on the dfs dict (same lifecycle)
            self._dfs[key] = fx
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


# ------------------------------------------------------------ Arrow rows


def _any_of(field: str, values) -> pads.Expression:
    """`field` equal to one of `values`, as an OR of `==`: pyarrow 16
    prunes partitions and parquet row groups on it, and no row group on
    `isin`."""
    return functools.reduce(
        operator.or_, [pads.field(field) == v for v in values])


def sort_indices(table: pa.Table, keys: list[tuple[str, bool]]) -> pa.Array:
    """The row order Spark's orderBy gives `table` for these (column,
    ascending) keys: ascending puts nulls first and descending puts them
    last, and NaN sorts above every number. Each key column is preceded
    by an explicit validity key (and a NaN key for floats), so pyarrow's
    own null and NaN placement never decides."""
    cols, sort_keys = {}, []
    for i, (name, asc) in enumerate(keys):
        col = table[name]
        order = "ascending" if asc else "descending"
        cols[f"valid{i}"] = pc.is_valid(col)
        sort_keys.append((f"valid{i}", order))
        if pa.types.is_floating(col.type):
            cols[f"nan{i}"] = pc.fill_null(pc.is_nan(col), False)
            sort_keys.append((f"nan{i}", order))
        cols[f"key{i}"] = col
        sort_keys.append((f"key{i}", order))
    return pc.sort_indices(pa.table(cols), sort_keys=sort_keys)


def local_relation(spark: SparkSession, rows: pa.Table,
                   schema: StructType) -> DataFrame:
    """An Arrow table as a Spark local relation: plans over it fold on
    the driver, so collecting them runs no job while it stays under
    spark.sql.execution.arrow.localRelationThreshold. The table is one
    record batch first: pyspark 4.1 drops every row after a zero-row
    batch (which a filtered read or filter leaves behind)."""
    return spark.createDataFrame(rows.combine_chunks(), schema)


# ------------------------------------------------------------ main entry


def _segment_scorer(
    idfs: dict[int, float],
    avgdl: float,
    k: int | None,
    mode: str,
    scores: bool,
):
    """The per-segment closure both tiers run: AND goes to the skip-list
    intersection, OR to block-max WAND. On the fan-out tier it is the
    applyInPandas function; the query state is a few dozen bytes and
    rides in the task closure — a sc.broadcast here paid a driver round
    trip per query for nothing."""
    kernel = and_topk_segment if mode == "and" else wand_topk_segment

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel(pdf, idfs, avgdl, k, scores=scores)

    return score


def _plan(
    index: InvertedIndex, query: str, mode: str, scores: bool
) -> tuple[dict[int, float], int] | None:
    """A query's idfs and its posting volume (the summed global df of its
    terms, which picks the tier), or None when the answer is known empty
    from the term dictionary alone: no query terms, an absent AND term,
    or no scored term."""
    terms = sorted(set(tokenize_py(query)))
    if not terms:
        return None
    dfs = index.term_dfs(terms)
    if mode == "and" and any(t not in dfs for t in terms):
        return None  # conjunctive: a term with no postings
    # idfs is keyed by term_hash; its insertion order is the sorted-term
    # order, the order the kernels reduce in (score contract). Match-only
    # queries need term presence only: a globally absent term simply has
    # no posting rows.
    if scores:
        n = index.stats["n_docs"]
        idfs = {term_hash(t): float(bm25_idf(dfs[t], n))
                for t in terms if t in dfs}
        if not idfs:
            return None
    else:
        idfs = {term_hash(t): 0.0 for t in terms}
    return idfs, sum(dfs.values())


def _local_hits(
    index: InvertedIndex,
    idfs: dict[int, float],
    avgdl: float,
    k: int | None,
    mode: str,
    scores: bool,
) -> pd.DataFrame | None:
    """The driver-local tier's matches — (doc_id, segment[, score]),
    cut to the global top k when k is given — or None when pyarrow
    cannot read the postings snapshot."""
    tbl = index._read("postings", _any_of("term_hash", list(idfs)),
                      None if scores else _MATCH_ONLY_COLS)
    if tbl is None:
        return None
    score = _segment_scorer(idfs, avgdl, k, mode, scores)
    parts = [score(pdf).assign(segment=seg)
             for seg, pdf in tbl.to_pandas().groupby("segment")]
    hits = (pd.concat(parts) if parts
            else pd.DataFrame(columns=["doc_id", "score", "segment"]))
    if scores and k is not None:
        o = np.lexsort((hits["doc_id"].to_numpy(), -hits["score"].to_numpy()))
        hits = hits.iloc[o[:k]]
    return hits


def _local_rows(
    index: InvertedIndex,
    rows_of: InvertedIndex,
    idfs: dict[int, float],
    volume: int,
    k: int | None,
    mode: str,
    doc_filter,
    scores: bool,
) -> pa.Table | None:
    """The driver-local tier: the matches as one Arrow table of
    `rows_of`'s docs rows (``row_columns``, + `score` when scored) that
    pass the doc_filter, ranked and cut to k when scored with a k, or
    None when the query takes the fan-out (a posting volume above the
    bound, or a postings or docs snapshot pyarrow cannot read). The
    doc_filter is evaluated by Catalyst over a local relation of the
    candidates' rows, which folds while planning: no Spark job."""
    if volume > LOCAL_POSTINGS_MAX:
        return None
    # with a doc_filter the rank cut must come after the predicate, so
    # the segments return every match (k=None)
    seg_k = k if doc_filter is None else None
    hits = _local_hits(index, idfs, index.stats["avgdl"], seg_k, mode, scores)
    if hits is None:
        return None
    if hits.empty:
        return rows_of.empty_rows(scores)
    ids = pa.array(hits["doc_id"].to_numpy(), pa.int64())
    rows = rows_of.doc_rows(ids, hits["segment"].unique().tolist(),
                            rows_of.row_columns(doc_filter))
    if rows is None:
        return None
    if doc_filter is not None:
        kept = rows_of.rows_frame(rows).where(doc_filter).select(
            "doc_id").collect()
        rows = rows.filter(pc.is_in(rows["doc_id"], value_set=pa.array(
            [r[0] for r in kept], pa.int64())))
    if scores:
        # a take, not Table.join: pyarrow 16's join raises on list
        # columns such as access_groups
        at = pc.index_in(rows["doc_id"], value_set=ids)
        rows = rows.append_column(
            "score", pa.array(hits["score"].to_numpy(), pa.float64()).take(at))
        if k is not None:
            rows = rows.take(sort_indices(rows, RELEVANCE)[:k])
    return rows


def local_matches(
    index: InvertedIndex,
    query: str,
    k: int | None = None,
    mode: str = "and",
    doc_filter=None,
    scores: bool = True,
    rows_of: InvertedIndex | None = None,
) -> pa.Table | None:
    """topk's matches as one Arrow table of `rows_of`'s docs rows
    (default: `index`'s) when they are answered on the driver: by the
    local tier, or known empty from the term dictionary (an empty table
    on either tier). None means the query takes the fan-out."""
    rows_of = rows_of or index
    plan = _plan(index, query, mode, scores)
    if plan is None:
        return rows_of.empty_rows(scores)
    return _local_rows(index, rows_of, *plan, k, mode, doc_filter, scores)


def topk(
    index: InvertedIndex,
    query: str,
    k: int | None = 10,
    mode: str = "and",
    doc_filter=None,
    hydrate: bool = True,
    scores: bool = True,
    join_to: InvertedIndex | None = None,
) -> DataFrame:
    """BM25 top-k over the inverted index.

    doc_filter: optional Column predicate over the docs table (the
    reference's non-scoring filter context, ElasticIndexingStorage.java:
    1321-1325; a field handle's docs are the primary's, on both tiers);
    applied BEFORE ranking — the segments return every match and the
    rank cut runs after the predicate.
    k=None returns ALL matching docs scored, unordered (match-only mode,
    no ranking cut) — used for counts/aggregations over the match set.
    scores=False (requires k=None, hydrate=False): return matching
    doc_ids WITHOUT computing BM25 — no idf math, and the tf/dl posting
    byte streams are never read. This is the plan for the reference's
    default non-relevance page order and for hits.total counts
    (ElasticIndexingStorage.java:1498-1501 — score unused there).
    join_to (with hydrate=False): return the matches as rows of this
    index's docs table — every column, plus `score` when scored,
    unordered. match_frame passes its index (also when scoring one of
    its fields), so the matches are read with the docs once.
    On the driver-local tier the answer is a local relation of the
    ``local_matches`` table (text payload read for its rows only); an
    answer known empty before any Spark job (no query terms, an absent
    AND term, no local-tier match) is the `no_matches` frame of the
    handle whose rows it would carry.
    """
    if not scores and (k is not None or hydrate):
        raise ValueError(
            "scores=False is match-only: requires k=None and hydrate=False"
        )
    if join_to is not None and hydrate:
        raise ValueError("join_to returns docs rows: requires hydrate=False")
    rows_of = join_to or index
    avgdl = index.stats["avgdl"]
    out_schema = "doc_id bigint, score double" if scores else "doc_id bigint"

    def joined(top: DataFrame) -> DataFrame:
        return top if join_to is None else join_to.docs.join(top, "doc_id")

    def empty() -> DataFrame:
        if join_to is None:
            return index.no_matches(scores, rows=False)
        return join_to.no_matches(scores, rows=True)

    plan = _plan(index, query, mode, scores)
    if plan is None:
        return empty()
    idfs, volume = plan
    rows = _local_rows(index, rows_of, idfs, volume, k, mode, doc_filter,
                       scores)
    if rows is not None:
        if rows.num_rows == 0:
            return empty()
        score_col = ["score"] if scores else []
        if join_to is not None:
            cols = rows_of.docs_columns + score_col
        elif hydrate:
            rows = rows.take(sort_indices(rows, RELEVANCE))
            cols = ["doc_id", "score"] + [
                c for c in rows_of.docs_columns if c not in ("doc_id", "dl")]
        else:
            cols = ["doc_id", *score_col]
        return rows_of.rows_frame(
            rows_of.with_columns(rows, cols).select(cols))
    # with a doc_filter the rank cut must come after the predicate, so
    # the segments return every match (k=None)
    seg_k = k if doc_filter is None else None
    if scores:
        postings_q = index.postings.where(F.col("term_hash").isin(list(idfs)))
    else:
        # applyInPandas ships every column it is given, and the tf/dl
        # streams and their block metadata are most of the index bytes
        postings_q = index.postings.where(
            F.col("term_hash").isin(list(idfs))
        ).select(*_MATCH_ONLY_COLS)
    scored = postings_q.groupBy("segment").applyInPandas(
        _segment_scorer(idfs, avgdl, seg_k, mode, scores),
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
        return joined(top)
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
