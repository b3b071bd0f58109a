"""Inverted-index build: the engine's write path.

From-scratch replacement for what the reference delegates to
Elasticsearch/Lucene (bulk indexing at
lib/src/kbasesearchengine/search/ElasticIndexingStorage.java:322-379; the
whole event->index pipeline of main/IndexerWorker.java collapses into this
single batch DAG, per SURVEY.md §3.2).

Physical design (built for 100 TB):

  corpus ──docs_phase: ONE range shuffle + sort on the keys (or the given
         doc ids), ONE tokenizer pass (_toks, dl, sha256), ONE persisted
         frame; one per-partition count collect gives n and the rank
         offsets──► docs(doc_id, keys…, lang, sha256, dl, _toks, segment)
          (dense, partition-invariant: doc_id = rank over sorted keys =
           offset[partition] + within-partition sequence)
  docs ──write_docs: observe(count, sum dl, max doc_id) during the
         write──► docs/, stats(N, avgdl)   [tiny, broadcast]
  docs ──per segment group, the group's doc range of the same cache──►
         mapInArrow(int64 tf-aggregate + sort + compress)──►
         postings(segment, term_hash, df, doc_ids␣Δvarint, tfs␣varint,
         dls␣varint, block_last/block_max_tf/block_min_dl)
          [build_postings_from_docs — the one posting builder: one
           RAM-buffer pass per doc-range partition, the Lucene flush
           model; memory bound = FLUSH_PAIRS, consolidated later by the
           merge stage]
  postings ──write_terms: groupBy(term_hash).agg(sum df)──►
         terms(term_hash, df), one batch partition per write

Skew: postings are sharded by `segment`, a bounded doc-range bucket — a
stopword's postings split across every segment (the salt role of the north
rule's "salted repartitioning by term-hash"); no single task ever holds
more than one doc-range of one term. tf is pre-aggregated inside the Arrow
batch (map-side combine) before anything shuffles.

The incremental add runs the same docs phase and the same docs and terms
writers, on doc ids offset past the committed ones; a resume runs it over
the stored docs of its pending segments (the corpus, when docs/ holds no
text). The phase releases its cache on every exit, a failed or killed
build included.

Fields: a field index is one more posting set of the primary (Lucene's
per-field postings in one segment; the reference's `oname` next to
`_all`): fields/<f>/ holds postings and terms only, partitioned by the
primary's segments, and the primary's stats.json commits each field's
total_dl. build_field_index writes one from the stored docs through the
same group writer; add_documents and merge.apply_merge write every
committed field's postings with the primary's.

Resume: segments are built in groups; each group is committed with a
dynamic-partition-overwrite (idempotent, given per write) followed by a
lineage marker with metrics. A killed build reruns only unmarked groups
(north rule: per-partition lineage + metrics checkpoints). The on-disk
layout, stats and markers are read and written through operators/store.py.
"""

from __future__ import annotations

import math
import os
import time
from bisect import bisect_left, bisect_right
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from itertools import accumulate

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.codec import encode_grouped
from ..functions.tokenize import hash_tokens_expr
from . import store
from .store import FORMAT_VERSION, POSTING_SCHEMA

BLOCK_SIZE = 128  # postings per block-max block

# RAM-buffer budget per posting flush, in (doc,term) pairs. Sized for
# the CACHE tier, not for RAM: the flush kernel is argsort + 5-lane
# gather over ~28 B/pair, and with all cores sharing one memory system a
# kernel-shape microbench ran 4.3x faster at 8 procs and scaled 0.92 (vs
# 0.31) when the working set dropped from 336 MB (12M pairs) to 42
# MB/proc. Real 450k-doc A/B in matched host windows: group-0 68->20.6 s
# at 8 cores, 76.5->50.3 s at 2 cores. 750k pairs was tried and is WORSE
# (group-0 58.7 s vs 24.2 s at 8 cores, same window) — per-flush fixed
# costs dominate below ~1M pairs. Smaller flushes emit more split
# posting rows per (segment, term) — readers merge those (disjoint doc
# ranges; test_tiny_flush_buffer_rank_identical) and the merge stage
# consolidates, so the trade is fragment count (~2x rows, equal bytes at
# 450k docs) for cache residency.
FLUSH_PAIRS = 1_500_000


@contextmanager
def job_label(spark: SparkSession, description: str):
    """Label the Spark jobs run inside the block; the label they replaced
    (the thread's job description, often none) comes back on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def write_partitions(frame: DataFrame, path: str, by: str = "segment") -> None:
    """Overwrite the partitions of `path` that `frame` holds and no other:
    a dynamic partition overwrite, given on this write (the session's
    partitionOverwriteMode is left as it is)."""
    frame.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(by).parquet(path)


# ---------------------------------------------------------------- docs phase


def _partition_rows(batches):
    """One (partition id, row count) row per non-empty partition, read
    from its ``_pid`` column: a count with no shuffle, so no map stage of
    its own (Spark runs each adaptive query stage as a job)."""
    import pyarrow as pa

    pid, n = None, 0
    for rb in batches:
        if rb.num_rows:
            pid, n = rb.column(0)[0].as_py(), n + rb.num_rows
    if n:
        yield pa.record_batch(
            [pa.array([pid], pa.int32()), pa.array([n], pa.int64())],
            names=["_pid", "n"],
        )


@contextmanager
def docs_phase(
    corpus: DataFrame,
    key_cols: list[str],
    text_col: str,
    doc_id_col: str | None = None,
    keep_text: bool = True,
    start_id: int = 0,
):
    """The one docs phase of a build, an incremental add and a resume:
    ``with docs_phase(...) as (docs, n):``.

    One range shuffle: the corpus is range-partitioned and sorted on
    key_cols (rank ids: doc_id = start_id + rank under ORDER BY key_cols,
    unique keys) or on the given doc_id_col (doc_id = that column). The
    tokenizer then runs once per document inside the shuffled frame:
    ``_toks`` (the hashed-token array the posting kernel consumes), ``dl
    = size(_toks)`` and ``sha256`` (the per-row invariant; reference
    analog: the md5 system field, ElasticIndexingStorage.java:404-410).
    keep_text=False drops the raw text after that (store_text=False: the
    payload is dead weight in executor memory and in docs/).

    One persisted frame, materialized by one per-partition count collect
    (_partition_rows) that gives n and the rank offsets. A rank id is
    offset[_pid] + seq: seq is monotonically_increasing_id's low 33 bits
    (its contract: the per-partition record number; rows flow in sorted
    order, so it is the partition-local rank), and the offsets go to the
    JVM as one literal array expression (a Column per literal costs a
    py4j round trip). The id is the global sort rank wherever the
    partition boundaries fall, so it does not depend on the partition
    count (FIXTURES.md §1).

    ``docs(seg_size, lo=0, hi=None)`` projects the cache to the docs
    frame (doc_id, and segment = doc_id // seg_size unless the corpus
    carries its stored segment: a merged index's is not), cut to doc ids
    [lo, hi). A rank-id range is first cut to the partitions that hold
    it, on the cached ``_pid``: Catalyst does not push a filter on the
    derived id below the nondeterministic sequence, so that filter alone
    would scan every cached batch. The cache is released on every exit.

    Range boundaries come from a sample seeded with the RDD id, so the
    file split of docs/ and the split posting rows depend on how many
    RDDs the process made before; ids and table rows do not. Compare
    layouts with each case in a fresh process.
    """
    if doc_id_col is not None:
        corpus = corpus.withColumn("doc_id", F.col(doc_id_col).cast("bigint"))
        key_cols = ["doc_id"]
    frame = (
        corpus.repartitionByRange(
            corpus.sparkSession.sparkContext.defaultParallelism, *key_cols
        )
        .sortWithinPartitions(*key_cols)
        .withColumn("_toks", hash_tokens_expr(text_col))
        .withColumn("dl", F.size("_toks").cast("int"))
        .withColumn("sha256", F.sha2(F.col(text_col), 256))
        .withColumn("_pid", F.spark_partition_id())
    )
    if not keep_text:
        frame = frame.drop(text_col)
    frame = frame.persist()
    try:
        counts = dict(frame.select("_pid").mapInArrow(
            _partition_rows, "_pid int, n long"
        ).collect())
        sizes = [counts.get(p, 0) for p in range(max(counts, default=-1) + 1)]
        n = sum(sizes)
        offsets = list(accumulate(sizes[:-1], initial=start_id))
        ends = [o + c for o, c in zip(offsets, sizes)]
        if doc_id_col is None:
            doc_id = F.element_at(
                F.expr(f"array({', '.join(f'{o}L' for o in offsets)})"),
                F.col("_pid") + 1,
            ) + F.monotonically_increasing_id() % F.lit(1 << 33)
        else:
            doc_id = F.col("doc_id")
        cols = [c for c in frame.columns if c not in ("doc_id", "_pid")]

        def docs(seg_size: int, lo: int = 0, hi: int | None = None) -> DataFrame:
            src = frame
            if hi is not None and doc_id_col is None:
                src = src.where(F.col("_pid").between(
                    bisect_right(ends, lo), bisect_left(offsets, hi) - 1
                ))
            out = src.select(*cols, doc_id.alias("doc_id"))
            if "segment" not in cols:
                out = out.withColumn(
                    "segment", (F.col("doc_id") / F.lit(seg_size)).cast("int")
                )
            if hi is None:
                return out
            return out.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

        yield docs, n
    finally:
        frame.unpersist()


def write_docs(index_dir: str, docs: DataFrame) -> dict:
    """The one docs writer (full build and incremental add): write a
    docs-phase frame minus ``_toks`` to docs/ by segment, observing
    (n_docs, total_dl, max_doc_id) during the write — no separate
    aggregation job. Returns those metrics and the written
    ``docs_schema``.
    """
    base = [
        c for c in docs.columns
        if c not in ("_toks", "doc_id", "sha256", "segment")
    ]
    obs = Observation()
    to_store = docs.select(*base, "doc_id", "sha256", "segment").observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        F.max("doc_id").alias("max_doc_id"),
    )
    with job_label(docs.sparkSession, "index build: docs table"):
        write_partitions(to_store, os.path.join(index_dir, "docs"))
    m = obs.get
    max_id = m["max_doc_id"]
    return {"n_docs": int(m["n_docs"] or 0),
            "total_dl": int(m["total_dl"] or 0),
            "max_doc_id": -1 if max_id is None else int(max_id),
            "docs_schema": to_store.schema.jsonValue()}


# ---------------------------------------------------------------- postings


def posting_rows(
    seg: np.ndarray,
    term: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
) -> pd.DataFrame:
    """Encode posting groups into POSTING_SCHEMA rows.

    doc/tf/dl are the concatenated per-group lanes, sorted by doc within
    each group; group i is [starts[i], ends[i]) with key (seg[i],
    term[i]). The build's flush and the segment merge both emit rows
    through here, so block metadata and lazy-decode byte offsets are
    always laid out by the same encoder."""
    enc = encode_grouped(doc, tf, dl, starts, ends, BLOCK_SIZE)
    return pd.DataFrame(
        {
            "segment": seg.astype(np.int32),
            "term_hash": term.astype(np.int64),
            "df": (ends - starts).astype(np.int32),
            "doc_ids": enc["doc_ids"],
            "tfs": enc["tfs"],
            "dls": enc["dls"],
            "block_last": enc["block_last"],
            "block_max_tf": enc["block_max_tf"],
            "block_min_dl": enc["block_min_dl"],
            "block_doc_off": enc["block_doc_off"],
            "block_tf_off": enc["block_tf_off"],
            "block_dl_off": enc["block_dl_off"],
        }
    )


def build_postings_from_docs(docs: DataFrame) -> DataFrame:
    """One-stage posting build (the Lucene RAM-buffer flush model) over a
    docs-phase frame: each partition is a contiguous doc range in doc_id
    order and carries the hashed-token arrays (``_toks``), so ONE
    mapInArrow stage tf-aggregates, groups and compresses — no shuffle
    and no second tokenizer pass.

    Memory: one partition's uncompressed postings (bounded by the doc-range
    budget — at scale, size partitions/segments so this fits the worker;
    the merge stage consolidates many small segments afterwards).

    A (segment, term) posting may split across a partition boundary —
    readers merge duplicate term rows (disjoint, ordered doc ranges).
    """
    src = docs.select("doc_id", "segment", "dl", "_toks")
    # read on the driver, shipped in the closure
    flush_pairs, out_schema = FLUSH_PAIRS, store.POSTINGS_ARROW

    def _flush(seg_l, doc_l, dl_l, tf_l, code_l):
        seg = np.concatenate(seg_l)
        doc = np.concatenate(doc_l)
        dl = np.concatenate(dl_l)
        tf = np.concatenate(tf_l)
        codes = np.concatenate(code_l)
        # input rows are already in (segment, doc) order — a STABLE sort by
        # term hash alone yields contiguous (term, segment, doc) runs (one
        # int sort). Codes are the GLOBAL xxhash64 term hashes, so the
        # buffered state between batches is pure int64 — no object arrays
        # held, nothing re-hashed at flush time, and no per-partition
        # vocab dict at all. (The round-1 design re-factorized a string
        # column here — the single biggest memory-bandwidth cost in the
        # build; round 2 kept a string->code dict; v4 removes strings from
        # the kernel entirely.)
        #
        # Sort strategy note (r4, measured): numpy's kind="stable" for
        # int64 IS an LSD radix sort — O(n) sequential streaming passes
        # that hardware-prefetch well even with 8 pinned processes
        # contending for one memory system. A top-byte pre-bucket +
        # 256 cache-resident sub-sorts variant was tried and REVERTED:
        # single-process it wins ~1.5x, but under 8-way contention its
        # random-access gathers scale ~2.5x WORSE than the streaming
        # radix passes (A/B: plain 3.30 vs pre-bucket 1.32 sorts/s at 8
        # pinned procs on 12M-pair buffers; in-situ group-0 regressed
        # 46->122s at 8 cores). Keep the plain stable argsort.
        order = np.argsort(codes, kind="stable")
        seg, doc, dl, tf, codes = (
            seg[order], doc[order], dl[order], tf[order], codes[order]
        )
        n = len(doc)
        new_group = np.ones(n, dtype=bool)
        new_group[1:] = (seg[1:] != seg[:-1]) | (codes[1:] != codes[:-1])
        starts = np.flatnonzero(new_group)
        ends = np.append(starts[1:], n)
        # dtype-NATIVE hand-off (r5): int64 doc + int32 tf/dl flow into
        # the codec as-is — the three astype(uint64) widening copies this
        # replaces were ~40% of the gathered bytes in a kernel measured
        # AT its DRAM-streaming ceiling (VERDICT r4), pure waste
        return posting_rows(
            seg[starts], codes[starts], doc, tf, dl, starts, ends
        )

    def build(batches):
        # mapInArrow: the _toks list<int64> column is consumed as ONE flat
        # contiguous values buffer + a lengths vector — zero per-row
        # ndarray objects, zero np.concatenate copies (mapInPandas
        # materializes a small numpy array PER ROW and re-concatenates;
        # at ~1k tokens/doc that is the whole Arrow-boundary cost)
        import pyarrow as pa
        import pyarrow.compute as pc

        seg_l, doc_l, dl_l, tf_l, code_l = [], [], [], [], []
        pending = 0
        cols = None
        for rb in batches:
            if cols is None:
                cols = {n: i for i, n in enumerate(rb.schema.names)}
            toks = rb.column(cols["_toks"])
            if len(toks) == 0:
                continue
            lens_arr = toks.value_lengths()
            if lens_arr.null_count:  # null rows flatten() to nothing
                lens_arr = pc.fill_null(lens_arr, 0)
            lens = np.asarray(
                lens_arr.to_numpy(zero_copy_only=False), dtype=np.int64
            )
            flat = toks.flatten().to_numpy(zero_copy_only=False)
            if flat.size == 0:
                continue
            ridx = np.repeat(
                np.arange(len(toks), dtype=np.int32), lens
            )
            # tf aggregation on int64 hashes: factorize (vectorized int
            # hashing — no Python-object traffic), then one np.unique
            # over composite (row, term) keys. The kernel is DRAM-bound,
            # so the composite key narrows to int32 whenever
            # rows x batch-vocab fits — the unique's sort then moves half
            # the bytes (typical: ~10k rows x vocab well under 2^31);
            # gigantic per-batch vocabularies fall back to int64.
            codes, uniq_hashes = pd.factorize(flat, sort=False)
            n_uniq = len(uniq_hashes)
            if len(toks) * n_uniq < (1 << 31):
                key = ridx * np.int32(n_uniq) + codes.astype(
                    np.int32, copy=False
                )
            else:
                key = ridx.astype(np.int64) * np.int64(n_uniq) + codes
            ukey, counts = np.unique(key, return_counts=True)
            rr = (ukey // n_uniq).astype(np.int64)
            tcode = (ukey % n_uniq).astype(np.int64)
            seg_np = rb.column(cols["segment"]).to_numpy(zero_copy_only=False)
            doc_np = rb.column(cols["doc_id"]).to_numpy(zero_copy_only=False)
            dl_np = rb.column(cols["dl"]).to_numpy(zero_copy_only=False)
            # int32 buffers for seg/dl/tf (dl, tf < 2^31 by contract;
            # doc_id stays int64 — global ids exceed int32 at scale):
            # the flush's sort-gather is bandwidth-bound, narrower lanes
            # move ~30% fewer bytes
            seg_l.append(seg_np[rr].astype(np.int32, copy=False))
            doc_l.append(doc_np[rr])
            dl_l.append(dl_np[rr].astype(np.int32))
            tf_l.append(counts.astype(np.int32))
            code_l.append(np.asarray(uniq_hashes, dtype=np.int64)[tcode])
            pending += len(ukey)
            if pending >= flush_pairs:
                # RAM-buffer flush (Lucene-style): emit a sub-range of the
                # partition as posting rows; readers merge split rows
                yield pa.RecordBatch.from_pandas(
                    _flush(seg_l, doc_l, dl_l, tf_l, code_l),
                    schema=out_schema, preserve_index=False,
                )
                seg_l, doc_l, dl_l, tf_l, code_l = [], [], [], [], []
                pending = 0
        if seg_l:
            yield pa.RecordBatch.from_pandas(
                _flush(seg_l, doc_l, dl_l, tf_l, code_l),
                schema=out_schema, preserve_index=False,
            )

    return src.mapInArrow(build, schema=POSTING_SCHEMA)


def write_terms(spark: SparkSession, index_dir: str, batch: int) -> None:
    """The one terms writer: the term-hash dictionary (df per term_hash)
    of postings segments >= batch, to terms/batch=<batch>, under the
    index or a field's directory (fields/<f>). The build
    writes batch 0; an incremental add writes the batch named by its
    first new segment (O(new); readers sum df across batches,
    InvertedIndex.terms). The groupBy input is pre-aggregated (one row
    per (segment, term)), so partial aggregation makes stopwords harmless.

    sortWithinPartitions("batch", "term_hash") is the ordering the
    partitioned writer requires, so Spark adds no sort of its own and no
    exchange (the groupBy already hash-partitioned the dictionary). Each
    file is hash-ordered by construction, so parquet row-group min/max
    stats prune a query-term lookup to ~1 row group per file.

    Strings are intentionally absent (v4): BM25 only needs (hash -> df);
    query terms are hashed driver-side (functions/hashing.py).
    """
    postings = store.read_table(spark, index_dir, "postings")
    terms = postings.where(F.col("segment") >= batch).groupBy(
        "term_hash"
    ).agg(F.sum("df").alias("df"))
    write_partitions(
        terms.withColumn("batch", F.lit(int(batch))).sortWithinPartitions(
            "batch", "term_hash"
        ),
        os.path.join(index_dir, "terms"), by="batch",
    )


# ---------------------------------------------------------------- posting groups


def write_postings(docs: DataFrame, table_dir: str,
                   field: str | None = None) -> dict:
    """Build the postings of a docs-phase frame (of `field`'s tokens when
    given, else of the phase's) into the frame's segment partitions of
    table_dir/postings. Returns the rows, postings and the docs'
    total_dl, observed during the write."""
    if field is not None:
        docs = docs.withColumn("_toks", hash_tokens_expr(field)).withColumn(
            "dl", F.size("_toks").cast("int"))
    dls, obs = Observation(), Observation()
    write_partitions(
        build_postings_from_docs(
            docs.observe(dls, F.sum("dl").alias("total_dl"))
        ).observe(obs, F.count(F.lit(1)).alias("rows"),
                  F.sum("df").alias("postings")),
        os.path.join(table_dir, "postings"),
    )
    return {"rows": int(obs.get["rows"] or 0),
            "postings": int(obs.get["postings"] or 0),
            "total_dl": int(dls.get["total_dl"] or 0)}


def pending_groups(index_dir: str, stats: dict, per: int | None,
                   prefix: str = "", resume: bool = True) -> list:
    """The (i, segments) groups of `per` segments (None: one group) that
    cover every doc id up to max_doc_id, less those whose marker
    ``<prefix>group-<i>`` records the same segments. Segments are counted
    from max_doc_id, not n_docs: ids have a gap where an add started a
    fresh segment, and given ids may have any."""
    n_segments = max(1, stats["max_doc_id"] // stats["seg_size"] + 1)
    per = per or n_segments

    def done(gi: int, segs: list[int]) -> bool:
        m = store.read_marker(index_dir, f"{prefix}group-{gi}") if resume else None
        return m is not None and m["segments"] == segs

    plan = [(gi, list(range(g, min(g + per, n_segments))))
            for gi, g in enumerate(range(0, n_segments, per))]
    return [(gi, segs) for gi, segs in plan if not done(gi, segs)]


def write_posting_groups(spark: SparkSession, index_dir: str, docs,
                         seg_size: int, todo: list, table_dir: str | None = None,
                         prefix: str = "", max_groups: int | None = None) -> None:
    """The one posting-group writer (build, resume and field build): each
    group's doc range of a docs phase (``docs``) becomes the postings of
    its segments under table_dir (the index, or a field's directory),
    then marker ``<prefix>group-<i>`` with the write's metrics. Groups
    commit concurrently.

    max_groups: fault-injection knob for resume tests — commit that many
    groups, then raise like a killed build."""
    table_dir = table_dir or index_dir

    def write_group(gi: int, segs: list[int]) -> None:
        t0 = time.time()
        part = docs(seg_size, segs[0] * seg_size, (segs[-1] + 1) * seg_size)
        with job_label(spark, f"index build: {prefix}postings group {gi}"):
            m = write_postings(part, table_dir)
        store.write_marker(index_dir, f"{prefix}group-{gi}", {
            "segments": segs, **m,
            "bytes": store.segment_bytes(table_dir, "postings", segs),
            "seconds": time.time() - t0,
        })

    cut = len(todo) if max_groups is None else max_groups
    run = todo[:cut]
    if len(run) == 1:
        write_group(*run[0])
    elif run:
        with ThreadPoolExecutor(max_workers=min(len(run), 8)) as ex:
            futures = [ex.submit(write_group, gi, segs) for gi, segs in run]
            for f in futures:
                f.result()  # surface the first failure
    if len(todo) > cut:
        raise RuntimeError("fault injection: killed mid-build")


# ---------------------------------------------------------------- full build


def require_exactly_once_metrics(spark: SparkSession) -> None:
    """Refuse speculative execution. Build and mutation metrics come from
    Dataset.observe inside the writes, which counts every successful task
    attempt — exactly once only when no task runs twice (stage-retry
    reruns cannot happen in local mode; speculation would add duplicates).
    """
    if spark.conf.get("spark.speculation", "false").lower() == "true":
        raise ValueError(
            "spark.speculation must be off: build and mutation metrics "
            "are observed during writes, and speculative duplicate tasks "
            "would be counted twice"
        )


class IndexBuilder:
    """End-to-end builder with per-segment-group lineage + resume.
    The layout it writes under index_dir is described in store.py."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        num_segments: int = 16,
        segments_per_commit: int = 4,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.num_segments = num_segments
        self.segments_per_commit = segments_per_commit

    def build(
        self,
        corpus: DataFrame,
        key_cols: list[str],
        text_col: str = "content",
        doc_id_col: str | None = None,
        resume: bool = True,
        max_groups: int | None = None,
        store_text: bool = True,
    ) -> dict:
        """Build (or resume) the index. Returns final stats dict.

        max_groups: fault-injection knob for resume tests — abort after
        committing this many segment groups (simulates a mid-build kill).

        store_text=False drops the raw text column from the WRITTEN docs
        table (keys, metadata, dl, sha256 stay), with rank ids or a
        doc_id_col alike — the 100-TB layout: the source Iceberg table
        already holds the content; duplicating it into the index doubles
        the corpus write. Hydration then joins the source by key.

        Every build runs one docs phase (docs_phase). A resume enters one
        only when some segment groups are pending: over the stored docs of
        those segments when docs/ holds the text, else over the corpus.
        """
        spark = self.spark
        index_dir = self.index_dir
        require_exactly_once_metrics(spark)
        t_all = time.time()
        per = self.segments_per_commit

        if resume and store.has_marker(index_dir, "docs"):
            stats = store.read_stats(index_dir)
            todo = pending_groups(index_dir, stats, per)
            if todo:
                src, ids = corpus, doc_id_col
                if text_col in store.docs_schema(stats).names:
                    # the stored docs of the pending segments, with their
                    # ids; a store_text=False index re-derives the tokens
                    # from the corpus (rank ids are deterministic)
                    segs = [s for _, g in todo for s in g]
                    src = store.read_table(spark, index_dir, "docs", stats).where(
                        F.col("segment").isin(segs)
                    ).select("doc_id", text_col)
                    ids = "doc_id"
                with docs_phase(src, key_cols, text_col, ids,
                                keep_text=False) as (docs, _):
                    write_posting_groups(spark, index_dir, docs,
                                         stats["seg_size"], todo,
                                         max_groups=max_groups)
        else:
            t0 = time.time()
            with docs_phase(corpus, key_cols, text_col, doc_id_col,
                            keep_text=store_text) as (docs, n):
                seg_size = max(1, math.ceil(n / self.num_segments))
                m = write_docs(index_dir, docs(seg_size))
                nd = m["n_docs"]
                stats = {"n_docs": nd,
                         "avgdl": m["total_dl"] / nd if nd else 0.0,
                         "total_dl": m["total_dl"],
                         "max_doc_id": m["max_doc_id"],
                         "num_segments": self.num_segments,
                         "seg_size": seg_size, "k1": 1.2, "b": 0.75,
                         "format_version": FORMAT_VERSION,
                         "docs_schema": m["docs_schema"],
                         "fields": {}}
                store.commit_stats(index_dir, stats)
                store.write_marker(
                    index_dir, "docs", {"rows": nd, "seconds": time.time() - t0}
                )
                # the count collect materialized the cache; the posting
                # groups read their doc ranges from it
                write_posting_groups(spark, index_dir, docs, seg_size,
                                     pending_groups(index_dir, stats, per,
                                                    resume=resume),
                                     max_groups=max_groups)

        if not (resume and store.has_marker(index_dir, "terms")):
            t0 = time.time()
            write_terms(spark, index_dir, 0)
            store.write_marker(index_dir, "terms", {"seconds": time.time() - t0})

        stats["build_seconds"] = time.time() - t_all
        return stats


# ---------------------------------------------------------------- field index


def build_field_index(spark: SparkSession, index_dir: str, field: str) -> str:
    """Per-field postings (P5): one more posting set of the primary index
    over one of its docs columns — the reference matches `oname` apart
    from `_all` (ElasticIndexingStorage.java:1381-1383), Lucene's
    per-field posting lists and norms in one segment.

    fields/<field>/ holds only postings and terms, partitioned by the
    primary's segments (its seg_size, and the stored segment of a merged
    index), so a segment number names the same doc range in every table
    and every doc filter and hydration reads the primary docs. One docs
    phase over the stored (doc_id, field, segment) — the text is not
    copied — feeds one posting group through the build's group writer and
    markers (``field-<field>-group-0``, ``field-<field>-terms``; a killed
    build resumes), then one stats commit adds the field and its total_dl
    to the primary's stats.json. A committed field is left as it is:
    add_documents and merge.apply_merge keep it current.
    """
    require_exactly_once_metrics(spark)
    stats = store.read_stats(index_dir)
    field_dir = store.field_dir(index_dir, field)
    if field in stats["fields"]:
        return field_dir
    prefix = f"field-{field}-"
    todo = pending_groups(index_dir, stats, None, prefix)
    if todo:
        src = store.read_table(spark, index_dir, "docs", stats).select(
            "doc_id", field, "segment"
        )
        with docs_phase(src, ["doc_id"], field, "doc_id",
                        keep_text=False) as (docs, _):
            write_posting_groups(spark, index_dir, docs, stats["seg_size"],
                                 todo, field_dir, prefix)
    if todo or not store.has_marker(index_dir, f"{prefix}terms"):
        t0 = time.time()
        write_terms(spark, field_dir, 0)
        store.write_marker(index_dir, f"{prefix}terms",
                           {"seconds": time.time() - t0})
    group = store.read_marker(index_dir, f"{prefix}group-0")
    stats["fields"][field] = {"total_dl": group["total_dl"]}
    store.commit_stats(index_dir, stats)
    return field_dir


def build_from_spec(
    spark: SparkSession,
    index_dir: str,
    objects: DataFrame,
    spec,
    key_cols: list[str],
    version: int | None = None,
    json_col: str | None = None,
    num_segments: int = 16,
    segments_per_commit: int | None = None,
    lookups: dict | None = None,
) -> dict:
    """Spec-driven index build (S7 end-to-end): extraction, storage and
    indexing decisions all come from a versioned YAML TypeSpec
    (functions/typespec.py — the reference's ObjectTypeParsingRules →
    KeywordParser → ElasticIndexingStorage pipeline).

      - every rule output is STORED on the docs table
      - the first indexable full-text key becomes the primary BM25 index
      - each additional indexable full-text key gets a field index (P5)
      - full-text keys marked not-indexed are stored WITHOUT postings
        (T9, IndexingRules.java:77-82 "keep on document, exclude from
        index")
      - lookups: {dim: (df, key_col)} registry for T6 `lookup.` rules
        (KeywordParser.java:309-324) — compiled to broadcast joins
    """
    from ..functions.transforms import apply_rules

    rules = spec.rules(version)
    docs_src = apply_rules(objects, rules, json_col=json_col, lookups=lookups)
    indexed = set(spec.indexed_keys(version))
    ft = [r.name for r in rules if r.full_text and r.name in indexed]
    if not ft:
        raise ValueError(f"spec {spec.name}: no indexable full-text key")
    primary, *extra = ft
    cols = list(dict.fromkeys(key_cols + [r.name for r in rules]))
    builder = IndexBuilder(
        spark, index_dir, num_segments, segments_per_commit or num_segments
    )
    stats = builder.build(docs_src.select(*cols), key_cols=key_cols,
                          text_col=primary)
    for f in extra:
        build_field_index(spark, index_dir, f)
    stats["indexed_fields"] = ft
    stats["stored_only"] = [
        r.name for r in rules if r.full_text and r.name not in indexed
    ]
    if getattr(spec, "sub_object_path", None):
        stats["sub_index"] = build_sub_index(
            spark, index_dir, docs_src, spec, key_cols,
            num_segments=num_segments,
        )
    return stats


def build_sub_index(
    spark: SparkSession,
    index_dir: str,
    docs_src: DataFrame,
    spec,
    key_cols: list[str],
    num_segments: int = 4,
) -> dict:
    """Physical `*_sub` child index from the spec's sub-object-path
    (reference: ObjectTypeParsingRules subObjectType + path-to-sub-objects,
    GenomeFeature.yaml:6-8; per-(type,version) `_sub` index naming
    ElasticIndexingStorage.java:297-302; default searches exclude
    `-*_sub`, :62,1544-1546 — here the exclusion is structural: child
    postings live under <index_dir>/sub/ and the primary index never
    sees them).

    Each element of the repeated field becomes its own child document
    (composite GUID `<parent-key>:<ordinal>`, KeywordParser.java:273-293)
    with ITS OWN postings and BM25 statistics — a GenomeFeature-style
    user searches child docs through child-scoped df/avgdl, exactly
    Lucene's separate-index semantics. Same format/readers/resume
    protocol as the primary (InvertedIndex.sub_index())."""
    from ..functions.transforms import explode_subobjects

    children = explode_subobjects(
        docs_src, key_cols, spec.sub_object_path
    )
    sub_dir = os.path.join(index_dir, "sub")
    b = IndexBuilder(
        spark, sub_dir, num_segments=num_segments,
        segments_per_commit=num_segments,
    )
    stats = b.build(children, key_cols=["sub_id"], text_col="sub_value")
    stats["sub_object_type"] = getattr(spec, "sub_object_type", None)
    return {"n_children": stats["n_docs"], "dir": sub_dir,
            "sub_object_type": stats["sub_object_type"]}


def build_versioned_from_spec(
    spark: SparkSession,
    base_dir: str,
    objects: DataFrame,
    spec,
    key_cols: list[str],
    version_router,
    json_col: str | None = None,
    num_segments: int = 4,
) -> dict:
    """Type-version PHYSICAL coexistence: one index per spec version under
    ``<base_dir>/v<N>/`` — the naming analog of the reference's
    ``prefix + type + "_" + version`` per-(type,version) ES indexes
    (ElasticIndexingStorage.java:297-302), whose coexistence of
    INCOMPATIBLE versions is proven by testTypeVersions
    (ElasticIndexingStorageTest.java:961-1014).

    version_router: a Column expression assigning each object row its
    search-type version (the TypeMapping routing of typespec.resolve_rules
    expressed over the data). Each version's objects are extracted with
    THAT version's rules and built into their own physical index —
    different key sets never share a file. Returns {version: stats}.
    """
    routed = objects.withColumn("_spec_version", version_router)
    versions = sorted(
        int(r[0])
        for r in routed.select("_spec_version").distinct().collect()
        if r[0] is not None
    )
    out = {}
    for v in versions:
        out[v] = build_from_spec(
            spark,
            os.path.join(base_dir, f"v{v}"),
            routed.where(F.col("_spec_version") == v).drop("_spec_version"),
            spec,
            key_cols,
            version=v,
            json_col=json_col,
            num_segments=num_segments,
        )
    return out


def union_version_docs(spark: SparkSession, base_dir: str) -> DataFrame:
    """Search across coexisting versions — the ES index-pattern scan over
    ``type_*`` (P9 analog applied to versions): union the per-version
    docs tables BY NAME with null-filling for keys a version does not
    define (unionByName(allowMissingColumns) — incompatible schemas
    coexist, exactly the testTypeVersions invariant). Each row carries
    its ``spec_version``; (spec_version, doc_id) is the unique key. Each
    version is read with its own committed schema.
    """
    from functools import reduce

    vdirs = sorted(
        e.name for e in os.scandir(base_dir)
        if e.is_dir() and e.name.startswith("v") and e.name[1:].isdigit()
    )
    if not vdirs:
        raise FileNotFoundError(f"no version indexes under {base_dir}")
    frames = [
        store.read_table(spark, os.path.join(base_dir, d), "docs").withColumn(
            "spec_version", F.lit(int(d[1:]))
        )
        for d in vdirs
    ]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


# ---------------------------------------------------------------- incremental


def add_documents(
    spark: SparkSession,
    index_dir: str,
    new_corpus: DataFrame,
    key_cols: list[str],
    text_col: str = "content",
    batch_id: str | None = None,
) -> dict:
    """Incremental add (M6 / NEW_VERSION events): index new docs as NEW
    segments appended after the committed max doc_id.

    Runs the build's docs phase (docs_phase: one range shuffle, one
    tokenizer pass, one persisted frame) and its docs and terms writers
    on doc ids offset past the committed ones.
    O(new) by construction — existing postings/docs/terms files are never
    re-read or rewritten:
      docs     -> dynamic-overwrite of the NEW segment partitions only
      postings -> dynamic-overwrite of the NEW segment partitions only
      terms    -> this add's df contribution written to its own
                  terms/batch=<first_new_seg> partition (readers aggregate
                  lazily); no global term-dictionary rebuild
      fields   -> each committed field's postings of the NEW segments,
                  from the same cached frame with the field's column
                  tokenized, and its own terms batch
      stats    -> arithmetic update from (n_new, total_dl_new), both
                  observed during the docs write, and each field's
                  total_dl_new, observed during its postings write; the
                  docs schema gains the new docs' columns it lacks

    Crash safety: every data write is an idempotent dynamic partition
    overwrite keyed off the COMMITTED stats (start_id), so re-running a
    failed add rewrites the same partitions. The completion marker
    `add-<key>` is written after the data commits and before the stats
    update; if a previous run died between marker and stats, the stats
    update is completed from the marker payload first. Pass `batch_id`
    (an idempotence token, e.g. the event batch id) for exactly-once
    semantics across retries of the same logical add.

    Note: BM25 idf/avgdl change with N, so scores shift corpus-wide by
    design (same as ES refresh semantics). The merge stage
    (operators/merge.py) consolidates small incremental segments later.
    """
    require_exactly_once_metrics(spark)
    stats = store.read_stats(index_dir)
    seg_size = stats["seg_size"]
    fields = sorted(stats["fields"])
    missing = [f for f in fields if f not in new_corpus.columns]
    if missing:
        raise ValueError(f"new documents lack the indexed fields {missing}")

    def _finish(marker: dict) -> dict:
        # data committed by a previous (or this) run; roll the stats forward
        if stats.get("max_doc_id", -1) < marker["max_doc_id"]:
            stats["n_docs"] += marker["n_new"]
            stats["total_dl"] = stats.get("total_dl", 0) + marker["total_dl_new"]
            stats["avgdl"] = stats["total_dl"] / stats["n_docs"]
            stats["max_doc_id"] = marker["max_doc_id"]
            for f, total_dl_new in marker["fields"].items():
                stats["fields"][f]["total_dl"] += total_dl_new
            store.add_docs_columns(
                stats, StructType.fromJson(marker["docs_schema"])
            )
            store.commit_stats(index_dir, stats)
        return {"added": marker["n_new"],
                "first_segment": marker["first_segment"],
                "n_docs": stats["n_docs"], "avgdl": stats["avgdl"]}

    # new ids continue the dense sequence; new segments start on a fresh
    # boundary so they never straddle existing ones
    first_new_seg = math.ceil((stats.get("max_doc_id", -1) + 1) / seg_size)
    start_id = first_new_seg * seg_size
    marker_name = f"add-{batch_id or start_id}"
    prev = store.read_marker(index_dir, marker_name)
    if prev is not None:
        out = _finish(prev)
        if batch_id is not None:
            return out  # exactly-once: this logical add already applied
        # no token: previous add at this start_id committed but its stats
        # were just rolled forward — recompute the boundary and continue
        first_new_seg = math.ceil((stats["max_doc_id"] + 1) / seg_size)
        start_id = first_new_seg * seg_size
        marker_name = f"add-{start_id}"

    with docs_phase(new_corpus, key_cols, text_col,
                    start_id=start_id) as (docs, n_new):
        if n_new == 0:
            return {"added": 0, "first_segment": first_new_seg,
                    "n_docs": stats["n_docs"], "avgdl": stats.get("avgdl", 0.0)}
        m = write_docs(index_dir, docs(seg_size))
        write_postings(docs(seg_size), index_dir)
        field_dl = {f: write_postings(docs(seg_size), store.field_dir(
            index_dir, f), f)["total_dl"] for f in fields}
    for table_dir in [index_dir] + [store.field_dir(index_dir, f) for f in fields]:
        write_terms(spark, table_dir, first_new_seg)

    marker = {
        "n_new": m["n_docs"],
        "total_dl_new": m["total_dl"],
        "first_segment": first_new_seg,
        "max_doc_id": m["max_doc_id"],
        "docs_schema": m["docs_schema"],
        "fields": field_dl,
    }
    store.write_marker(index_dir, marker_name, marker)
    return _finish(marker)
