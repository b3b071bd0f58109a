"""Segment merge: the Lucene-merge analog for multi-batch index builds.

Incremental adds (NEW_VERSION events) create new doc_id ranges = new
segments; over time many small segments hurt query fan-out. The merge
stage rewrites a set of source segments into one target segment per
group: postings with the same term are concatenated (doc_id ranges are
disjoint and segment-ordered, so the k-way merge is an ordered concat)
and re-compressed, block-max metadata rebuilt.

Expressed as groupBy(new_segment, term) + applyInPandas — one shuffle,
bounded groups (total postings of the merged segments per term).
"""

from __future__ import annotations

from collections.abc import Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codec import delta_decode, varint_decode
from . import store
from .indexer import posting_rows
from .store import POSTING_SCHEMA


def merge_postings(
    postings: DataFrame, seg_map: Mapping[int, int]
) -> DataFrame:
    """Rewrite postings under a segment remapping {old_seg -> new_seg}.

    Segments not in seg_map pass through unchanged (narrow filter); the
    merged ones shuffle once on (new_segment, term).
    """
    keep = postings.where(~F.col("segment").isin([int(s) for s in seg_map]))
    to_merge = postings.where(F.col("segment").isin([int(s) for s in seg_map]))
    map_expr = F.create_map(
        *[F.lit(x) for kv in seg_map.items() for x in kv]
    )
    remapped = to_merge.withColumn("new_segment", map_expr[F.col("segment")])

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        new_seg = int(pdf["new_segment"].iloc[0])
        term = int(pdf["term_hash"].iloc[0])
        parts = [
            (
                delta_decode(bytes(r["doc_ids"])),
                varint_decode(bytes(r["tfs"])),
                varint_decode(bytes(r["dls"])),
            )
            for _, r in pdf.iterrows()
        ]
        parts = [p for p in parts if len(p[0])]
        # disjoint doc ranges (a source segment may also be split across
        # build partitions) — order by first doc id
        parts.sort(key=lambda p: int(p[0][0]))
        ids = np.concatenate([p[0] for p in parts]).astype(np.uint64)
        tfs = np.concatenate([p[1] for p in parts]).astype(np.uint64)
        dls = np.concatenate([p[2] for p in parts]).astype(np.uint64)
        assert np.all(np.diff(ids.astype(np.int64)) > 0), "overlapping segments"
        # re-encode through the SAME encoder the build flush uses — block
        # metadata AND lazy-decode byte offsets rebuilt consistently
        return posting_rows(
            np.array([new_seg]), np.array([term]), ids, tfs, dls,
            np.array([0]), np.array([len(ids)]),
        )

    merged = remapped.groupBy("new_segment", "term_hash").applyInPandas(
        merge_group, schema=POSTING_SCHEMA
    )
    return keep.unionByName(merged)


def merge_docs(docs: DataFrame, seg_map: Mapping[int, int]) -> DataFrame:
    """Rewrite the docs table's segment column under the same remapping,
    so docs and postings stay partitioned alike: a segment number names
    the same doc range in both tables."""
    map_expr = F.create_map(*[F.lit(x) for kv in seg_map.items() for x in kv])
    return docs.withColumn(
        "segment",
        F.coalesce(map_expr[F.col("segment")], F.col("segment")).cast("int"),
    )


def apply_merge(
    spark, index_dir: str, seg_map: Mapping[int, int]
) -> dict:
    """Apply a segment merge to an on-disk index: rewrite the affected
    postings, every field's postings and the docs partitions under the
    same mapping, drop the emptied source partitions, and record the
    mapping in lineage. A segment number then names the same doc range
    in every table.

    Only partitions named in seg_map are read (partition pruning) or
    written (one staged write per table, store.replace_segments) — cost is
    O(merged segments), not O(index). At 100 TB this is the Lucene
    background-merge analog: many small incremental segments -> few big
    ones, bounded I/O per merge round.
    """
    seg_map = {int(k): int(v) for k, v in seg_map.items()}
    sources = [s for s, t in seg_map.items() if s != t]
    targets = sorted({t for t in seg_map.values()})
    if not sources:
        return {"merged": 0, "targets": []}
    affected = sorted(seg_map)
    fields = store.read_stats(index_dir)["fields"]
    for table_dir in [index_dir] + [store.field_dir(index_dir, f)
                                    for f in sorted(fields)]:
        postings = store.read_table(spark, table_dir, "postings").where(
            F.col("segment").isin(affected)
        )
        store.replace_segments(
            spark, table_dir, "postings", merge_postings(postings, seg_map),
            drop=sources,
        )
    docs = store.read_table(spark, index_dir, "docs").where(
        F.col("segment").isin(affected)
    )
    store.replace_segments(
        spark, index_dir, "docs", merge_docs(docs, seg_map), drop=sources
    )
    store.write_marker(
        index_dir,
        f"merge-{min(sources)}-{max(sources)}",
        {"seg_map": {str(k): v for k, v in seg_map.items()},
         "sources": sources, "targets": targets},
    )
    return {"merged": len(sources), "targets": targets}


def plan_merges(
    segment_sizes: Mapping[int, int], target_size: int
) -> dict[int, int]:
    """Greedy merge policy: pack undersized segments (ascending id) into
    target-size bins. Returns {old_seg -> new_seg (the bin's first seg)}."""
    seg_map: dict[int, int] = {}
    current, acc = None, 0
    for seg in sorted(segment_sizes):
        size = segment_sizes[seg]
        if size >= target_size:
            continue
        if current is None or acc + size > target_size:
            current, acc = seg, 0
        if current != seg:
            seg_map[seg] = current
        seg_map.setdefault(current, current)
        acc += size
    return seg_map
