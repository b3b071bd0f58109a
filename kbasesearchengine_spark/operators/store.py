"""Index store: the on-disk layout and how a write is committed (the
part the reference leaves to Elasticsearch). Build, incremental add,
update-by-query and merge commit stats, markers and segment swaps here,
and readers load stats and open driver-side snapshots here.

Layout under index_dir/:
  docs/        parquet, partitioned by segment: keys, metadata, dl,
               doc_id, sha256 (text too unless store_text=False)
  postings/    parquet, partitioned by segment (indexer.POSTING_SCHEMA:
               term_hash, df, compressed doc_ids/tfs/dls, block metadata)
  terms/       parquet (term_hash, df), partitioned by batch: batch=0 from
               the build, batch=<first new segment> per incremental add;
               readers sum df across batches
  stats.json   {n_docs, avgdl, total_dl, max_doc_id, num_segments,
               seg_size, k1, b, format_version}
  _lineage/    <name>.json markers with metrics: docs, group-<i>, terms,
               add-<key>, update-<segs>-<tag>, merge-<lo>-<hi>
  _staging/    transient: replace_segments stages rewritten partitions here
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

FORMAT_VERSION = 4  # bump on any index layout/schema change
# v3: docs/ partitioned by segment (partition-pruned reads; idempotent
#     incremental adds + merge write-back), terms/ partitioned by batch
#     (each add contributes its own partition — O(new) increments, global
#     df aggregated lazily at read time), stats carries max_doc_id/total_dl
# v4: postings + terms keyed by term_hash (bigint, Spark xxhash64 of the
#     token, hashed JVM-side inside the tokenize transform) instead of the
#     term string. The Arrow boundary ships array<bigint> — no per-token
#     Python strings anywhere in the build; parquet pushdown on int64 is
#     cheaper than string at query time; query terms are hashed
#     driver-side by the compatible pure-Python XXH64
#     (functions/hashing.py; collision bound documented there).

_STATS = "stats.json"
_LINEAGE = "_lineage"
_STAGING = "_staging"


# ---------------------------------------------------------------- stats


def read_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, _STATS)) as f:
        return json.load(f)


def commit_stats(index_dir: str, stats: dict) -> None:
    """Atomic: a failed write leaves the previous stats.json complete."""
    path = os.path.join(index_dir, _STATS)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, path)


def is_index(index_dir: str) -> bool:
    return os.path.exists(os.path.join(index_dir, _STATS))


def open_dataset(index_dir: str, table: str):
    """A pyarrow dataset over one table's files as they are listed now: a
    snapshot, so files committed later are not read through it. Raises
    OSError (or pyarrow's ArrowInvalid) when the store is not readable
    through pyarrow; readers then fall back to Spark."""
    import pyarrow.dataset as pads

    return pads.dataset(
        os.path.join(index_dir, table), format="parquet", partitioning="hive"
    )


# ---------------------------------------------------------------- lineage


def _marker_path(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, _LINEAGE, f"{name}.json")


def has_marker(index_dir: str, name: str) -> bool:
    return os.path.exists(_marker_path(index_dir, name))


def read_marker(index_dir: str, name: str) -> dict | None:
    if not has_marker(index_dir, name):
        return None
    with open(_marker_path(index_dir, name)) as f:
        return json.load(f)


def write_marker(index_dir: str, name: str, payload: dict) -> None:
    path = _marker_path(index_dir, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic


# ---------------------------------------------------------------- segments


def write_empty(frame: DataFrame, index_dir: str, table: str, part: str):
    """A zero-row partitioned write emits no files: leave a schema-bearing
    empty partition (`frame` minus its partition column) so every reader
    can still infer the table's schema."""
    frame.limit(0).write.mode("overwrite").parquet(
        os.path.join(index_dir, table, part)
    )


def segment_bytes(index_dir: str, table: str, segs) -> int:
    """Data-file bytes of the given segment partitions of a table."""
    nbytes = 0
    for s in segs:
        seg_dir = os.path.join(index_dir, table, f"segment={s}")
        if os.path.isdir(seg_dir):
            nbytes += sum(
                e.stat().st_size
                for e in os.scandir(seg_dir)
                if e.is_file() and not e.name.startswith((".", "_"))
            )
    return nbytes


def replace_segments(
    spark: SparkSession, index_dir: str, table: str, frame: DataFrame, drop=()
) -> None:
    """Swap rewritten segment partitions of a table into place.

    Spark refuses to overwrite a path it is reading from, so `frame` is
    written once, partitioned by segment, to a staging directory (static
    overwrite: partitions a killed run left there are cleared); each
    staged segment then replaces its live one, the `drop` segments are
    deleted and the staging directory goes. Per-partition swaps, not
    atomic across partitions; re-running the same rewrite is idempotent.
    """
    staging = os.path.join(index_dir, _STAGING, table)
    frame.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("segment").parquet(staging)
    live = os.path.join(index_dir, table)
    for entry in os.scandir(staging):
        if entry.is_dir() and entry.name.startswith("segment="):
            dst = os.path.join(live, entry.name)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            shutil.move(entry.path, dst)
    for s in drop:
        d = os.path.join(live, f"segment={s}")
        if os.path.isdir(d):
            shutil.rmtree(d)
    shutil.rmtree(os.path.join(index_dir, _STAGING))
