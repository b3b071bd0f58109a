"""Index store: the on-disk layout, the tables' schemas and how a write
is committed (the part the reference leaves to Elasticsearch). Build,
incremental add, update-by-query and merge commit stats, markers and
segment swaps here, and readers load stats, read tables and open
driver-side snapshots here.

Layout under index_dir/:
  docs/        parquet, partitioned by segment: keys, metadata, dl,
               doc_id, sha256 (text too unless store_text=False); its
               schema is committed in stats.json
  postings/    parquet, partitioned by segment (POSTINGS_ARROW:
               term_hash, df, compressed doc_ids/tfs/dls, block metadata)
  terms/       parquet (TERMS_ARROW: term_hash, df), partitioned by
               batch: batch=0 from the build, batch=<first new segment>
               per incremental add; readers sum df across batches
  fields/<f>/  a field's posting set: postings/ and terms/ only, in the
               formats above, partitioned by the primary's segments; a
               field has no docs and no stats of its own
  stats.json   {n_docs, avgdl, total_dl, max_doc_id, num_segments,
               seg_size, k1, b, format_version, docs_schema,
               fields: {<f>: {total_dl}}}; n_docs and max_doc_id are
               every field's too, so one commit covers them all
  _lineage/    <name>.json markers with metrics: docs, group-<i>, terms,
               field-<f>-group-0, field-<f>-terms, add-<key>,
               update-<segs>-<tag>, merge-<lo>-<hi>
  _staging/    transient: replace_segments stages rewritten partitions here

Every table read is given its schema (read_table, open_dataset); none is
inferred from a footer. A column a mutation adds joins the committed
docs schema and reads as null from files without it (the reference's
index mapping, ElasticIndexingStorage.java:1797-1873). A zero-row write
leaves a table with no data file, which reads as empty.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

FORMAT_VERSION = 6  # bump on any index layout/schema change
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
# v5: stats.json commits the docs schema (docs_schema), and every reader
#     is given a schema; no empty schema-bearing partition is written.
# v6: a field index is a posting set of the primary (fields/<f>/postings
#     and terms on the primary's segments); its total_dl is committed in
#     the primary's stats.json, and it has no docs or stats.json.

# postings in the order the posting kernel and the merge emit them
POSTINGS_ARROW = pa.schema(
    [("segment", pa.int32()), ("term_hash", pa.int64()), ("df", pa.int32())]
    + [(c, pa.binary()) for c in ("doc_ids", "tfs", "dls")]
    + [(c, pa.list_(pa.int64())) for c in (
        "block_last", "block_max_tf", "block_min_dl", "block_doc_off",
        "block_tf_off", "block_dl_off")]
)
POSTING_SCHEMA = from_arrow_schema(POSTINGS_ARROW)
TERMS_ARROW = pa.schema(
    [("term_hash", pa.int64()), ("df", pa.int64()), ("batch", pa.int32())]
)
# a partitioned table reads with its partition column last
_ARROW_READ = {"postings": POSTINGS_ARROW.remove(0).append(
                   POSTINGS_ARROW.field("segment")),
               "terms": TERMS_ARROW}
_SPARK_READ = {t: from_arrow_schema(s) for t, s in _ARROW_READ.items()}

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


def field_dir(index_dir: str, field: str) -> str:
    """Where a field's postings/ and terms/ live."""
    return os.path.join(index_dir, "fields", field)


def is_index(index_dir: str) -> bool:
    return os.path.exists(os.path.join(index_dir, _STATS))


# ---------------------------------------------------------------- schemas


def docs_schema(stats: dict) -> StructType:
    """The committed docs schema: data columns, then `segment`."""
    return StructType.fromJson(stats["docs_schema"])


def docs_columns(index_dir: str) -> list[str]:
    return docs_schema(read_stats(index_dir)).names


def add_docs_columns(stats: dict, schema: StructType) -> None:
    """Set `stats`' docs schema to the committed one plus the columns of
    `schema` it lacks, matched by name; a committed column keeps its
    type. The caller commits the stats."""
    have = [f for f in docs_schema(stats) if f.name != "segment"]
    names = {f.name for f in have}
    new = [f for f in schema if f.name not in names and f.name != "segment"]
    stats["docs_schema"] = StructType(
        have + new + [StructField("segment", IntegerType())]
    ).jsonValue()


def read_table(
    spark: SparkSession, index_dir: str, table: str, stats: dict | None = None
) -> DataFrame:
    """A Spark read of docs, postings or terms, given its schema: the
    constant one, or for docs the one committed in `stats` (a handle's
    snapshot; stats.json as it is now when not given)."""
    if table == "docs":
        schema = docs_schema(stats or read_stats(index_dir))
    else:
        schema = _SPARK_READ[table]
    return spark.read.schema(schema).parquet(os.path.join(index_dir, table))


def docs_arrow_schema(stats: dict) -> pa.Schema:
    """The committed docs schema as pyarrow reads it."""
    return to_arrow_schema(docs_schema(stats))


def open_dataset(index_dir: str, table: str, stats: dict | None = None):
    """A pyarrow dataset over the docs, postings or terms files as they
    are listed now: a snapshot, so files committed later are not read
    through it. Docs are given the schema committed in `stats`. Raises
    OSError (or pyarrow's ArrowInvalid) when the store is not readable
    through pyarrow; readers then fall back to Spark."""
    import pyarrow.dataset as pads

    if table == "docs":
        schema = docs_arrow_schema(stats or read_stats(index_dir))
    else:
        schema = _ARROW_READ[table]
    return pads.dataset(
        os.path.join(index_dir, table), schema=schema,
        format="parquet", partitioning="hive",
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
