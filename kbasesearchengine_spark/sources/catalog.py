"""Corpus source + index catalog operations.

The reference's storage surface (SURVEY §2.1): the corpus scan (S1/S2),
index DDL (S5), and catalog ops — listIndeces / deleteIndex / refresh
(S6, ElasticIndexingStorage.java:1603-1618,197-205) — mapped onto table
directories. The production target is Iceberg (`spark.read.format(
"iceberg")` — snapshot-isolated commits, partition pruning); this
container has no Iceberg jars, so the reader falls back to parquet with
the same layout and the gap is import-gated, not papered over.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..operators import store

CORPUS_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)


def read_corpus(spark: SparkSession, source: str) -> DataFrame:
    """Corpus scan (S1/S2). `source` is an Iceberg table name
    (catalog.db.table) or a parquet path. Iceberg gives snapshot reads +
    partition pruning on the cluster; parquet is the sandbox fallback."""
    if "/" not in source and not os.path.exists(source):
        try:
            return spark.read.format("iceberg").load(source)
        except Exception as e:  # noqa: BLE001 — jar absent in this container
            raise RuntimeError(
                f"Iceberg table {source!r} requested but the Iceberg runtime "
                "is not on the classpath (add iceberg-spark-runtime via "
                "spark-submit --packages)"
            ) from e
    return spark.read.parquet(source)


# ----------------------------------------------------------------- index DDL


def index_ddl(db: str, name: str) -> list[str]:
    """S5 index DDL (the reference's explicit ES mapping creation,
    ElasticIndexingStorage.java:1797-1873): CREATE TABLE statements for
    the index's three tables on an Iceberg catalog. The partition clauses
    mirror the directory layout this engine writes locally — `segment`
    identity partitioning (the shard analog; partition pruning = shard
    routing) and per-batch terms partitions (O(new) incremental commits).

    Run via spark.sql(...) on a cluster with the Iceberg runtime; in this
    sandbox (no Iceberg jars) the same layout is parquet directories.
    """
    # the postings columns are DERIVED from the store's one schema, so the
    # DDL can never drift from what build/merge actually emit (the v4
    # layout added block_doc_off/tf_off/dl_off byte offsets that wand.py's
    # lazy per-block decode requires)
    posting_cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString().upper()}"
        for f in store.POSTING_SCHEMA.fields
    )
    return [
        f"""CREATE TABLE IF NOT EXISTS {db}.{name}_docs (
  doc_id BIGINT, repo STRING, path STRING, commit STRING, lang STRING,
  dl INT, sha256 STRING, segment INT)
USING iceberg PARTITIONED BY (segment)
TBLPROPERTIES ('write.distribution-mode' = 'none')""",
        f"""CREATE TABLE IF NOT EXISTS {db}.{name}_postings (
  {posting_cols})
USING iceberg PARTITIONED BY (segment)
TBLPROPERTIES ('write.distribution-mode' = 'none',
               'sort-order' = 'term_hash ASC')""",
        f"""CREATE TABLE IF NOT EXISTS {db}.{name}_terms (
  term_hash BIGINT, df BIGINT, batch INT)
USING iceberg PARTITIONED BY (batch)""",
    ]


# ------------------------------------------------------------- index catalog


def list_indexes(base_dir: str) -> list[dict]:
    """listIndeces analog: every index directory with its stats."""
    out = []
    if not os.path.isdir(base_dir):
        return out
    for name in sorted(os.listdir(base_dir)):
        index_dir = os.path.join(base_dir, name)
        if store.is_index(index_dir):
            out.append({"name": name, **store.read_stats(index_dir)})
    return out


def delete_index(base_dir: str, name: str) -> bool:
    """deleteIndex analog (destructive; drops data + lineage)."""
    path = os.path.join(base_dir, name)
    if not os.path.isdir(path):
        return False
    shutil.rmtree(path)
    return True


def refresh_index(spark: SparkSession, index_dir: str) -> None:
    """refreshIndex analog: drop cached file listings so new segment
    commits become visible to readers (REFRESH TABLE equivalent)."""
    spark.catalog.clearCache()


def index_exists(index_dir: str) -> bool:
    return store.is_index(index_dir)
