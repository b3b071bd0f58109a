"""In-place document mutations: the update-by-query family (M2-M7).

The reference mutates docs with ES `_update_by_query` painless scripts —
share/unshare (M2/M3, ElasticIndexingStorage.java:666-763), publish/
unpublish (M4/M5, :765-835), set field / set flags (M6/M7, :837-915).
Spark-first disposition: immutable files + partition-scoped rewrite —
find the segments containing matches (one pruned pre-scan), rewrite ONLY
those partitions through a staging dir (store.replace_segments).
Cost is O(matched segments), never O(index). On a lakehouse catalog this
is exactly `MERGE INTO docs USING ... WHEN MATCHED THEN UPDATE`.

Postings are untouched: mutated fields are metadata (filter context),
not indexed text — matching the reference, whose update scripts never
re-analyze content.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, Observation, SparkSession
from pyspark.sql import functions as F

from . import store
from .indexer import require_exactly_once_metrics


def update_docs_fields(
    spark: SparkSession,
    index_dir: str,
    predicate: Column,
    assignments: dict,
) -> dict:
    """Set fields on every doc matching `predicate` (update-by-query).

    assignments: {column: value-or-Column}. New columns are created
    (null outside the match set, also on segments not rewritten: they
    join the committed docs schema); existing columns keep their old
    value outside the match set. Returns {updated_rows, updated_segments}.
    """
    require_exactly_once_metrics(spark)
    stats = store.read_stats(index_dir)
    docs = store.read_table(spark, index_dir, "docs", stats)

    segs = [
        int(r["segment"])
        for r in docs.where(predicate).select("segment").distinct().collect()
    ]
    if not segs:
        return {"updated_rows": 0, "updated_segments": []}

    part = docs.where(F.col("segment").isin(segs))
    # ONE select evaluates every assignment (and the predicate) against
    # the ORIGINAL row state — sequential withColumn would let an early
    # assignment rewrite a column the predicate (or a later assignment)
    # reads, silently skipping the remaining updates on those rows (bit
    # us in r5: unshare's lastin removal made the lastin-membership
    # predicate false before the groups[] removal evaluated). This is
    # UPDATE semantics: all right-hand sides see the pre-update row.
    new_cols: dict[str, Column] = {}
    for col, val in assignments.items():
        expr = val if isinstance(val, Column) else F.lit(val)
        if col in part.columns:
            new_cols[col] = (
                F.when(predicate, expr).otherwise(F.col(col)).alias(col)
            )
        else:
            new_cols[col] = F.when(predicate, expr).alias(col)
    # matched-row count observed during the staging write — no separate
    # count job (exactly-once under the same gate as the index build)
    obs = Observation()
    src = part.observe(
        obs,
        F.sum(F.when(predicate, 1).otherwise(0)).cast("bigint").alias("n"),
    )
    updated = src.select(
        *[new_cols.pop(c) if c in new_cols else F.col(c)
          for c in part.columns],
        *new_cols.values(),
    )

    store.replace_segments(spark, index_dir, "docs", updated)
    n = int(obs.get["n"] or 0)
    store.add_docs_columns(stats, updated.schema)
    store.commit_stats(index_dir, stats)

    # marker name must be stable ACROSS processes (idempotence protocol:
    # md5, not Python's per-process-salted hash()) yet UNIQUE per logical
    # mutation — it hashes the assignment VALUES (a Column stringifies to
    # its expression tree) as well as the field names, so consecutive
    # share calls for different groups over the same segments each leave
    # their own lineage record instead of overwriting one marker
    # (ADVICE r4), while a retry of the SAME mutation stays idempotent.
    field_tag = hashlib.md5(
        (str(predicate) + "|" + ",".join(
            f"{k}={assignments[k]}" for k in sorted(
                str(k) for k in assignments
            )
        )).encode()
    ).hexdigest()[:8]
    store.write_marker(
        index_dir,
        f"update-{min(segs)}-{max(segs)}-{field_tag}",
        {"updated_rows": int(n), "updated_segments": sorted(segs),
         "fields": sorted(str(k) for k in assignments)},
    )
    return {"updated_rows": int(n), "updated_segments": sorted(segs)}


# -- the reference's concrete mutations, expressed over metadata ----------


def publish_objects(spark, index_dir: str, predicate: Column) -> dict:
    """M4 publish: set the public flag (ElasticIndexingStorage.java:
    765-800 setObjectsPublic)."""
    return update_docs_fields(spark, index_dir, predicate, {"is_public": True})


def unpublish_objects(spark, index_dir: str, predicate: Column) -> dict:
    """M5 unpublish (:802-835)."""
    return update_docs_fields(spark, index_dir, predicate, {"is_public": False})


def set_access_group(
    spark, index_dir: str, predicate: Column, group: int, shared: bool = True
) -> dict:
    """M2/M3 share/unshare collapsed to metadata (SURVEY §2.3): record the
    access group and the shared flag on matching docs
    (ElasticIndexingStorage.java:666-763). Single-group legacy form; the
    multi-group array semantics live in share_with_group/unshare_group."""
    return update_docs_fields(
        spark, index_dir, predicate,
        {"access_group": int(group), "shared": bool(shared)},
    )


def share_with_group(spark, index_dir: str, predicate: Column, group: int) -> dict:
    """M2 share, multi-group: the reference stores per-version group ARRAYS
    (lastin[]/groups[], ElasticIndexingStorage.java:666-763 — one doc can
    be shared into several groups; exercised by testSharing :726-773).
    access_groups is array<int>; sharing is an idempotent array_union."""
    g = int(group)
    return update_docs_fields(
        spark, index_dir, predicate,
        {"access_groups": F.array_union(_groups_col(index_dir),
                                        F.array(F.lit(g)))},
    )


def unshare_group(spark, index_dir: str, predicate: Column, group: int) -> dict:
    """M3 unshare, multi-group: remove ONE group, keep the rest
    (ElasticIndexingStorage.java unshare script removes the id from the
    arrays without touching other grants)."""
    return update_docs_fields(
        spark, index_dir, predicate,
        {"access_groups": F.array_remove(_groups_col(index_dir),
                                         int(group))},
    )


# =====================================================================
# Version-conditioned grants: the reference's lastin[]/groups[]/extpub[]
# access-doc arrays (ElasticIndexingStorage.java:666-763). Semantics
# pinned by UPDATE_ACC_GRP_VERS_TEMPLATE (:666-685) and testSharing
# (ElasticIndexingStorageTest.java:726-773):
#
#   lastin[]  version-PINNED share pointer — at most ONE version of an
#             object carries a given group; re-sharing another version
#             MOVES the pointer (remove from old version, add to new).
#             Default AccessFilter visibility = lastin ∋ group.
#   groups[]  accumulates every (version, group) ever shared; share
#             never removes it elsewhere, external unshare removes it on
#             the pointed version only. withAllHistory visibility.
#   extpub[]  external-publication markers; an exists() clause ORed into
#             the access block when with_public is set (:1461-1476).
#
# On new-version indexing the reference re-runs the same script with the
# HOME group (+public group) and the new last version — home/public
# pointers move to the new version; externally shared groups stay pinned
# where they were shared (testSharing: af11 keeps seeing v1 after v2/v3
# exist, until v2 is shared into 11 — then v1 disappears for af11).
# =====================================================================

PUBLIC_ACCESS_GROUP = -1  # ElasticIndexingStorage.java PUBLIC_ACCESS_GROUP


def share_object_version(
    spark, index_dir: str, obj_predicate: Column, version: int, group: int
) -> dict:
    """shareObjects analog (:852-894): pin `group`'s lastin pointer to
    `version` of every object matched by obj_predicate (which must match
    ALL versions of the object — the reference's prefix query). One
    update-by-query: the pinned version gains the group in lastin+groups;
    every other version loses it from lastin (and extpub), exactly the
    UPDATE_ACC_GRP_VERS_TEMPLATE script."""
    return _pin_version(spark, index_dir, obj_predicate, version, group,
                        publish=False)


def unshare_object_version(
    spark, index_dir: str, obj_predicate: Column, group: int,
    home_group: int | None = None,
) -> dict:
    """unshareObjects analog (removeAccessGroupForVersion :745-790):
    remove `group`'s lastin pointer (wherever it is pinned) and its
    extpub marker; an EXTERNAL group (group != home_group — the
    reference's fromAllGroups flag) is removed from groups[] on that
    version too, so withAllHistory stops seeing it there. Only rows
    actually carrying the pointer are touched (the reference's
    term-lastin query clause)."""
    g = int(group)
    lastin, extpub, groups = _arr_cols(
        index_dir, "access_lastin", "extpub", "access_groups"
    )
    assignments = {
        "access_lastin": F.array_remove(lastin, g),
        "extpub": F.array_remove(extpub, g),
    }
    if home_group is None or int(home_group) != g:
        assignments["access_groups"] = F.array_remove(groups, g)
    pred = obj_predicate & F.coalesce(
        F.array_contains(lastin, g), F.lit(False)
    )
    return update_docs_fields(spark, index_dir, pred, assignments)


def promote_last_version(
    spark, index_dir: str, obj_predicate: Column, new_version: int,
    home_group: int, public: bool = False,
) -> dict:
    """New-version access maintenance (loadObject →
    updateAccessGroupForVersions with the home group and optionally the
    public pseudo-group, :655-659): moves the home (and public) lastin
    pointers to the new last version. Externally shared groups are NOT
    touched — they stay pinned at the version they were shared at."""
    out = share_object_version(
        spark, index_dir, obj_predicate, new_version, home_group
    )
    if public:
        out = share_object_version(
            spark, index_dir, obj_predicate, new_version,
            PUBLIC_ACCESS_GROUP,
        )
    return out


def publish_externally(
    spark, index_dir: str, obj_predicate: Column, version: int, group: int
) -> dict:
    """publishObjectsExternally analog (:1021-1047 + addExtPubForVersion):
    share the version into the group AND mark it externally published —
    the exists(extpub) clause makes it publicly visible (:1461-1476).
    ONE staged rewrite: the share_object_version assignments with the
    extpub union folded into the pinned-version branch."""
    return _pin_version(spark, index_dir, obj_predicate, version, group,
                        publish=True)


def _pin_version(spark, index_dir: str, obj_predicate: Column, version: int,
                 group: int, publish: bool) -> dict:
    g, v = int(group), int(version)
    lastin, groups, extpub = _arr_cols(
        index_dir, "access_lastin", "access_groups", "extpub"
    )
    garr = F.array(F.lit(g))
    is_ver = F.col("version") == v
    return update_docs_fields(
        spark, index_dir, obj_predicate,
        {
            "access_lastin": F.when(is_ver, F.array_union(lastin, garr))
            .otherwise(F.array_remove(lastin, g)),
            "access_groups": F.when(is_ver, F.array_union(groups, garr))
            .otherwise(groups),
            "extpub": F.when(
                is_ver, F.array_union(extpub, garr) if publish else extpub
            ).otherwise(F.array_remove(extpub, g)),
        },
    )


def _arr_cols(index_dir: str, *names: str) -> list[Column]:
    """Current values of int-array access columns, [] where null or
    where the committed docs schema has no such column yet (the first
    mutation on a fresh index can't reference a missing column)."""
    empty = F.expr("CAST(array() AS array<int>)")
    cols = store.docs_columns(index_dir)
    return [F.coalesce(F.col(n), empty) if n in cols else empty
            for n in names]


def _groups_col(index_dir: str) -> Column:
    """Current access_groups value, [] when the column doesn't exist yet
    (first share on a fresh index can't reference a missing column).

    A legacy scalar ``access_group`` (set_access_group) is MIGRATED into
    the array here: the first array-API touch of a row folds the scalar
    grant in, so the search predicate's array-authoritative precedence
    (plans/search.AccessFilter) never drops a pre-existing scalar grant
    and unshare_group can actually revoke it (ADVICE r4)."""
    empty = F.expr("CAST(array() AS array<int>)")
    cols = store.docs_columns(index_dir)
    parts = []
    if "access_groups" in cols:
        parts.append(F.col("access_groups"))
    if "access_group" in cols:
        parts.append(
            F.when(F.col("access_group").isNotNull(),
                   F.array(F.col("access_group").cast("int")))
        )
    parts.append(empty)
    return F.coalesce(*parts)
