"""search_objects / search_types / get_objects facade.

Mirrors the reference's API semantics (KBaseSearchEngine.spec:167-174 and
main/SearchMethods.java:242-308) re-shaped for the code corpus:

  MatchFilter   full_text_in_all (P4), lookup_in_keys term/terms/range
                (P1-P3), exclude (must_not, P11)
  AccessFilter  collapses to plain metadata predicates for the code corpus
                (SURVEY §2.3) — non-scoring filter context
  SortingRule   multi-key sort, asc default (O1; SortingRule.java:15-63)
  Pagination    start/count, defaults 0/50 (O3; ElasticIndexingStorage.
                java:1495-1497)
  PostProcessing ids_only / include content / highlight (T13; _source
                pruning P10)

Defaults pinned by the reference: no sort given => timestamp-analog
ascending (doc_id asc here — NOT relevance; ElasticIndexingStorage.
java:1498-1501); relevance order only when requested via
SortingRule(key='relevance').
"""

from __future__ import annotations

from dataclasses import dataclass
from dataclasses import field as dc_field

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.topk import (
    PAYLOAD_COLS,
    RELEVANCE,
    InvertedIndex,
    local_matches,
    local_relation,
    sort_indices,
    topk,
)


@dataclass
class MatchFilter:
    full_text: str | None = None
    full_text_mode: str = "and"  # reference uses operator:"and"
    # P5 field-scoped match: score against one indexed field's own
    # postings/stats (the reference's oname-vs-_all distinction,
    # ElasticIndexingStorage.java:1381-1383); None = the _all analog
    field: str | None = None
    term_eq: dict[str, object] = dc_field(default_factory=dict)  # P1
    term_in: dict[str, list] = dc_field(default_factory=dict)  # P2
    term_not_in: dict[str, list] = dc_field(default_factory=dict)  # P11
    ranges: dict[str, tuple] = dc_field(default_factory=dict)  # P3 (lo, hi), either None
    # P7 bool.should: a list of clauses OR'd together, each clause an AND
    # of {column: value} terms (ElasticIndexingStorage.java:1304-1326 —
    # should inside the bool composition); combined with the other
    # filters by AND, matching ES filter-context semantics
    should: list = dc_field(default_factory=list)


@dataclass
class AccessFilter:
    """A1-A5 access blocks collapsed to metadata predicates (SURVEY §2.3;
    flags written by operators/mutate.py share/publish mutations):

      admin          -> no access constraint at all (A4,
                        ElasticIndexingStorage.java:1423-1440)
      with_public    -> is_public=true qualifies (A1)
      user_groups    -> doc shared into ANY of the caller's groups
                        qualifies (A2/A3). The reference stores per-doc
                        group ARRAYS (lastin[]/groups[],
                        ElasticIndexingStorage.java:666-763) so one doc
                        can be shared into several groups — matched here
                        with arrays_overlap on `access_groups`
                        (array<int>); the legacy single-int
                        `access_group` column is honored too.
      no groups + no public + not admin -> ZERO hits without touching the
                        index (A5 short-circuit, :1506-1511)

    with_all_history: version-conditioned visibility on a VERSIONED index
    (one whose docs carry the `access_lastin` array written by
    operators/mutate.share_object_version). The reference keeps TWO grant
    arrays per version (ElasticIndexingStorage.java:1442-1484
    createAccessMustBlock — `groups` when withAllHistory else `lastin`):
    `lastin` is the version-pinned share pointer (at most one version per
    (object, group); re-share moves it; new-version indexing moves the
    home/public pointers), `groups` accumulates every version ever
    shared. Default = lastin (you see the version that was shared to
    you); with_all_history = groups (every version ever shared). The
    `extpub` exists-clause is ORed in under with_public (:1461-1476).
    On a non-versioned index (no access_lastin column) both modes
    collapse to the single access_groups array — unchanged behavior.
    """
    user_groups: list = dc_field(default_factory=list)
    with_public: bool = False
    admin: bool = False
    with_all_history: bool = False

    def is_empty(self) -> bool:
        """A5: nothing could possibly match — skip the query entirely."""
        return not (self.admin or self.user_groups or self.with_public)

    def predicate(self, columns: list) -> Column | None:
        """columns: the docs table's committed columns — selects which
        access metadata exists (version-pinned arrays vs plain array vs
        legacy scalar grants)."""
        if self.admin:
            return None  # unconstrained
        preds = []
        have = set(columns)
        if self.with_public:
            if "is_public" in have:
                preds.append(F.col("is_public") == True)  # noqa: E712
            if "extpub" in have:
                # external-publication exists clause (:1461-1476)
                preds.append(
                    F.coalesce(F.size("extpub") > 0, F.lit(False))
                )
            if "access_lastin" in have:
                # the PUBLIC pseudo-group (-1): the reference's
                # createAccessMustBlock adds PUBLIC_ACCESS_GROUP to the
                # group ids matched against lastin[] (groups[] under
                # with_all_history) — promote_last_version(public=True)
                # and share_object_version(..., -1) write these grants
                # (ADVICE r5: previously no read path honored them)
                from ..operators.mutate import PUBLIC_ACCESS_GROUP

                prop = (
                    "access_groups" if self.with_all_history
                    else "access_lastin"
                )
                preds.append(
                    F.coalesce(
                        F.array_contains(
                            F.col(prop), F.lit(PUBLIC_ACCESS_GROUP)
                        ),
                        F.lit(False),
                    )
                )
        if self.user_groups:
            groups = [int(g) for g in self.user_groups]
            if "access_lastin" in have:
                # versioned index: lastin (default) vs groups (history)
                prop = (
                    "access_groups" if self.with_all_history
                    else "access_lastin"
                )
                garr = F.array(*[F.lit(g) for g in groups])
                preds.append(
                    F.coalesce(
                        F.arrays_overlap(F.col(prop), garr), F.lit(False)
                    )
                )
            elif "access_groups" in have:
                garr = F.array(*[F.lit(g) for g in groups])
                overlap = F.arrays_overlap(F.col("access_groups"), garr)
                if "access_group" in have:
                    # ROW-LEVEL precedence: the array is authoritative
                    # wherever it exists — share/unshare edit only the
                    # array, so OR-ing the legacy scalar in would let a
                    # grant revoked via unshare_group resurface through a
                    # stale set_access_group value. Rows the array APIs
                    # never touched (null array) fall back to the legacy
                    # scalar grant (mutate._groups_col migrates the
                    # scalar into the array on first share/unshare).
                    preds.append(
                        F.when(F.col("access_groups").isNotNull(), overlap)
                        .otherwise(F.col("access_group").isin(groups))
                    )
                else:
                    # null array (never shared) must read as no-overlap
                    preds.append(F.coalesce(overlap, F.lit(False)))
            elif "access_group" in have:
                preds.append(F.col("access_group").isin(groups))
        if not preds:
            return F.lit(False)  # A5: provably empty
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out


@dataclass
class SortingRule:
    key: str  # column name or 'relevance'
    ascending: bool = True  # asc default (SortingRule.java:21)


@dataclass
class Pagination:
    start: int = 0
    count: int = 50


# columns every page keeps regardless of key skipping: identity + system
# invariants (the reference's ObjectData guid/timestamp analog)
_SYSTEM_COLS = ("doc_id", "score", "highlight", "sha256", "segment")
_DATA_COLS = ("text", "content")


@dataclass
class PostProcessing:
    """P10/T13 + the spec's skip family (KBaseSearchEngine.spec:133-154
    PostProcessing.{ids_only,skip_info,skip_keys,skip_data};
    SearchMethods.java:179-194 applies them per hit):

      ids_only      -> doc_id column only (P10 _source:[guid])
      skip_keys     -> drop the extracted per-type keyword columns, keep
                       identity/system columns (+ content unless skipped)
      skip_data     -> drop the raw document payload (text/content) —
                       same effect as include_content=False
      select_keys   -> keep ONLY these keyword columns (spec's
                       object_props whitelist; applied after skip flags)
      highlight_fields -> per-FIELD highlight map (the reference returns
                       {field: [fragments]} with require_field_match
                       false — every requested field is scanned for the
                       query terms; ElasticIndexingStorage.java:
                       1096-1100, 1196-1217): each listed doc column f
                       gains a `highlight_<f>` column holding the
                       <em>-marked value when the field matches a query
                       token, NULL when it doesn't (the reference omits
                       non-matching fields from the map). None = the
                       legacy single-payload `highlight` column.
    """

    ids_only: bool = False
    include_content: bool = True
    highlight: bool = False
    skip_keys: bool = False
    skip_data: bool = False
    select_keys: list | None = None
    highlight_fields: list | None = None


def _range(col: str, lo, hi) -> Column | None:
    """P3 range, ends inclusive; either end may be None (unbounded), and
    a range with neither end constrains nothing."""
    if lo is not None and hi is not None:
        return F.col(col).between(lo, hi)
    if lo is not None:
        return F.col(col) >= lo
    if hi is not None:
        return F.col(col) <= hi
    return None


def _predicate(mf: MatchFilter) -> Column | None:
    preds: list[Column] = []
    for k, v in mf.term_eq.items():
        preds.append(F.col(k) == F.lit(v))
    for k, vs in mf.term_in.items():
        preds.append(F.col(k).isin(vs))
    for k, vs in mf.term_not_in.items():
        preds.append(~F.col(k).isin(vs))
    for k, (lo, hi) in mf.ranges.items():
        r = _range(k, lo, hi)
        if r is not None:
            preds.append(r)
    if mf.should:
        clauses = []
        for clause in mf.should:
            cp = None
            for k, v in clause.items():
                if isinstance(v, tuple) and len(v) == 2:
                    term = _range(k, *v)
                    if term is None:
                        continue
                elif isinstance(v, list):
                    term = F.col(k).isin(v)
                else:
                    term = F.col(k) == F.lit(v)
                cp = term if cp is None else (cp & term)
            if cp is not None:
                clauses.append(cp)
        if clauses:
            disj = clauses[0]
            for c in clauses[1:]:
                disj = disj | c
            preds.append(disj)
    if not preds:
        return None
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _combined_predicate(
    index: InvertedIndex, match: MatchFilter, access: AccessFilter | None
) -> Column | None:
    pred = _predicate(match)
    if access is not None:
        ap = access.predicate(index.docs_columns)
        if ap is not None:
            pred = ap if pred is None else (pred & ap)
    return pred


def match_rows(
    index: InvertedIndex,
    match: MatchFilter,
    access: AccessFilter | None = None,
    scores: bool = False,
    k: int | None = None,
) -> pa.Table | None:
    """The FULL filtered match set (or, with k, its ranked top k) as one
    Arrow table when the driver answers it: the driver-local tier
    (topk.local_matches), or an answer known empty before any read (A5,
    an absent AND term). Its columns are doc_id and every docs column but
    the text payload (InvertedIndex.row_columns), + `score` when scored;
    a page reads the payload of its own rows. None means the match set
    is a Spark frame (match_frame): a fan-out query, or no full-text
    clause (a filtered docs scan). Pages, hits.total and type counts
    are then Arrow sorts, slices and counts of the one table."""
    if access is not None and access.is_empty():
        return index.empty_rows(scores)  # A5, without touching the index
    if not match.full_text:
        return None
    scoring = index.field_index(match.field) if match.field else index
    return local_matches(
        scoring,
        match.full_text,
        k=k if scores else None,
        mode=match.full_text_mode,
        doc_filter=_combined_predicate(index, match, access),
        scores=scores,
        rows_of=index,
    )


def match_frame(
    index: InvertedIndex,
    match: MatchFilter,
    access: AccessFilter | None = None,
    scores: bool = False,
    k: int | None = None,
) -> DataFrame:
    """The FULL filtered match frame (docs columns, + `score` when
    requested) with no ordering/pagination applied. On the driver-local
    tier it is a local relation of the match table (``match_rows``) with
    its text payload. On the fan-out the RPC layer observes its row
    count during the page's own scan, so a page and its total come from
    one Spark job (the reference gets both from one ES response,
    ElasticIndexingStorage.java:1557). An answer known to be empty before
    any job (A5, or topk's early returns) is
    `index.no_matches(scores, rows=True)`.

    scores=False skips ALL BM25 work (no idf math, tf/dl streams never
    decoded) — the reference's default page order is NOT relevance
    (:1498-1501), so the default path is intersection-only. k bounds the
    per-segment candidates (relevance paging only — k implies scores)."""
    if access is not None and access.is_empty():
        # A5 short-circuit: the empty shape without touching the index
        return index.no_matches(scores, rows=True)
    pred = _combined_predicate(index, match, access)
    if match.full_text:
        # topk returns the matches as this index's docs rows: the docs
        # are read once, by the local tier's pyarrow read or the
        # fan-out's join
        scoring = index.field_index(match.field) if match.field else index
        return topk(
            scoring,
            match.full_text,
            k=k if scores else None,
            mode=match.full_text_mode,
            doc_filter=pred,
            hydrate=False,
            scores=scores,
            join_to=index,
        )
    docs = index.docs
    if pred is not None:
        docs = docs.where(pred)
    return docs.withColumn("score", F.lit(0.0)) if scores else docs


def _by_relevance(sorting: list[SortingRule] | None) -> bool:
    return bool(sorting) and sorting[0].key == "relevance"


def _order_keys(sorting: list[SortingRule] | None) -> list[tuple[str, bool]]:
    """A page's order as (column, ascending) keys, for Spark
    (_order_exprs) and Arrow (topk.sort_indices) alike."""
    if _by_relevance(sorting):
        return RELEVANCE + [(s.key, s.ascending) for s in sorting[1:]]
    if sorting:
        # deterministic ties (O5)
        return [(s.key, s.ascending) for s in sorting] + [("doc_id", True)]
    return [("doc_id", True)]  # default: NOT relevance (O2 analog)


def _order_exprs(sorting: list[SortingRule] | None) -> list[Column]:
    return [F.asc(c) if asc else F.desc(c) for c, asc in _order_keys(sorting)]


def search_objects(
    index: InvertedIndex,
    match: MatchFilter,
    sorting: list[SortingRule] | None = None,
    pagination: Pagination | None = None,
    post: PostProcessing | None = None,
    access: AccessFilter | None = None,
    include_subobjects: bool = False,
) -> DataFrame:
    """The main read path (SearchMethods.searchObjects → queryHits).

    include_subobjects: search the spec-built `*_sub` CHILD index (its
    own postings/stats/docs — hits are child documents keyed by sub_id)
    instead of the parent index. The default path never touches child
    postings — the reference's `-*_sub` index-pattern exclusion
    (ElasticIndexingStorage.java:62,1544-1546) is structural here.

    A `score` column appears ONLY under a relevance sort: the default
    order is doc_id (the reference's timestamp analog, :1498-1501), and
    a non-relevance full-text page is pure intersection — no BM25 math,
    no tf/dl decode (asserted in tests/test_plan_quality.py)."""
    if include_subobjects:
        index = index.sub_index()
    pagination = pagination or Pagination()
    post = post or PostProcessing()
    relevance = _by_relevance(sorting)
    k = pagination.start + pagination.count if relevance else None
    rows = match_rows(index, match, access=access, scores=relevance, k=k)
    if rows is not None:
        page = _local_page(index, rows, sorting, pagination, post)
        return _apply_post(index.rows_frame(page), match, post)
    frame = match_frame(index, match, access=access, scores=relevance, k=k)
    return _page(frame, match, sorting, pagination, post)


def _page(
    frame: DataFrame,
    match: MatchFilter,
    sorting: list[SortingRule] | None,
    pagination: Pagination,
    post: PostProcessing,
) -> DataFrame:
    """One page of a match frame: sort order, offset, limit, then
    post-processing — the facade's fan-out page and the RPC's."""
    page = (
        frame.orderBy(*_order_exprs(sorting))
        .offset(pagination.start)
        .limit(pagination.count)
    )
    return _apply_post(page, match, post)


def _local_page(
    index: InvertedIndex,
    rows: pa.Table,
    sorting: list[SortingRule] | None,
    pagination: Pagination,
    post: PostProcessing,
) -> pa.Table:
    """One page of a local match table (match_rows), ordered and sliced
    in Arrow with Spark's order semantics. The text payload is read for
    the page's rows only, and only when the post-processing returns or
    highlights it (a sort key that is payload is read for every row)."""
    keys = _order_keys(sorting)
    rows = index.with_columns(rows, [c for c, _ in keys])
    start = pagination.start
    page = rows.take(sort_indices(rows, keys)[start:start + pagination.count])
    if not post.ids_only and (
        (post.include_content and not post.skip_data)
        or post.highlight or post.highlight_fields
    ):
        page = index.with_columns(
            page, [c for c in PAYLOAD_COLS if c in index.docs_columns])
    return page


def _highlight_pattern(match: MatchFilter, post: PostProcessing) -> str | None:
    """The highlight regex of a page, or None when it highlights nothing.

    ONE highlight semantics engine-wide (pinned by the driver oracle and
    the reference's ES highlighter, which marks ANALYZED-TOKEN matches,
    not raw substrings — `dup` must not light up inside `dedup`;
    ElasticIndexingStorageTest.java:1488-1535): one case-insensitive
    whole-token pass. \\b is the [A-Za-z0-9_] boundary in BOTH Java regex
    and DuckDB's RE2 — exactly the analyzer's token alphabet — and a
    single alternation pass can't re-match inside the <em> tags it
    inserts (a per-term chain could, e.g. for the query term "em"). A
    term-less pattern '\\b()\\b' would mark EVERY boundary, so no query
    terms means no highlight."""
    if not (post.highlight or post.highlight_fields) or not match.full_text:
        return None
    from ..functions.tokenize import tokenize_py

    terms = sorted(set(tokenize_py(match.full_text)))
    if not terms:
        return None
    return r"(?i)\b(" + "|".join(terms) + r")\b"


def _kept_columns(columns: list[str], post: PostProcessing) -> list[str]:
    """The columns of a page that its post-processing keeps."""
    if post.ids_only:
        return ["doc_id"]  # _source: [guid] analog (P10)
    keep = list(columns)
    if post.skip_keys or post.select_keys is not None:
        keep_keys = set(post.select_keys or ())
        keep = [
            c for c in keep
            if c in _SYSTEM_COLS
            or c in _DATA_COLS
            or c in keep_keys
            or c.startswith("highlight_")  # per-field fragments stay
        ]
    if not post.include_content or post.skip_data:
        keep = [c for c in keep if c not in _DATA_COLS]
    return keep


def _apply_post(
    page: DataFrame, match: MatchFilter, post: PostProcessing
) -> DataFrame:
    """P10/T13 post-processing over an ordered page."""
    if post.ids_only:
        return page.select("doc_id")
    pat = _highlight_pattern(match, post)
    if post.highlight and pat:
        payload = next(
            (c for c in PAYLOAD_COLS if c in page.columns), None
        )
        if payload is None:
            # e.g. a store_text=False index — fail with the cause instead
            # of an unresolvable-column AnalysisException deep inside plan
            # analysis (ADVICE r4)
            raise ValueError(
                "highlight requested but the index stores no text "
                "payload column (looked for text/content/sub_value "
                f"in {page.columns})"
            )
        page = page.withColumn(
            "highlight", F.regexp_replace(F.col(payload), pat, "<em>$1</em>")
        )
    if post.highlight_fields and pat:
        # per-field highlight map (T13 extended): one alternation pass
        # per requested field; NULL where the field has no token match —
        # the RPC layer folds highlight_<f> columns into the reference's
        # {field: [fragments]} shape (require_field_match: false)
        for f_name in post.highlight_fields:
            if f_name not in page.columns:
                raise ValueError(
                    f"highlight field {f_name!r} is not a column of "
                    f"this index ({page.columns})"
                )
            src = F.col(f_name).cast("string")
            page = page.withColumn(
                f"highlight_{f_name}",
                F.when(
                    src.rlike(pat),
                    F.regexp_replace(src, pat, "<em>$1</em>"),
                ),
            )
    return page.select(*_kept_columns(page.columns, post))


def count_objects(
    index: InvertedIndex,
    match: MatchFilter,
    access: AccessFilter | None = None,
) -> int:
    """hits.total (G3): the size of the FULL match set, independent of
    pagination — the reference returns it with every page
    (ElasticIndexingStorage.java:1557 total from ES hits.total). A pure
    count: scores=False, so no BM25 math or tf/dl decode anywhere; the
    local match table's row count when the driver answers."""
    rows = match_rows(index, match, access=access, scores=False)
    if rows is not None:
        return rows.num_rows
    return match_frame(index, match, access=access, scores=False).count()


def search_types(
    index: InvertedIndex,
    match: MatchFilter,
    type_col: str = "lang",
    access: AccessFilter | None = None,
) -> DataFrame:
    """Count matching docs per type, size 0 (G1) — intersection-only
    (scores=False: the aggregation never reads a score). When the driver
    answers the match set, an Arrow group count returned as a local
    relation; else a Spark aggregation of the match frame."""
    rows = match_rows(index, match, access=access, scores=False)
    if rows is None:
        return match_frame(
            index, match, access=access, scores=False
        ).groupBy(F.col(type_col).alias("type")).agg(
            F.count("*").alias("count")
        )
    rows = index.with_columns(rows, [type_col])
    counts = rows.group_by(type_col).aggregate([([], "count_all")])
    return local_relation(
        index.spark,
        pa.table({"type": counts[type_col], "count": counts["count_all"]}),
        StructType([
            StructField("type", index.docs.schema[type_col].dataType),
            StructField("count", LongType(), False),
        ]),
    )


def get_objects(index: InvertedIndex, doc_ids: list[int]) -> DataFrame:
    """GUID-list lookup (J2)."""
    return index.docs.where(F.col("doc_id").isin([int(i) for i in doc_ids]))


# child-doc system columns — everything else on a sub index's docs table
# is a parent identity column (explode_subobjects carries them through)
_SUB_SYSTEM_COLS = {
    "sub_value", "sub_id", "is_sub", "dl", "doc_id", "sha256", "segment",
}


def lookup_parent_doc_ids(
    index: InvertedIndex, parent_keys: list[str]
) -> DataFrame:
    """J3: dedicated parent-GUID → child-document lookup over the
    physical `*_sub` index (the reference's lookupParentDocIds,
    ElasticIndexingStorage.java:432-460 — a terms filter on `pguid`
    returning the matching child ids). The parent key is the same
    '/'-joined composition explode_subobjects used to mint the child
    GUIDs (`<parent-key>:<ordinal>`), so callers pass the keys they
    indexed with. Returns (parent_key, sub_id, doc_id) — a pruned
    metadata scan, no postings touched."""
    sub = index.sub_index()
    parent_cols = [
        c for c in sub.docs.columns if c not in _SUB_SYSTEM_COLS
    ]
    if not parent_cols:
        raise ValueError("sub index carries no parent identity columns")
    parent_key = F.concat_ws("/", *[F.col(c) for c in parent_cols])
    return (
        sub.docs.withColumn("parent_key", parent_key)
        .where(F.col("parent_key").isin([str(k) for k in parent_keys]))
        .select("parent_key", "sub_id", "doc_id")
    )
