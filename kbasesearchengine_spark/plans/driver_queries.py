"""Driver-contract query catalog: every operator exposed as a
(spark, sf_dir) -> DataFrame callable plus a DuckDB oracle SQL string.

Each entry is the Spark-first re-expression of a reference operator
(SURVEY.md §2 inventory; citations at each query) or a training-data
pipeline operator, over the driver's testdata tables. Column names and
types are aligned between the Spark plan and the oracle SQL (the driver
hash-compares values after sorting columns by name).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import ann, dedup, store, textstats
from ..operators.indexer import IndexBuilder
from ..operators.store import FORMAT_VERSION
from ..operators.topk import InvertedIndex, topk
from .search import search_objects as search_objects_facade
from ..functions.tokenize import tokenize_py

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return reg


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------- index cache

_INDEX_CACHE: dict[str, str] = {}


def get_index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    """Build (once, resumable) the inverted index over `documents`."""
    key = os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        tag = hashlib.md5(key.encode()).hexdigest()[:10]
        idx_dir = os.path.join(
            tempfile.gettempdir(), f"kbse_index_v{FORMAT_VERSION}_{tag}"
        )
        builder = IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=2)
        builder.build(
            _docs(spark, sf_dir),
            key_cols=["doc_id"],
            text_col="text",
            doc_id_col="doc_id",
            resume=True,
        )
        # P5: the `source` field's postings with its own df/avgdl (a no-op
        # once committed; a killed field build resumes from its markers)
        from ..operators.indexer import build_field_index

        build_field_index(spark, idx_dir, "source")
        _INDEX_CACHE[key] = idx_dir
    return InvertedIndex(spark, _INDEX_CACHE[key])


# =====================================================================
# Full-text engine queries (reference: match/_all + BM25 via ES;
# ElasticIndexingStorage.java:1364-1375, 1486-1576)
# =====================================================================

def _ranked(df: DataFrame) -> DataFrame:
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return df.select(
        "doc_id",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.round("score", 6).alias("score"),
    )


def _bm25_oracle(
    query: str, k: int = 10, mode: str = "and", filter_sql: str = "TRUE",
    col: str = "text",
) -> str:
    terms = sorted(set(tokenize_py(query)))
    tlist = ",".join(f"'{t}'" for t in terms)
    and_clause = f"nt = {len(terms)}" if mode == "and" else "TRUE"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower({col}), '[a-z0-9_]+')) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents) AS n,
              (SELECT sum(dl) FROM dl)::DOUBLE
                / (SELECT count(*) FROM documents) AS avgdl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ({tlist}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
            ) AS score,
         count(*) AS nt
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tf.doc_id
),
kept AS (
  SELECT s.doc_id, s.score FROM scored s JOIN documents d USING (doc_id)
  WHERE {and_clause} AND ({filter_sql})
)
SELECT doc_id,
       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       round(score, 6) AS score
FROM kept ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


FLAGSHIP_QUERY = "spark join vector"


@q("ft_bm25_topk_and", _bm25_oracle(FLAGSHIP_QUERY, 10, "and"))
def ft_bm25_topk_and(spark, sf_dir):
    """Conjunctive BM25 top-10 over the inverted index (P4+O4; the
    reference's match operator:'and' + ES relevance ranking)."""
    return _ranked(topk(get_index(spark, sf_dir), FLAGSHIP_QUERY, 10, "and",
                        hydrate=False))


@q("ft_bm25_topk_or", _bm25_oracle("dup key window", 10, "or"))
def ft_bm25_topk_or(spark, sf_dir):
    """Disjunctive BM25 top-10 (match operator 'or' — ES default)."""
    return _ranked(topk(get_index(spark, sf_dir), "dup key window", 10, "or",
                        hydrate=False))


@q("ft_bm25_rare_term", _bm25_oracle("dup", 10, "and"))
def ft_bm25_rare_term(spark, sf_dir):
    """Single rare term (df≈25/500) — posting pruning path."""
    return _ranked(topk(get_index(spark, sf_dir), "dup", 10, "and", hydrate=False))


@q(
    "ft_bm25_filtered",
    _bm25_oracle("spark join", 10, "and", filter_sql="d.lang = 'en'"),
)
def ft_bm25_filtered(spark, sf_dir):
    """BM25 with a non-scoring metadata filter applied BEFORE ranking —
    the reference's bool.filter context (ElasticIndexingStorage.java:
    1321-1325); global idf/avgdl stats, filtered candidate set."""
    return _ranked(
        topk(
            get_index(spark, sf_dir),
            "spark join",
            10,
            "and",
            doc_filter=F.col("lang") == "en",
            hydrate=False,
        )
    )


@q(
    "ft_match_count",
    """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text),
         '[a-z0-9_]+'))) AS term FROM documents
)
SELECT count(*) AS total FROM (
  SELECT doc_id FROM tok WHERE term IN ('spark','join','vector')
  GROUP BY doc_id HAVING count(*) = 3
)
""",
)
def ft_match_count(spark, sf_dir):
    """hits.total analog (G3, ElasticIndexingStorage.java:1557): count of
    docs conjunctively matching, straight off the term dictionary join."""
    index = get_index(spark, sf_dir)
    docs = topk(index, "spark join vector", k=None, mode="and", hydrate=False)
    return docs.agg(F.count("*").alias("total"))


@q(
    "ft_search_types",
    """
WITH m AS (
  SELECT doc_id FROM (
    SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text),
           '[a-z0-9_]+'))) AS term FROM documents) t
  WHERE term = 'dup'
)
SELECT d.lang AS type, count(*) AS cnt FROM documents d
JOIN m USING (doc_id) GROUP BY d.lang ORDER BY d.lang
""",
)
def ft_search_types(spark, sf_dir):
    """search_types (G1) THROUGH the SearchMethods facade: terms
    aggregation over matching docs (ElasticIndexingStorage.java:1263-1302)
    — count per type for a full-text match, size 0 (no hits). One query
    covers both the engine aggregation and the facade surface (the r2
    api_search_types variant, folded in to keep the driver's 50-query
    gate window covering every operator)."""
    from .search import MatchFilter, search_types

    index = get_index(spark, sf_dir)
    return (
        search_types(index, MatchFilter(full_text="dup"))
        .select("type", F.col("count").alias("cnt"))
        .orderBy("type")
    )


@q(
    "ft_term_range_page",
    """
SELECT doc_id, lang, n_chars FROM documents
WHERE lang = 'en' AND n_chars BETWEEN 150 AND 400
ORDER BY n_chars DESC, doc_id ASC LIMIT 10 OFFSET 20
""",
)
def ft_term_range_page(spark, sf_dir):
    """term filter (P1) + inclusive range (P3) + multi-key sort (O1) +
    from/size pagination (O3, defaults at ElasticIndexingStorage.java:
    1495-1497) — the reference's lookupInKey surface, Catalyst-native."""
    return (
        _docs(spark, sf_dir)
        .where((F.col("lang") == "en") & F.col("n_chars").between(150, 400))
        .select("doc_id", "lang", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .offset(20)
        .limit(10)
    )


@q(
    "ft_terms_blacklist",
    """
SELECT doc_id, lang FROM documents
WHERE lang NOT IN ('en','de') AND source IN ('src1','src2','src3')
ORDER BY doc_id
""",
)
def ft_terms_blacklist(spark, sf_dir):
    """terms whitelist + must_not blacklist (P2/P11; source-tag semantics
    of ElasticIndexingStorage.java:1404-1412)."""
    return (
        _docs(spark, sf_dir)
        .where(~F.col("lang").isin("en", "de") & F.col("source").isin("src1", "src2", "src3"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@q(
    "ft_get_objects",
    """
SELECT doc_id, sha256(text) AS sha256, n_chars FROM documents
WHERE doc_id IN (3, 141, 77, 209, 0)
ORDER BY doc_id
""",
)
def ft_get_objects(spark, sf_dir):
    """get_objects by id THROUGH the facade (J2, ElasticIndexingStorage.
    java:1102-1138) with the per-row sha256(content) invariant carried on
    the index docs table (md5 analog :404-410; T14). Covers both the
    GUID-list hydration and the facade surface (r2 api_get_objects
    folded in)."""
    from .search import get_objects

    index = get_index(spark, sf_dir)
    return (
        get_objects(index, [3, 141, 77, 209, 0])
        .select("doc_id", "sha256", "n_chars")
        .orderBy("doc_id")
    )


@q(
    "ft_df_terms",
    """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text),
         '[a-z0-9_]+'))) AS term FROM documents)
SELECT term, count(*) AS df FROM tok
WHERE term IN ('spark','dup','the','vector')
GROUP BY term ORDER BY term
""",
)
def ft_df_terms(spark, sf_dir):
    """Term dictionary lookup (G5 index-build aggregation made explicit —
    what Lucene keeps in its term dictionary). The v4 dictionary is keyed
    by xxhash64(term) (pushdown-friendly int64); the probe hashes the
    query strings driver-side and maps the hits back to strings with a
    literal CASE — same plan shape a point lookup would use at 100 TB."""
    from kbasesearchengine_spark.functions.hashing import term_hash

    probe = ["spark", "dup", "the", "vector"]
    h2t = {term_hash(t): t for t in probe}
    mapping = F.create_map(
        *[F.lit(x) for h, t in h2t.items() for x in (h, t)]
    )
    index = get_index(spark, sf_dir)
    return (
        index.terms.where(F.col("term_hash").isin(list(h2t)))
        .select(mapping[F.col("term_hash")].alias("term"), "df")
        .orderBy("term")
    )


@q(
    "ft_stats",
    """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS t
  FROM documents)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       count(*) AS total_tokens,
       round(count(*)::DOUBLE / (SELECT count(*) FROM documents), 6) AS avgdl
FROM tok
""",
)
def ft_stats(spark, sf_dir):
    """Corpus statistics (N, total token count, avgdl) — the BM25 global
    state the reference gets implicitly from Lucene."""
    index = get_index(spark, sf_dir)
    docs = index.docs
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
        F.round(F.sum("dl") / F.count("*"), 6).alias("avgdl"),
    )


@q(
    "ft_highlight",
    """
WITH m AS (
  SELECT doc_id FROM (
    SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text),
           '[a-z0-9_]+'))) AS term FROM documents) t
  WHERE term = 'dup'),
t AS (
  SELECT d.doc_id,
         regexp_replace(d.text, '(?i)\\b(dup)\\b', '<em>\\1</em>', 'g')
           AS highlighted
  FROM documents d JOIN m USING (doc_id) ORDER BY d.doc_id LIMIT 10),
f AS (
  SELECT doc_id, '<em>src3</em>' AS hl_source, NULL::VARCHAR AS hl_lang
  FROM documents WHERE source = 'src3' ORDER BY doc_id LIMIT 10)
SELECT * FROM (
  SELECT 'text' AS variant, doc_id, highlighted,
         NULL::VARCHAR AS hl_source, NULL::VARCHAR AS hl_lang FROM t
  UNION ALL
  SELECT 'field', doc_id, NULL::VARCHAR, hl_source, hl_lang FROM f
) ORDER BY variant, doc_id
""",
)
def ft_highlight(spark, sf_dir):
    """Highlight (T13), BOTH shapes in one compound result.

    variant 'text': <em>-wrapped ANALYZED-TOKEN matches on the primary
    payload (ElasticIndexingStorage.java:1096-1100; token — not
    substring — semantics pinned at ElasticIndexingStorageTest.java:
    1488-1535: `dup` must not light up inside `dedup`). \b = the
    [A-Za-z0-9_] boundary in both Java regex and DuckDB RE2 — the
    analyzer's token alphabet.

    variant 'field': the PER-FIELD highlight map (the reference returns
    {field: [fragments]} with require_field_match false, :1196-1217) —
    a field-scoped match on `source` through the facade with
    highlight_fields=[source, lang]: the matching field comes back
    <em>-marked, the non-matching field is NULL (omitted from the map
    at the RPC layer, like the reference omits it)."""
    from .search import MatchFilter, Pagination, PostProcessing

    index = get_index(spark, sf_dir)
    matched = topk(index, "dup", k=None, mode="and", hydrate=False).select("doc_id")
    text_v = (
        index.docs.join(matched, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.regexp_replace(
                "text", r"(?i)\b(dup)\b", "<em>$1</em>"
            ).alias("highlighted"),
        )
        .orderBy("doc_id")
        .limit(10)
        .select(
            F.lit("text").alias("variant"), "doc_id", "highlighted",
            F.lit(None).cast("string").alias("hl_source"),
            F.lit(None).cast("string").alias("hl_lang"),
        )
    )
    field_v = search_objects_facade(
        index,
        MatchFilter(full_text="src3", field="source"),
        pagination=Pagination(0, 10),
        post=PostProcessing(highlight_fields=["source", "lang"]),
    ).select(
        F.lit("field").alias("variant"), "doc_id",
        F.lit(None).cast("string").alias("highlighted"),
        F.col("highlight_source").alias("hl_source"),
        F.col("highlight_lang").alias("hl_lang"),
    )
    return text_v.unionByName(field_v).orderBy("variant", "doc_id")


@q(
    "ft_exists_filter",
    """
SELECT count(*) AS with_source,
       CAST(sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT) AS long_docs
FROM documents WHERE source IS NOT NULL AND length(text) > 0
""",
)
def ft_exists_filter(spark, sf_dir):
    """exists filter (P8, ElasticIndexingStorage.java:1466-1473)."""
    return (
        _docs(spark, sf_dir)
        .where(F.col("source").isNotNull() & (F.length("text") > 0))
        .agg(
            F.count("*").alias("with_source"),
            F.sum(F.when(F.col("n_chars") > 300, 1).otherwise(0)).alias("long_docs"),
        )
    )


@q("ft_match_field", _bm25_oracle("src3 src5", 10, "or", col="source"))
def ft_match_field(spark, sf_dir):
    """Field-scoped match (P5) THROUGH the facade: BM25 against the
    `source` field's OWN postings and df/avgdl statistics — the
    reference's per-field match (oname vs _all, ElasticIndexingStorage.
    java:1381-1383). Every doc has dl=1 here, so scores tie within a
    source value and the pinned deterministic tie-break (doc_id asc)
    carries the ranking. MatchFilter(field=...) + relevance sort +
    pagination exercises the facade path too (r2 api_match_field folded
    in)."""
    from .search import MatchFilter, Pagination, SortingRule, search_objects

    index = get_index(spark, sf_dir)
    out = search_objects(
        index,
        MatchFilter(full_text="src3 src5", full_text_mode="or",
                    field="source"),
        sorting=[SortingRule("relevance")],
        pagination=Pagination(0, 10),
    )
    return _ranked(out.select("doc_id", "score"))


# =====================================================================
# Relational operator coverage (reference joins/aggs/windows, SURVEY §2.4-2.8)
# over the TPC-H-ish driver tables
# =====================================================================


@q(
    "rel_semi_join",
    """
SELECT o.o_orderkey, o.o_totalprice FROM orders o
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20
""",
)
def rel_semi_join(spark, sf_dir):
    """Left-semi join — the Spark disposition of the reference's ES
    has_parent access join (J1/A3, ElasticIndexingStorage.java:1442-1484):
    data rows qualify iff a matching parent row passes a sub-filter."""
    orders = _tbl(spark, sf_dir, "orders")
    cust = _tbl(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@q(
    "rel_groupby_agg",
    """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS cnt
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
""",
)
def rel_groupby_agg(spark, sf_dir):
    """Hash aggregation with partial (map-side) combine — the G1/G5
    aggregation shape (searchTypes terms-agg + index-build stats)."""
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "rel_window_islast",
    """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders) WHERE rn = 1 ORDER BY o_custkey LIMIT 50
""",
)
def rel_window_islast(spark, sf_dir):
    """islast maintenance (G4/M1, ElasticIndexingStorage.java:588-622):
    latest version per key via window row_number — replacing the
    reference's client-side max + update-by-query scripts."""
    orders = _tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
        .limit(50)
    )


@q(
    "rel_union_types",
    """
SELECT doc_id, lang FROM documents WHERE lang = 'de'
UNION ALL
SELECT doc_id, lang FROM documents WHERE lang = 'fr'
ORDER BY doc_id
""",
)
def rel_union_types(spark, sf_dir):
    """Multi-index union (U1, ElasticIndexingStorage.java:1536-1542):
    per-type tables searched as one via unionByName."""
    d = _docs(spark, sf_dir)
    return (
        d.where(F.col("lang") == "de")
        .select("doc_id", "lang")
        .unionByName(d.where(F.col("lang") == "fr").select("doc_id", "lang"))
        .orderBy("doc_id")
    )


@q(
    "rel_broadcast_lookup",
    """
SELECT p.p_brand, count(*) AS cnt, round(sum(l.l_extendedprice), 4) AS total
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 10
GROUP BY p.p_brand ORDER BY p.p_brand
""",
)
def rel_broadcast_lookup(spark, sf_dir):
    """lookup transform (T6/J6) dispatched FROM the spec rule system
    (KeywordParser.java:309-324; system/Transform.java lookup variant):
    a declarative Rule(transform='lookup:part.p_brand') enriches fact
    rows from an already-indexed dimension — compiled by apply_rules to
    a broadcast hash join (the dimension is the small side; the fact
    scan never shuffles). Inner-join semantics via dropna on the looked-
    up key (the reference skips docs whose reference target is absent)."""
    from ..functions.transforms import Rule, apply_rules

    li = _tbl(spark, sf_dir, "lineitem")
    part = _tbl(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    enriched = apply_rules(
        li,
        [Rule("p_brand", path="l_partkey", transform="lookup:part.p_brand")],
        lookups={"part": (part, "p_partkey")},
    ).dropna(subset=["p_brand"])
    return (
        enriched.groupBy("p_brand")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("l_extendedprice"), 4).alias("total"))
        .orderBy("p_brand")
    )


# =====================================================================
# Event-pipeline analogs (reference events/ subsystem, SURVEY §2.11)
# =====================================================================


@q(
    "events_latest_per_user",
    """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1 ORDER BY user_id LIMIT 100
""",
)
def events_latest_per_user(spark, sf_dir):
    """Per-key latest-event resolution — the ordering queue semantics
    (E3, events/ObjectEventQueue.java:42-49: per-object timestamp order)
    as a window computation."""
    ev = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
        .limit(100)
    )


@q(
    "events_expand_json",
    """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def events_expand_json(spark, sf_dir):
    """JSON payload extraction (the parse pipeline's path projection,
    T10/ValueCollector.java:54-168) via get_json_object."""
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_sum")
        )
        .orderBy("event_type")
    )


@q(
    "events_windowed_counts",
    """
SELECT * FROM (
  SELECT 'window' AS variant, time_bucket(INTERVAL '1 hour', ts) AS ws,
         event_type, count(*) AS a, NULL::DOUBLE AS b
  FROM events GROUP BY 2, 3
  ORDER BY 2, 3 LIMIT 200
) UNION ALL
SELECT 'total', NULL::TIMESTAMP, event_type,
       count(DISTINCT event_id), round(sum(value), 4)
FROM events GROUP BY 3
ORDER BY variant, ws, event_type
""",
)
def events_windowed_counts(spark, sf_dir):
    """Event aggregation compound (the r3 events_type_counts query folded
    in): variant 'window' = tumbling-window counts (E7 windowed rates —
    the exact transform the Structured Streaming path runs under a
    watermark; streaming equivalence asserted in pytest), variant 'total'
    = per-type state-machine tallies with event_id dedup (E2;
    EventQueue.java:86-99)."""
    from ..streaming.events import windowed_type_counts

    ev = _tbl(spark, sf_dir, "events")
    win = (
        windowed_type_counts(ev)
        .orderBy("ws", "event_type")
        .limit(200)
        .select(
            F.lit("window").alias("variant"), "ws", "event_type",
            F.col("cnt").cast("bigint").alias("a"),
            F.lit(None).cast("double").alias("b"),
        )
    )
    tot = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("event_id").alias("a"),
            F.round(F.sum("value"), 4).alias("b"),
        )
        .select(
            F.lit("total").alias("variant"),
            F.lit(None).cast(win.schema["ws"].dataType).alias("ws"),
            "event_type", "a", "b",
        )
    )
    return win.unionByName(tot).orderBy("variant", "ws", "event_type")


@q(
    "idx_catalog_stats",
    """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS t
  FROM documents)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       round((SELECT count(*) FROM tok)::DOUBLE /
             (SELECT count(*) FROM documents), 6) AS avgdl,
       CAST((SELECT count(*) FROM (SELECT DISTINCT doc_id, t FROM tok))
            AS BIGINT) AS total_postings
""",
)
def idx_catalog_stats(spark, sf_dir):
    """S6 listIndeces + E8 per-commit metrics made gate-visible
    (ElasticIndexingStorage.java:1603-1618; marker payloads written by
    IndexBuilder.build_group): the CATALOG's stored stats and the
    lineage markers' summed posting counts must equal what the raw data
    says — n_docs, avgdl, and Σ postings over segment-group commits =
    the corpus's distinct (doc, term) pair count."""
    import glob
    import json as _json

    index = get_index(spark, sf_dir)
    listed = None
    from ..sources.catalog import list_indexes

    base = os.path.dirname(index.index_dir)
    name = os.path.basename(index.index_dir)
    for e in list_indexes(base):
        if e["name"] == name:
            listed = e
    assert listed is not None, "catalog must list the built index"
    total_postings = 0
    for m in glob.glob(os.path.join(index.index_dir, "_lineage", "group-*.json")):
        with open(m) as f:
            total_postings += int(_json.load(f)["postings"])
    return spark.createDataFrame(
        [(int(listed["n_docs"]), round(float(listed["avgdl"]), 6),
          total_postings)],
        "n_docs bigint, avgdl double, total_postings bigint",
    )


@q(
    "xf_version_union",
    """
WITH x AS (
  SELECT CAST(event_id % 2 + 1 AS INT) AS spec_version,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
         CASE WHEN event_id % 2 + 1 = 2
              THEN coalesce(CAST(json_extract(props, '$.missing') AS BIGINT),
                            7) END AS with_default
  FROM events WHERE event_id < 2000)
SELECT spec_version, count(*) AS cnt, CAST(sum(k_val) AS BIGINT) AS k_sum,
       CAST(sum(with_default) AS BIGINT) AS def_sum
FROM x GROUP BY spec_version ORDER BY spec_version
""",
)
def xf_version_union(spark, sf_dir):
    """Type-version PHYSICAL coexistence (testTypeVersions analog,
    ElasticIndexingStorageTest.java:961-1014): objects route to spec
    version 1 or 2, each version builds its OWN physical index under
    v<N>/ (the reference's per-(type,version) ES index naming,
    ElasticIndexingStorage.java:297-302), and the cross-version
    index-pattern union null-fills the keys v1 never defined
    (with_default exists only in v2 rows)."""
    from ..functions.typespec import parse_spec_file
    from ..operators.indexer import (
        build_versioned_from_spec,
        union_version_docs,
    )

    key = "verspec:" + os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        tag = hashlib.md5(key.encode()).hexdigest()[:10]
        base = os.path.join(
            tempfile.gettempdir(), f"kbse_verspec_v{FORMAT_VERSION}_{tag}"
        )
        if not store.is_index(os.path.join(base, "v2")):
            spec = parse_spec_file(
                os.path.join(
                    os.path.dirname(__file__), "..", "specs",
                    "events_versioned.yaml",
                )
            )
            ev = _tbl(spark, sf_dir, "events").where(F.col("event_id") < 2000)
            build_versioned_from_spec(
                spark, base, ev, spec, key_cols=["event_id"],
                version_router=(F.col("event_id") % 2 + 1).cast("int"),
            )
        _INDEX_CACHE[key] = base
    docs = union_version_docs(spark, _INDEX_CACHE[key])
    return (
        docs.groupBy("spec_version")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("k_val").cast("bigint").alias("k_sum"),
            F.sum("with_default").cast("bigint").alias("def_sum"),
        )
        .orderBy("spec_version")
    )


# =====================================================================
# Mutation suite driven end-to-end (M2-M8): mutate, then search THROUGH
# the access filter; delete -> undelete restore (reference:
# ElasticIndexingStorage.java:666-915 update-by-query family, :918-953
# undeleteAllVersions; tests testSharing/testPublic/testDeleteUndelete)
# =====================================================================


def _mut_index(spark: SparkSession, sf_dir: str):
    """A dedicated physical index for the mutation round-trip (the shared
    get_index must stay immutable for every other query). Built over
    doc_id < 300, then published/shared via the update-by-query operators
    — idempotently: the mutation pass is skipped when its flag columns
    are already present (re-entry safe, same protocol as the build's
    lineage markers)."""
    from ..operators.mutate import publish_objects, set_access_group

    key = "mut:" + os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        tag = hashlib.md5(key.encode()).hexdigest()[:10]
        idx_dir = os.path.join(
            tempfile.gettempdir(), f"kbse_mutidx_v{FORMAT_VERSION}_{tag}"
        )
        IndexBuilder(
            spark, idx_dir, num_segments=4, segments_per_commit=4
        ).build(
            _docs(spark, sf_dir).where(F.col("doc_id") < 300),
            key_cols=["doc_id"],
            text_col="text",
            doc_id_col="doc_id",
            resume=True,
        )
        if "is_public" not in store.docs_columns(idx_dir):
            # M4 publish: every English doc becomes public
            publish_objects(spark, idx_dir, F.col("lang") == "en")
        if "access_group" not in store.docs_columns(idx_dir):
            # M2 share: three sources shared into access group 7
            set_access_group(
                spark, idx_dir,
                F.col("source").isin("src3", "src7", "src11"), group=7,
            )
        _INDEX_CACHE[key] = idx_dir
    return InvertedIndex(spark, _INDEX_CACHE[key])


@q(
    "mut_publish_search",
    """
WITH m AS (
  SELECT doc_id FROM (
    SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text),
           '[a-z0-9_]+'))) AS term
    FROM documents WHERE doc_id < 300) t
  WHERE term = 'the' GROUP BY doc_id)
SELECT d.doc_id FROM documents d JOIN m USING (doc_id)
WHERE d.lang = 'en' OR d.source IN ('src3','src7','src11')
ORDER BY doc_id LIMIT 50
""",
)
def mut_publish_search(spark, sf_dir):
    """M2/M4 + A1/A2 round trip: publish_objects + set_access_group
    update-by-query mutations, then search_objects THROUGH AccessFilter
    (user sees group-7 shares plus public docs). The reference's
    testSharing/testPublic flow (ElasticIndexingStorageTest.java:726-958)
    as one driver-checked query."""
    from .search import AccessFilter, MatchFilter, PostProcessing

    index = _mut_index(spark, sf_dir)
    return search_objects_facade(
        index,
        MatchFilter(full_text="the"),
        access=AccessFilter(user_groups=[7], with_public=True),
        post=PostProcessing(ids_only=True),
    )


def _vermut_index(spark: SparkSession, sf_dir: str):
    """A VERSIONED index for the lastin[]/groups[]/extpub[] access family
    (ElasticIndexingStorage.java:666-763): documents doc_id < 240 folded
    into 80 objects x 3 versions (obj_id = doc_id//3, version =
    doc_id%3+1). Mutations (idempotent — the access_lastin column marks
    the pass done):
      init       groups=[10] every version (index-time home grant)
      promote    home lastin pointer -> v3 (new-version maintenance)
      share      g11 pinned at v1 of obj%5==0
      re-share   g11 pointer MOVED to v2 of obj%10==0
      unshare    g11 revoked for obj%20==0 (pointer was at v2)
      extpub     g12 externally published at v3 of obj%7==0
    """
    from ..operators.mutate import (
        promote_last_version,
        publish_externally,
        share_object_version,
        unshare_object_version,
        update_docs_fields,
    )

    key = "vermut:" + os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        tag = hashlib.md5(key.encode()).hexdigest()[:10]
        idx_dir = os.path.join(
            tempfile.gettempdir(), f"kbse_vermut_v{FORMAT_VERSION}_{tag}"
        )
        corpus = (
            _docs(spark, sf_dir)
            .where(F.col("doc_id") < 240)
            .withColumn("obj_id", (F.col("doc_id") / 3).cast("int"))
            .withColumn("version", (F.col("doc_id") % 3 + 1).cast("int"))
        )
        IndexBuilder(
            spark, idx_dir, num_segments=4, segments_per_commit=4
        ).build(
            corpus, key_cols=["doc_id"], text_col="text",
            doc_id_col="doc_id", resume=True,
        )
        if "access_lastin" not in store.docs_columns(idx_dir):
            obj = F.col("obj_id")
            update_docs_fields(
                spark, idx_dir, F.lit(True),
                {"access_groups": F.array(F.lit(10)),
                 "access_lastin": F.expr("CAST(array() AS array<int>)"),
                 "extpub": F.expr("CAST(array() AS array<int>)")},
            )
            promote_last_version(spark, idx_dir, F.lit(True), 3,
                                 home_group=10)
            share_object_version(spark, idx_dir, obj % 5 == 0, 1, 11)
            share_object_version(spark, idx_dir, obj % 10 == 0, 2, 11)
            unshare_object_version(spark, idx_dir, obj % 20 == 0, 11,
                                   home_group=10)
            publish_externally(spark, idx_dir, obj % 7 == 0, 3, 12)
        _INDEX_CACHE[key] = idx_dir
    return InvertedIndex(spark, _INDEX_CACHE[key])


@q(
    "mut_access_modes",
    """
WITH m AS (
  SELECT doc_id FROM (
    SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text),
           '[a-z0-9_]+'))) AS term
    FROM documents WHERE doc_id < 300) t
  WHERE term = 'the' GROUP BY doc_id),
mv AS (SELECT doc_id, doc_id // 3 AS obj, doc_id % 3 + 1 AS ver
       FROM m WHERE doc_id < 240)
SELECT CAST((SELECT count(*) FROM m) AS BIGINT) AS n_admin,
       CAST((SELECT count(*) FROM m JOIN documents d USING (doc_id)
             WHERE d.lang = 'en' OR d.source IN ('src3','src7','src11'))
            AS BIGINT) AS n_user,
       CAST(0 AS BIGINT) AS n_empty,
       CAST((SELECT count(*) FROM mv WHERE ver = 3) AS BIGINT) AS n_v_home,
       CAST((SELECT count(*) FROM mv) AS BIGINT) AS n_v_hist,
       CAST((SELECT count(*) FROM mv
             WHERE (ver = 1 AND obj % 5 = 0 AND obj % 10 <> 0)
                OR (ver = 2 AND obj % 10 = 0 AND obj % 20 <> 0))
            AS BIGINT) AS n_v_g11,
       CAST((SELECT count(*) FROM mv
             WHERE (ver = 1 AND obj % 5 = 0)
                OR (ver = 2 AND obj % 10 = 0 AND obj % 20 <> 0))
            AS BIGINT) AS n_v_g11_hist,
       CAST((SELECT count(*) FROM mv WHERE ver = 3 AND obj % 7 = 0)
            AS BIGINT) AS n_v_extpub
""",
)
def mut_access_modes(spark, sf_dir):
    """A4 admin mode + A5 empty-access short-circuit + the reference's
    VERSION-CONDITIONED grants, gate-visible in one compound row.

    n_admin/n_user/n_empty: the same match under three AccessFilters —
    admin sees every hit (ElasticIndexingStorage.java:1423-1440), a
    group-7 user sees public∪shared (A1/A2), an empty filter returns
    ZERO rows without touching the index (:1506-1511).

    n_v_*: lastin[]/groups[]/extpub[] semantics over a versioned index
    (UPDATE_ACC_GRP_VERS_TEMPLATE :666-685; testSharing :726-773):
      n_v_home      home group sees only LAST versions (lastin moved by
                    new-version promotion)
      n_v_hist      with_all_history sees every version (groups[])
      n_v_g11       version-PINNED shares: v1 grants survive unless the
                    pointer was re-shared to v2; unshare revokes
      n_v_g11_hist  groups[] accumulates across re-shares; external
                    unshare removes only the pointed version's grant
      n_v_extpub    exists(extpub) clause under with_public (:1461-1476)
    """
    from .search import AccessFilter, MatchFilter, Pagination

    index = _mut_index(spark, sf_dir)
    mf = MatchFilter(full_text="the")
    pg = Pagination(0, 1000)
    n_admin = search_objects_facade(
        index, mf, access=AccessFilter(admin=True), pagination=pg
    ).count()
    n_user = search_objects_facade(
        index, mf,
        access=AccessFilter(user_groups=[7], with_public=True),
        pagination=pg,
    ).count()
    n_empty = search_objects_facade(
        index, mf, access=AccessFilter(), pagination=pg
    ).count()

    vindex = _vermut_index(spark, sf_dir)
    pgv = Pagination(0, 10_000)

    def nv(groups, hist=False, public=False):
        return search_objects_facade(
            vindex, mf,
            access=AccessFilter(user_groups=groups, with_all_history=hist,
                                with_public=public),
            pagination=pgv,
        ).count()

    return spark.createDataFrame(
        [(
            n_admin, n_user, n_empty,
            nv([10]), nv([10], hist=True), nv([11]), nv([11], hist=True),
            nv([], public=True),
        )],
        "n_admin bigint, n_user bigint, n_empty bigint, n_v_home bigint, "
        "n_v_hist bigint, n_v_g11 bigint, n_v_g11_hist bigint, "
        "n_v_extpub bigint",
    )


@q(
    "mut_multigroup",
    """
WITH m AS (
  SELECT doc_id FROM (
    SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text),
           '[a-z0-9_]+'))) AS term
    FROM documents WHERE doc_id < 200) t
  WHERE term = 'the' GROUP BY doc_id),
md AS (SELECT d.doc_id, d.source, d.lang FROM documents d JOIN m USING (doc_id))
SELECT CAST((SELECT count(*) FROM md WHERE source = 'src2') AS BIGINT) AS n_g7,
       CAST((SELECT count(*) FROM md WHERE source IN ('src2','src4'))
            AS BIGINT) AS n_g9,
       CAST(0 AS BIGINT) AS n_g5,
       CAST((SELECT count(*) FROM md WHERE source = 'src2') AS BIGINT)
         AS n_g7_or_g5
""",
)
def mut_multigroup(spark, sf_dir):
    """M2/M3 multi-group access arrays end-to-end (ElasticIndexingStorage.
    java:666-763 stores per-version group ARRAYS — lastin[]/groups[]; one
    doc shared into SEVERAL groups is visible to each, testSharing
    :726-773): src2 docs are shared into groups 7 AND 9 (the second share
    must not overwrite the first), src4 docs into 9 only, de docs into 5
    then UNSHARED (revocation keeps other grants). Search THROUGH
    AccessFilter with arrays_overlap:
      n_g7      group-7 user -> src2 docs (visible despite ALSO in 9)
      n_g9      group-9 user -> src2 ∪ src4 docs
      n_g5      group-5 user -> 0 (grant revoked)
      n_g7_or_g5  caller in {7,5} -> union over the caller's groups
    """
    from ..operators.mutate import share_with_group, unshare_group
    from .search import AccessFilter, MatchFilter, Pagination

    key = "mutmg:" + os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        tag = hashlib.md5(key.encode()).hexdigest()[:10]
        idx_dir = os.path.join(
            tempfile.gettempdir(), f"kbse_mutmg_v{FORMAT_VERSION}_{tag}"
        )
        IndexBuilder(
            spark, idx_dir, num_segments=4, segments_per_commit=4
        ).build(
            _docs(spark, sf_dir).where(F.col("doc_id") < 200),
            key_cols=["doc_id"],
            text_col="text",
            doc_id_col="doc_id",
            resume=True,
        )
        # idempotent re-entry: the array column's presence marks the
        # mutation pass as done (same protocol as _mut_index)
        if "access_groups" not in store.docs_columns(idx_dir):
            share_with_group(spark, idx_dir, F.col("source") == "src2", 7)
            share_with_group(spark, idx_dir, F.col("source") == "src2", 9)
            share_with_group(spark, idx_dir, F.col("source") == "src4", 9)
            share_with_group(spark, idx_dir, F.col("lang") == "de", 5)
            unshare_group(spark, idx_dir, F.col("lang") == "de", 5)
        _INDEX_CACHE[key] = idx_dir
    index = InvertedIndex(spark, _INDEX_CACHE[key])
    mf = MatchFilter(full_text="the")
    pg = Pagination(0, 10_000)

    def n(groups):
        return search_objects_facade(
            index, mf, access=AccessFilter(user_groups=groups), pagination=pg
        ).count()

    return spark.createDataFrame(
        [(n([7]), n([9]), n([5]), n([7, 5]))],
        "n_g7 bigint, n_g9 bigint, n_g5 bigint, n_g7_or_g5 bigint",
    )


@q(
    "api_skip_keys",
    """
SELECT * FROM (
  SELECT 'skip' AS variant, doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
  FROM (SELECT doc_id, lang, n_chars FROM documents
        WHERE lang IN ('en', 'de') AND n_chars >= 200
        ORDER BY doc_id LIMIT 30)
  UNION ALL
  SELECT 'ids_only', doc_id, NULL::VARCHAR, NULL::BIGINT
  FROM (SELECT doc_id FROM documents WHERE lang = 'de'
        ORDER BY doc_id LIMIT 25)
) ORDER BY variant, doc_id
""",
)
def api_skip_keys(spark, sf_dir):
    """PostProcessing P10 family through the facade, compound
    (KBaseSearchEngine.spec:133-154 skip_keys/skip_data/ids_only,
    SearchMethods.java:179-194): variant 'skip' = skip_data +
    select_keys (payload and non-whitelisted keys asserted gone);
    variant 'ids_only' = _source:[guid] projection under the DEFAULT
    non-relevance sort (O2: doc_id asc when no sort given — r2
    api_ids_only folded in)."""
    from .search import MatchFilter, Pagination, PostProcessing

    index = get_index(spark, sf_dir)
    out = search_objects_facade(
        index,
        MatchFilter(term_in={"lang": ["en", "de"]},
                    ranges={"n_chars": (200, None)}),
        pagination=Pagination(0, 30),
        post=PostProcessing(skip_data=True, select_keys=["lang", "n_chars"]),
    )
    assert "text" not in out.columns, "skip_data must drop the payload"
    assert "source" not in out.columns, "select_keys must drop other keys"
    skip = out.select(
        F.lit("skip").alias("variant"), "doc_id", "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    ids = search_objects_facade(
        index,
        MatchFilter(term_eq={"lang": "de"}),
        pagination=Pagination(0, 25),
        post=PostProcessing(ids_only=True),
    )
    assert ids.columns == ["doc_id"], "ids_only must keep ONLY doc_id"
    ids = ids.select(
        F.lit("ids_only").alias("variant"), "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("bigint").alias("n_chars"),
    )
    return skip.unionByName(ids).orderBy("variant", "doc_id")


@q(
    "rel_ref_closure",
    """
WITH RECURSIVE e AS (
  SELECT doc_id AS src, (2*doc_id+1) % 500 AS dst FROM documents
  WHERE doc_id < 500
  UNION ALL
  SELECT doc_id, (3*doc_id+7) % 500 FROM documents WHERE doc_id < 500
),
r AS (
  SELECT doc_id AS id, 0 AS hop FROM documents WHERE doc_id < 3
  UNION ALL
  SELECT e.dst, r.hop + 1 FROM r JOIN e ON e.src = r.id WHERE r.hop < 5
)
SELECT CAST(id AS BIGINT) AS id, CAST(MIN(hop) AS BIGINT) AS hop
FROM r GROUP BY id ORDER BY id
""",
)
def rel_ref_closure(spark, sf_dir):
    """J5 recursive guid ref-resolution: the transitive closure an
    object's references pull in (lookup.resolveRefs walking workspace ref
    paths, parse/KeywordParser.java:271; recursive indexing of referenced
    objects). Deterministic synthetic ref edges over documents
    (dst = (2i+1)%500 and (3i+7)%500), 3 roots, 5 hops; Spark BFS
    min-hop closure vs a DuckDB recursive CTE."""
    from ..operators.refs import ref_closure

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 500).select("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 2 + 1) % 500).alias("dst"),
    ).union(
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 3 + 7) % 500).alias("dst"),
        )
    )
    roots = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("id")
    )
    out = ref_closure(edges, roots, max_hops=5, id_col="id")
    return out.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("hop").cast("bigint").alias("hop"),
    ).orderBy("id")


@q(
    "xf_guid_refs",
    """
SELECT doc_id, 'WS:' || CAST((doc_id * 7) % 120 AS VARCHAR) AS ref_guid,
       (doc_id * 7) % 120 < 100 AS found
FROM documents WHERE doc_id < 100 ORDER BY doc_id
""",
)
def xf_guid_refs(spark, sf_dir):
    """T5 guid transform through the rule engine + J5 validation join:
    a ref-valued key becomes a storage-code-prefixed GUID string
    (KeywordParser.java:254-272), then validate_refs marks each against
    the catalog (GUIDNotFoundException analog as a found flag)."""
    from ..functions.transforms import Rule, apply_rules
    from ..operators.refs import validate_refs

    base = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 100)
        .withColumn("_ref", ((F.col("doc_id") * 7) % 120).cast("string"))
    )
    extracted = apply_rules(
        base, [Rule(name="ref_guid", path="_ref", transform="guid:WS")]
    )
    catalog = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 100)
        .select(F.concat(F.lit("WS:"), F.col("doc_id").cast("string"))
                .alias("guid"))
    )
    return (
        validate_refs(extracted, catalog, ref_col="ref_guid")
        .select("doc_id", "ref_guid", "found")
        .orderBy("doc_id")
    )


@q(
    "api_rpc_search",
    """
SELECT doc_id AS guid, lang FROM documents
WHERE source IN ('src1', 'src2') AND lang = 'en'
ORDER BY doc_id LIMIT 20
""",
)
def api_rpc_search(spark, sf_dir):
    """S8 gate-visible: the full JSON-RPC envelope path —
    KBaseSearchEngine.search_objects request dict -> param translation
    (SearchMethods.java:102-194 analog) -> facade -> ObjectData result
    dicts (KBaseSearchEngineServer.java:232-240). source_tags whitelist +
    lookup_in_keys term, skip_data post-processing."""
    from ..api.rpc import RpcService

    svc = RpcService(get_index(spark, sf_dir), type_col="lang")
    resp = svc.handle({
        "version": "1.1", "id": "drv",
        "method": "KBaseSearchEngine.search_objects",
        "params": [{
            "match_filter": {
                "source_tags": ["src1", "src2"],
                "lookup_in_keys": {"lang": {"value": "en"}},
            },
            "pagination": {"start": 0, "count": 20},
            "post_processing": {"skip_data": 1},
        }],
    })
    assert "error" not in resp, resp.get("error")
    objs = resp["result"][0]["objects"]
    return spark.createDataFrame(
        [(int(o["guid"]), o["object_props"]["lang"]) for o in objs],
        "guid bigint, lang string",
    )


@q(
    "idx_resume_rebuild",
    """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS t
  FROM documents WHERE doc_id < 400)
SELECT CAST((SELECT count(*) FROM documents WHERE doc_id < 400)
            AS BIGINT) AS n_docs,
       CAST((SELECT count(*) FROM tok) AS BIGINT) AS total_dl,
       CAST((SELECT count(*) FROM (SELECT DISTINCT doc_id, t FROM tok))
            AS BIGINT) AS total_postings
""",
)
def idx_resume_rebuild(spark, sf_dir):
    """E2/S3 gate-visible: the event-state/lineage machine survives a
    mid-build kill. Build over doc_id<400 with max_groups=1 fault
    injection (2 segment groups pending -> killed after the first
    commit), then re-enter with resume=True: only unmarked groups
    rebuild, and the resumed index's stats + summed postings equal the
    raw-corpus truth (reference: IndexerWorker restart semantics over
    the event store, main/IndexerWorker.java)."""
    import shutil

    sub = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    tag = hashlib.md5(
        ("resume:" + os.path.abspath(sf_dir)).encode()
    ).hexdigest()[:10]
    idx_dir = os.path.join(
        tempfile.gettempdir(), f"kbse_resume_v{FORMAT_VERSION}_{tag}"
    )
    b = IndexBuilder(spark, idx_dir, num_segments=4, segments_per_commit=2)
    if not store.has_marker(idx_dir, "terms"):
        shutil.rmtree(idx_dir, ignore_errors=True)
        killed = False
        try:
            b.build(sub, key_cols=["doc_id"], text_col="text",
                    doc_id_col="doc_id", resume=True, max_groups=1)
        except RuntimeError:
            killed = True
        assert killed, "fault injection must kill the first build"
        assert store.has_marker(idx_dir, "group-0")
        assert not store.has_marker(idx_dir, "group-1")
        b.build(sub, key_cols=["doc_id"], text_col="text",
                doc_id_col="doc_id", resume=True)
    stats = store.read_stats(idx_dir)
    total_postings = (
        store.read_table(spark, idx_dir, "postings")
        .agg(F.sum("df")).collect()[0][0]
    )
    return spark.createDataFrame(
        [(int(stats["n_docs"]), int(stats["total_dl"]), int(total_postings))],
        "n_docs bigint, total_dl bigint, total_postings bigint",
    )


@q(
    "events_undelete",
    """
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS ts,
         CASE event_type WHEN 'view' THEN 'NEW_VERSION'
                         WHEN 'click' THEN 'DELETE'
                         ELSE 'UNDELETE' END AS op,
         'p' || CAST(user_id % 20 AS VARCHAR) AS path,
         CAST(event_id AS VARCHAR) AS "commit",
         CASE WHEN event_type = 'view'
              THEN 'c' || CAST(event_id AS VARCHAR) END AS content
  FROM events WHERE event_type IN ('view', 'click', 'error')),
latest AS (
  SELECT path, op FROM (
    SELECT path, op, row_number() OVER (PARTITION BY path
           ORDER BY ts DESC, event_id DESC) AS rn FROM ev) WHERE rn = 1),
cont AS (
  SELECT path, "commit", content FROM (
    SELECT path, "commit", content, row_number() OVER (PARTITION BY path
           ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE op = 'NEW_VERSION') WHERE rn = 1)
SELECT c.path, c."commit", c.content
FROM cont c JOIN latest l USING (path)
WHERE l.op <> 'DELETE' ORDER BY path
""",
)
def events_undelete(spark, sf_dir):
    """M8 delete -> undelete restore through the event state machine
    (streaming/events.py visible_docs; reference undeleteAllVersions,
    ElasticIndexingStorage.java:918-953): deterministically map the
    events table to NEW_VERSION/DELETE/UNDELETE ops per path, then
    resolve visibility — a path whose latest op is DELETE is hidden;
    UNDELETE restores the last pre-delete version's content."""
    from ..streaming.events import events_to_version_rows, visible_docs

    ev = _tbl(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "error")
    )
    mapped = ev.select(
        "event_id",
        F.expr("unix_micros(cast(ts AS timestamp))").alias("ts"),
        F.when(F.col("event_type") == "view", "NEW_VERSION")
        .when(F.col("event_type") == "click", "DELETE")
        .otherwise("UNDELETE")
        .alias("op"),
        F.lit("r").alias("repo"),
        F.concat(F.lit("p"), (F.col("user_id") % 20).cast("string")).alias(
            "path"
        ),
        F.col("event_id").cast("string").alias("commit"),
        F.lit("py").alias("lang"),
        F.when(
            F.col("event_type") == "view",
            F.concat(F.lit("c"), F.col("event_id").cast("string")),
        ).alias("content"),
    )
    rows = events_to_version_rows(mapped)
    return (
        visible_docs(rows)
        .select("path", "commit", "content")
        .orderBy("path")
    )


# =====================================================================
# Training-data pipeline: deduplication family (operators/dedup.py)
# =====================================================================

_DUCK_TOKS = "regexp_extract_all(lower(text), '[a-z0-9_]+')"
_DUCK_SHINGLES = f"""
toks AS (SELECT doc_id AS id, {_DUCK_TOKS} AS ts FROM documents),
sh AS (
  SELECT DISTINCT id,
         unnest(list_transform(generate_series(1, greatest(len(ts) - 2, 0)),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
  FROM toks)
"""


@q(
    "dedup_exact",
    """
WITH h AS (SELECT doc_id AS id, md5(substr(text, 1, 60)) AS hk FROM documents),
surv AS (SELECT hk, min(id) AS dup_of, count(*) AS n FROM h GROUP BY hk)
SELECT h.id, surv.dup_of FROM h JOIN surv USING (hk)
WHERE surv.n > 1 AND h.id <> surv.dup_of ORDER BY h.id
""",
)
def dedup_exact_q(spark, sf_dir):
    """Exact dedup by content-prefix hash (hash-groupBy; survivor=min id).
    Uses a 60-char prefix key so the synthetic corpus yields real groups."""
    d = _docs(spark, sf_dir).withColumn("key_text", F.substring("text", 1, 60))
    return dedup.dedup_exact(d, "doc_id", "key_text").orderBy("id")


@q(
    "dedup_minhash",
    f"""
WITH {_DUCK_SHINGLES},
-- exact-dup prefilter mirror (dedup.dedup_minhash_candidates
-- exact_prefilter=True): byte-identical texts collapse to their min-id
-- representative BEFORE shingling, so intra-exact-cluster pairs are
-- dedup_exact's job, not LSH's
reps AS (SELECT min(doc_id) AS id FROM documents GROUP BY md5(text)),
hx AS (SELECT id, ('0x' || substr(md5(shingle), 1, 13))::BIGINT AS hx
       FROM sh JOIN reps USING (id)),
perms AS (SELECT i AS perm, (2*i+1)::BIGINT AS a, (12345*i+7)::BIGINT AS b
          FROM generate_series(0, 15) s(i)),
sig AS (SELECT id, perm, min((a * hx + b) % 2305843009213693951) AS minhash
        FROM hx CROSS JOIN perms GROUP BY id, perm),
banded AS (
  SELECT id, (perm // 4)::INT AS band,
         md5(string_agg(perm || ':' || minhash, ','
             ORDER BY perm || ':' || minhash)) AS bucket
  FROM sig GROUP BY id, (perm // 4)::INT)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.id < b.id ORDER BY id_a, id_b
""",
)
def dedup_minhash_q(spark, sf_dir):
    """MinHash+LSH near-dup candidates: shingle → 16 universal-hash minima
    → 4 LSH bands → bucket join. Bounded-key join, no O(n²)."""
    return dedup.dedup_minhash_candidates(
        _docs(spark, sf_dir), "doc_id", "text", n=3
    ).orderBy("id_a", "id_b")


@q(
    "dedup_ngram_jaccard",
    f"""
WITH {_DUCK_SHINGLES},
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
sdf AS (SELECT shingle, count(*) AS sdf FROM sh GROUP BY shingle),
rare AS (SELECT sh.id, sh.shingle FROM sh JOIN sdf USING (shingle)
         WHERE sdf.sdf <= 50),
inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
          FROM rare a JOIN rare b USING (shingle)
          WHERE a.id < b.id GROUP BY 1, 2)
SELECT id_a, id_b,
       round(inter::DOUBLE / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
WHERE inter::DOUBLE / (sa.sz + sb.sz - inter) >= 0.9
ORDER BY id_a, id_b
""",
)
def dedup_ngram_jaccard_q(spark, sf_dir):
    """Exact n-gram Jaccard verification over rare-shingle candidates
    (df-capped fan-out — the skew guard for all-pairs similarity)."""
    out = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.9
    )
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def _simhash_oracle(tail: str = "ORDER BY id LIMIT 100") -> str:
    from ..operators.dedup import HASH_BITS

    bit_sum = " + ".join(
        f"(CASE WHEN sum(tf * (((hx >> {j}) & 1) * 2 - 1)) > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(HASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS id, unnest({_DUCK_TOKS}) AS token FROM documents),
tf AS (SELECT id, token, count(*) AS tf FROM tok GROUP BY id, token),
hx AS (SELECT id, tf, ('0x' || substr(md5(token), 1, 13))::BIGINT AS hx FROM tf)
SELECT id, ({bit_sum}) AS simhash FROM hx GROUP BY id {tail}
"""


@q(
    "dedup_simhash",
    f"""
WITH sh AS ({_simhash_oracle(tail="")})
SELECT * FROM (
  SELECT 'sig' AS variant, id AS x, simhash AS y, NULL::BIGINT AS z
  FROM sh WHERE id < 100
  UNION ALL
  SELECT 'pair', a.id, b.id,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
) ORDER BY variant, x, y
""",
)
def dedup_simhash_q(spark, sf_dir):
    """SimHash compound (the r3 dedup_simhash_pairs query folded in):
    variant 'sig' = 52-bit tf-weighted signatures (pure groupBy bit-agg);
    variant 'pair' = near-dup pairs via the Manku-style pigeonhole chunk
    join + hamming verify. The pair oracle is the exhaustive O(n²)
    self-join (fine in DuckDB at sf0.01); the engine's chunk join is
    set-equal by the pigeonhole principle."""
    d = _docs(spark, sf_dir)
    sigs = dedup.simhash64(d, "doc_id", "text").where(F.col("id") < 100)
    sig_rows = sigs.select(
        F.lit("sig").alias("variant"), F.col("id").alias("x"),
        F.col("simhash").alias("y"), F.lit(None).cast("bigint").alias("z"),
    )
    pairs = dedup.simhash_near_pairs(d, "doc_id", "text", max_hamming=3)
    pair_rows = pairs.select(
        F.lit("pair").alias("variant"), F.col("id_a").alias("x"),
        F.col("id_b").alias("y"), F.col("hamming").cast("bigint").alias("z"),
    )
    return sig_rows.unionByName(pair_rows).orderBy("variant", "x", "y")


def _emb_near_oracle(dim: int = 64, n_planes: int = 12, seed: int = 42,
                     max_hamming: int = 2, threshold: float = 0.95) -> str:
    """Mirror embedding_near_pairs exactly: plant perturbed duplicates of
    vec_id<20, LSH sign signatures from the seed-deterministic planes,
    pigeonhole-equivalent hamming filter, exact cosine verify."""
    planes = ann.hyperplanes(dim, n_planes, seed)

    def sig_expr(vec_sql: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            lit = "[" + ",".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product({vec_sql}, {lit}) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")::BIGINT"

    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planted AS (
  SELECT vec_id + 100000 AS vec_id,
         list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 0.1 ELSE x END) AS v
  FROM base WHERE vec_id < 20),
allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
sigs AS (SELECT vec_id, v, {sig_expr('v')} AS sig FROM allv),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(a.v, b.v) AS cosine
  FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
  WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming})
SELECT id_a, id_b, round(cosine, 6) AS cosine
FROM cand WHERE cosine >= {threshold}
ORDER BY id_a, id_b
"""


@q("dedup_embedding", _emb_near_oracle())
def dedup_embedding_q(spark, sf_dir):
    """Embedding-cosine near-dup detection: LSH sign-bit candidates
    (pigeonhole chunk join, bounded keys) + exact JVM cosine verify.
    Twenty perturbed duplicates are planted deterministically (component
    1 shifted by +0.1) so the operator has real near-pairs to find; the
    oracle reproduces the identical plant + LSH + verify pipeline."""
    emb = _tbl(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    planted = base.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(v, (x, i) -> CASE WHEN i = 0 THEN x + 0.1D ELSE x END)"
        ).alias("v"),
    )
    allv = base.unionByName(planted)
    out = dedup.embedding_near_pairs(
        allv, threshold=0.95, id_col="vec_id", vec_col="v",
        n_planes=12, max_hamming=2,
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    ).orderBy("id_a", "id_b")


# =====================================================================
# Similarity search over embeddings (operators/ann.py)
# =====================================================================


@q(
    "ann_cosine_topk",
    """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6)
         AS cosine
FROM embeddings e CROSS JOIN q
ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC,
         e.vec_id ASC
LIMIT 10
""",
)
def ann_cosine_topk_q(spark, sf_dir):
    """Brute-force cosine top-10 (exact ANN baseline): JVM-side
    zip_with/aggregate dot product, TakeOrderedAndProject — no shuffle."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    out = ann.cosine_topk(emb, qvec, k=10)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def _ann_lsh_oracle(dim: int = 64, n_planes: int = 8, seed: int = 42,
                    probe_hamming: int = 2, k: int = 10) -> str:
    """Reproduce the LSH probe + exact re-rank in SQL. The hyperplanes are
    seed-deterministic (ann.hyperplanes), emitted as DOUBLE[] literals; the
    query vector and its signature are computed inside the SQL itself."""
    planes = ann.hyperplanes(dim, n_planes, seed)

    def sig_expr(vec_sql: str) -> str:
        terms = []
        for i, p in enumerate(planes):
            lit = "[" + ",".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product({vec_sql}, {lit}) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")"

    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qs AS (SELECT {sig_expr('q.qv')}::BIGINT AS qsig FROM q),
sigs AS (SELECT vec_id, embedding::DOUBLE[] AS ev,
                {sig_expr('embedding::DOUBLE[]')}::BIGINT AS sig
         FROM embeddings),
cand AS (SELECT s.vec_id, s.ev FROM sigs s CROSS JOIN qs
         WHERE bit_count(xor(s.sig, qs.qsig)) <= {probe_hamming})
SELECT c.vec_id,
       round(list_cosine_similarity(c.ev, q.qv), 6) AS cosine
FROM cand c CROSS JOIN q
ORDER BY list_cosine_similarity(c.ev, q.qv) DESC, c.vec_id ASC
LIMIT {k}
"""


@q("ann_lsh_topk", _ann_lsh_oracle())
def ann_lsh_topk_q(spark, sf_dir):
    """LSH-bucketed ANN (random hyperplanes, probe hamming≤2, exact
    re-rank). Oracle reproduces the seed-deterministic hyperplane buckets,
    probe set and exact cosine re-rank in SQL."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    out = ann.cosine_topk_lsh(emb, qvec, k=10)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


# =====================================================================
# Text analysis (operators/textstats.py)
# =====================================================================


@q(
    "text_token_counts",
    """
WITH tc AS (
  SELECT doc_id AS id,
         len(list_filter(regexp_split_to_array(text, '\\s+'),
             x -> x <> ''))::BIGINT AS n_tokens_ws,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             x -> x <> ''))::BIGINT AS n_tokens_word
  FROM documents),
f AS (
  SELECT doc_id AS id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
           / greatest(length(text), 1) AS alpha_ratio,
         length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}]', '', 'g'))::DOUBLE
           / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             x -> x IN ('the','and','of','to','in','is','that','it','for','was')
             ))::DOUBLE
           / greatest(len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9_]+'), x -> x <> '')), 1) AS stopword_ratio,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             x -> x <> '')) AS n_tokens
  FROM documents)
SELECT f.id, tc.n_tokens_ws, tc.n_tokens_word, f.n_chars,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       n_tokens::BIGINT AS n_tokens,
       round(0.5 * alpha_ratio + 0.3 * least(stopword_ratio * 3, 1.0)
             + 0.2 * least(n_tokens / 100.0, 1.0), 6) AS quality
FROM f JOIN tc USING (id) ORDER BY id LIMIT 100
""",
)
def text_token_counts_q(spark, sf_dir):
    """Token counting (whitespace + word-regex) AND quality scoring
    (length/alpha/punct/stopword features + fixed linear blend) in one
    per-doc frame — all JVM built-in expressions, joined on id (the r3
    text_quality query folded in to keep the driver's 50-query window
    covering every operator)."""
    d = _docs(spark, sf_dir)
    tc = textstats.token_counts(d, "doc_id", "text").select(
        "id",
        F.col("n_tokens_ws").cast("bigint").alias("n_tokens_ws"),
        F.col("n_tokens_word").cast("bigint").alias("n_tokens_word"),
    )
    qs = textstats.quality_scores(d, "doc_id", "text").withColumn(
        "n_tokens", F.col("n_tokens").cast("bigint")
    )
    return (
        qs.join(tc, "id")
        .select("id", "n_tokens_ws", "n_tokens_word", "n_chars",
                "alpha_ratio", "punct_ratio", "stopword_ratio",
                "n_tokens", "quality")
        .orderBy("id")
        .limit(100)
    )


def _langid_fingerprint_oracle() -> str:
    from ..operators.textstats import LANG_PROFILES

    hit_cols = []
    for lg, stops in sorted(LANG_PROFILES.items()):
        inlist = ",".join(f"'{s}'" for s in stops)
        hit_cols.append(
            f"len(list_filter(regexp_split_to_array(lower(text),"
            f" '[^a-z0-9_]+'), x -> x IN ({inlist}))) AS hits_{lg}"
        )
    langs = sorted(LANG_PROFILES)
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    pred = "'und'"
    for lg in reversed(langs):
        pred = f"CASE WHEN best > 0 AND hits_{lg} = best THEN '{lg}' ELSE {pred} END"
    return f"""
WITH h AS (SELECT doc_id AS id, text, {', '.join(hit_cols)} FROM documents),
b AS (SELECT id, text, {best} AS best, * EXCLUDE (id, text) FROM h),
fp AS (
  SELECT doc_id AS id,
         list_min(list_transform(
           generate_series(1, greatest(length(text) - 7, 1)),
           i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 13))::BIGINT
         )) AS fingerprint
  FROM documents)
SELECT b.id, ({pred}) AS pred_lang, fp.fingerprint
FROM b JOIN fp USING (id) ORDER BY id LIMIT 100
"""


@q("text_langid", _langid_fingerprint_oracle())
def text_langid_q(spark, sf_dir):
    """Language-ID (stopword-profile argmax heuristic) AND document
    fingerprinting (min md5-derived hash over all char 8-grams —
    winnowing-style rolling signature, robust to local edits) per doc,
    joined on id (the r3 text_fingerprint query folded in)."""
    d = _docs(spark, sf_dir)
    lid = textstats.lang_id(d, "doc_id", "text").select("id", "pred_lang")
    fp = textstats.fingerprints(d, "doc_id", "text", gram=8)
    return lid.join(fp, "id").orderBy("id").limit(100)


# =====================================================================
# Multimodal columns: opaque binary + typed metadata (stubbed decode)
# =====================================================================


@q(
    "mm_binary_features",
    """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       length(text) AS n_chars,
       'stub' AS decoder
FROM documents WHERE doc_id < 50 ORDER BY doc_id
""",
)
def mm_binary_features_q(spark, sf_dir):
    """Multimodal plumbing: payload as opaque binary column + typed
    metadata. The real decode (image/audio libs absent in this container)
    is stubbed behind operators/multimodal.py; the Spark-side schema,
    batching and UDF signature are real and tested."""
    from ..operators import multimodal

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 50)
    blobs = multimodal.to_binary_payload(d, "doc_id", "text")
    feats = multimodal.extract_features(blobs)
    return feats.select("doc_id", "n_bytes", "n_chars", "decoder").orderBy("doc_id")


# =====================================================================
# Declarative extraction rules (T1-T8; system/ObjectTypeParsingRules +
# parse/KeywordParser in the reference) driven through real data
# =====================================================================


@q(
    "xf_rules_events",
    """
WITH x AS (
  SELECT event_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
         CAST(event_type AS VARCHAR) AS etype,
         coalesce(CAST(json_extract(props, '$.missing') AS BIGINT), 7)
           AS with_default
  FROM events),
d AS (SELECT event_id, k_val, etype, with_default,
             k_val * 2 AS derived FROM x)
SELECT etype, count(*) AS cnt, CAST(sum(k_val) AS BIGINT) AS k_sum,
       CAST(sum(derived) AS BIGINT) AS derived_sum,
       CAST(sum(with_default) AS BIGINT) AS def_sum
FROM d GROUP BY etype ORDER BY etype
""",
)
def xf_rules_events(spark, sf_dir):
    """Declarative rule chain (JSON path projection T10, integer cast T2,
    string cast T1, optional default T7, derived key T8) compiled to a
    withColumn plan — the reference's KeywordParser pipeline."""
    from ..functions.transforms import Rule, apply_rules

    ev = _tbl(spark, sf_dir, "events")
    rules = [
        Rule("k_val", path="$.k", transform="integer"),
        Rule("etype", path="event_type", transform="string"),
        Rule("with_default", path="$.missing", transform="integer", default=7),
        # T8 derived key doing real computation INSIDE the rule system
        Rule("derived", source_key="k_val", expr="k_val * 2",
             transform="integer"),
    ]
    out = apply_rules(ev, rules, json_col="props")
    return (
        out.groupBy("etype")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("k_val").alias("k_sum"),
            F.sum("derived").alias("derived_sum"),
            F.sum("with_default").alias("def_sum"),
        )
        .orderBy("etype")
    )


@q(
    "xf_spec_yaml",
    """
WITH x AS (
  SELECT CAST(event_type AS VARCHAR) AS etype,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
         coalesce(CAST(json_extract(props, '$.missing') AS BIGINT), 7)
           AS with_default,
         CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS derived,
         CAST(json_extract(props, '$.k') AS BIGINT) AS raw_k
  FROM events)
SELECT etype, count(*) AS cnt, CAST(sum(k_val) AS BIGINT) AS k_sum,
       CAST(sum(derived) AS BIGINT) AS derived_sum,
       CAST(sum(with_default) AS BIGINT) AS def_sum,
       CAST(sum(raw_k) AS BIGINT) AS raw_sum
FROM x GROUP BY etype ORDER BY etype
""",
)
def xf_spec_yaml(spark, sf_dir):
    """Extraction driven ENTIRELY from a versioned YAML type spec (S7:
    specs/events.yaml parsed by functions/typespec.py, the reference's
    ObjectTypeParsingRulesFileParser analog). Latest-version routing picks
    v2, whose rules exercise JSON paths (T10), casts (T1/T2), optional
    default (T7), a derived EXPRESSION key (T8), and a stored-but-
    not-indexed key (T9 — asserted excluded from indexed_keys)."""
    import os as _os

    from ..functions.transforms import apply_rules
    from ..functions.typespec import parse_spec_file

    spec = parse_spec_file(
        _os.path.join(_os.path.dirname(__file__), "..", "specs", "events.yaml")
    )
    rules = spec.rules()  # no version given -> latest (v2), the reference default
    assert "raw_k" not in spec.indexed_keys(), "T9 exclusion must hold"
    ev = _tbl(spark, sf_dir, "events")
    out = apply_rules(ev, rules)
    return (
        out.groupBy("etype")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("k_val").alias("k_sum"),
            F.sum("derived").alias("derived_sum"),
            F.sum("with_default").alias("def_sum"),
            F.sum("raw_k").alias("raw_sum"),
        )
        .orderBy("etype")
    )


def _compound_page_oracle() -> str:
    """kv-sorted page UNION relevance page 2 ('spark join', ranks 11-20)."""
    return """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents) AS n,
              (SELECT sum(dl) FROM dl)::DOUBLE
                / (SELECT count(*) FROM documents) AS avgdl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('join','spark') GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
            ) AS score,
         count(*) AS nt
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tf.doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored WHERE nt = 2),
kv AS (SELECT doc_id, lang, n_chars FROM documents
       WHERE lang IN ('en','fr') AND n_chars BETWEEN 100 AND 500
       ORDER BY n_chars DESC, doc_id ASC LIMIT 15 OFFSET 10)
SELECT * FROM (
  SELECT 'kv_page' AS variant, doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
         NULL::BIGINT AS rank, NULL::DOUBLE AS score FROM kv
  UNION ALL
  SELECT 'rel_page2', doc_id, NULL::VARCHAR, NULL::BIGINT, rank,
         round(score, 6) FROM ranked WHERE rank > 10 AND rank <= 20
) ORDER BY variant, doc_id
"""


@q("api_search_page", _compound_page_oracle())
def api_search_page(spark, sf_dir):
    """The search_objects facade end-to-end, BOTH pagination modes in one
    compound result (keeps the driver's 50-query window covering every
    operator): variant 'kv_page' = MatchFilter terms+range → key sort →
    from/size (O1/O3); variant 'rel_page2' = relevance-sorted second page
    over BM25 (O3+O4 — the reference's search_objects with explicit
    relevance sorting, r2 api_relevance_page2 folded in)."""
    from .search import MatchFilter, Pagination, SortingRule, search_objects

    index = get_index(spark, sf_dir)
    kv = search_objects(
        index,
        MatchFilter(term_in={"lang": ["en", "fr"]},
                    ranges={"n_chars": (100, 500)}),
        sorting=[SortingRule("n_chars", ascending=False)],
        pagination=Pagination(10, 15),
    ).select(
        F.lit("kv_page").alias("variant"),
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.lit(None).cast("bigint").alias("rank"),
        F.lit(None).cast("double").alias("score"),
    )
    rel = search_objects(
        index,
        MatchFilter(full_text="spark join"),
        sorting=[SortingRule("relevance")],
        pagination=Pagination(10, 10),
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    rel = rel.select(
        F.lit("rel_page2").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("bigint").alias("n_chars"),
        (F.row_number().over(w) + 10).cast("bigint").alias("rank"),
        F.round("score", 6).alias("score"),
    )
    return kv.unionByName(rel).orderBy("variant", "doc_id")


@q(
    "ft_sub_search",
    """
WITH toks AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents WHERE doc_id < 60),
children AS (
  SELECT doc_id, lang, unnest(ts) AS sub_value,
         (CAST(doc_id AS VARCHAR) || '/' || lang) || ':' ||
           CAST(generate_subscripts(ts, 1) - 1 AS VARCHAR) AS sub_id
  FROM toks),
st AS (SELECT count(*) AS n FROM children),
m AS (SELECT sub_id FROM children WHERE sub_value = 'dup'),
dfc AS (SELECT count(*) AS df FROM m),
par AS (
  SELECT CAST(count(*) AS BIGINT) AS np FROM (
    SELECT doc_id FROM (
      SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text),
             '[a-z0-9_]+'))) AS term
      FROM documents WHERE doc_id < 60) WHERE term = 'dup' GROUP BY doc_id))
SELECT m.sub_id,
       round(ln(1 + (st.n - dfc.df + 0.5) / (dfc.df + 0.5)) / 2.2, 6)
         AS score,
       par.np AS n_parent_match
FROM m CROSS JOIN st CROSS JOIN dfc CROSS JOIN par
ORDER BY sub_id
""",
)
def ft_sub_search(spark, sf_dir):
    """Physical `*_sub` child index from a spec's sub-object-path (U2 done
    for real + SubObjectExtractor/GenomeFeature analog): each token of a
    parent doc becomes a CHILD document (composite GUID
    `<doc_id>/<lang>:<ordinal>`, KeywordParser.java:273-293) indexed into
    <index_dir>/sub/ with its OWN postings and BM25 statistics
    (`_sub` naming ElasticIndexingStorage.java:297-302). The query
    matches child docs THROUGH the child postings via the facade's
    include_subobjects switch (children all have dl=1, so score =
    idf_child/2.2 — reproduced exactly by the oracle), while
    n_parent_match counts the DEFAULT path's hits (parent postings only:
    the `-*_sub` exclusion, :62,1544-1546, is structural — asserted by
    the absence of child rows in the primary docs)."""
    from ..functions.typespec import parse_spec_file
    from ..operators.indexer import build_from_spec
    from .search import MatchFilter, Pagination, search_objects

    key = "subspec:" + os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        tag = hashlib.md5(key.encode()).hexdigest()[:10]
        idx_dir = os.path.join(
            tempfile.gettempdir(), f"kbse_subspec_v{FORMAT_VERSION}_{tag}"
        )
        if not store.is_index(os.path.join(idx_dir, "sub")):
            spec = parse_spec_file(
                os.path.join(os.path.dirname(__file__), "..", "specs",
                             "documents_sub.yaml")
            )
            objects = (
                _docs(spark, sf_dir)
                .where(F.col("doc_id") < 60)
                .select(
                    F.col("doc_id").alias("gid"), "lang", "text",
                    F.expr(
                        "regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"
                    ).alias("toks"),
                )
            )
            build_from_spec(
                spark, idx_dir, objects, spec, key_cols=["gid", "lang"],
                num_segments=4,
            )
        _INDEX_CACHE[key] = idx_dir
    index = InvertedIndex(spark, _INDEX_CACHE[key])
    assert index.has_sub_index()
    # structural exclusion: the primary docs table has NO child rows
    assert "sub_id" not in index.docs.columns

    # child search through the facade switch — all matching children
    # (k=None via a huge page; every child doc has dl=1). Relevance sort
    # requested because the oracle checks the child-scoped BM25 scores —
    # the default non-relevance page is intersection-only (no score col).
    from .search import SortingRule

    children = search_objects(
        index, MatchFilter(full_text="dup"), include_subobjects=True,
        sorting=[SortingRule("relevance")],
        pagination=Pagination(0, 1_000_000),
    ).select("sub_id", F.round("score", 6).alias("score"))

    # default path: parent postings only
    n_parent = topk(index, "dup", k=None, mode="and", hydrate=False).count()
    return (
        children.withColumn("n_parent_match", F.lit(int(n_parent)))
        .orderBy("sub_id")
    )


@q(
    "xf_values_location",
    """
WITH src AS (
  SELECT doc_id, lang, source, n_chars,
         CASE WHEN doc_id % 2 = 0 THEN '+' ELSE '-' END AS strand
  FROM documents WHERE doc_id < 40)
SELECT doc_id,
       source AS loc_contig,
       CASE WHEN strand = '+' THEN n_chars
            ELSE n_chars - 10 + 1 END AS loc_start,
       CASE WHEN strand = '+' THEN n_chars + 10 - 1
            ELSE n_chars END AS loc_stop,
       lang || ',' || source AS flat_str,
       2::BIGINT AS n_flat
FROM src ORDER BY doc_id
""",
)
def xf_values_location(spark, sf_dir):
    """T4 location destructure (strand-dependent start/stop arithmetic,
    KeywordParser.java:331-371), T3 values flatten and G2 {size} — driven
    through the Rule system over synthesized nested columns."""
    from ..functions.transforms import Rule, apply_rules

    d = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 40)
        .withColumn(
            "loc",
            F.array(
                F.col("source"),
                F.col("n_chars").cast("string"),
                F.when(F.col("doc_id") % 2 == 0, "+").otherwise("-"),
                F.lit("10"),
            ),
        )
        .withColumn("nested", F.array(F.array(F.col("lang"), F.col("source"))))
    )
    rules = [
        Rule("loc_contig", path="loc", transform="location.contig_id"),
        Rule("loc_start", path="loc", transform="location.start"),
        Rule("loc_stop", path="loc", transform="location.stop"),
        Rule("flat", path="nested", transform="values"),        # T3
        Rule("n_flat", source_key="flat", transform="size"),    # G2 {size}
    ]
    out = apply_rules(d, rules)
    return (
        out.select(
            "doc_id", "loc_contig", "loc_start", "loc_stop",
            F.concat_ws(",", "flat").alias("flat_str"),
            "n_flat",
        )
        .orderBy("doc_id")
    )


@q(
    "api_bool_should",
    """
SELECT doc_id, lang, n_chars FROM documents
WHERE ((lang = 'de' AND n_chars > 300) OR (lang = 'fr' AND n_chars < 200))
  AND source <> 'src9'
ORDER BY doc_id LIMIT 100
""",
)
def api_bool_should(spark, sf_dir):
    """bool.should composition (P7): OR of AND-clauses, AND-combined with
    a must_not, through the search facade
    (ElasticIndexingStorage.java:1304-1326)."""
    from .search import MatchFilter, Pagination, search_objects

    index = get_index(spark, sf_dir)
    out = search_objects(
        index,
        MatchFilter(
            # clause = AND of terms; tuple value = inclusive-exclusive-
            # flexible range; clauses OR together (the should block)
            should=[
                {"lang": "de", "n_chars": (301, None)},
                {"lang": "fr", "n_chars": (None, 199)},
            ],
            term_not_in={"source": ["src9"]},
        ),
        pagination=Pagination(0, 100),
    )
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id").limit(100)


@q(
    "xf_subobjects",
    """
WITH exploded AS (
  SELECT doc_id, lang,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                x -> x <> '')) AS sub_value,
         generate_subscripts(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9_]+'), x -> x <> ''), 1) - 1 AS pos
  FROM documents WHERE doc_id < 20)
SELECT doc_id,
       (doc_id::VARCHAR || '/' || lang) || ':' || pos::VARCHAR AS sub_id,
       sub_value
FROM exploded ORDER BY doc_id, pos LIMIT 500
""",
)
def xf_subobjects(spark, sf_dir):
    """Sub-object explode (SubObjectExtractor analog): tokens of each doc
    become child documents with composite GUIDs `<parent>:<ordinal>`
    (GUID composition, KeywordParser.java:273-293; GUID.java:99-120)."""
    from ..functions.transforms import explode_subobjects

    d = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 20)
        .withColumn(
            "toks",
            F.expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"),
        )
    )
    out = explode_subobjects(d, ["doc_id", "lang"], "toks")
    return (
        out.select("doc_id", "sub_id", "sub_value",
                   F.split(F.col("sub_id"), ":")[1].cast("int").alias("_pos"))
        .orderBy("doc_id", "_pos")
        .drop("_pos")
        .limit(500)
    )
