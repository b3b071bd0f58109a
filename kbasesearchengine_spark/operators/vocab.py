"""Offline term-vocabulary derivation for the hash-keyed (v4) index.

The v4 posting/term layout is keyed by ``xxhash64(token)`` — BM25 never
needs term strings after the build (query terms are hashed driver-side,
functions/hashing.py). For the use cases that DO want strings — term
browsing, typo suggestions, index debugging, the reference's term-facet
style aggregations — this module derives the (term, term_hash, df)
dictionary with ONE extra JVM-only pass over the corpus:

  explode(array_distinct(tokens)) -> groupBy(term) count -> xxhash64

``array_distinct`` runs per doc BEFORE the explode, so the exploded
stream is one row per (doc, distinct term) and partial aggregation
shrinks the shuffle to vocabulary size per map partition. Fully
whole-stage-codegen; no Python workers. At 100 TB this is the same cost
shape as the df aggregation Lucene performs while writing its term
dictionary — and it is OFF the build and query hot paths by design
(run it when term browsing is actually needed).

Cross-check invariant (asserted in tests): summing this vocab's df per
hash equals the df the hash-keyed index derived from posting rows, and
``term_hash`` equals the driver-side XXH64 of the term string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize_expr


def derive_vocab(corpus: DataFrame, text_col: str = "content") -> DataFrame:
    """(term, term_hash, df) over the corpus — one JVM pass, vocab-sized
    shuffle (map-side partial aggregation over per-doc distinct terms)."""
    return (
        corpus.select(
            F.explode(F.array_distinct(tokenize_expr(text_col))).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("term_hash", F.xxhash64("term"))
    )
