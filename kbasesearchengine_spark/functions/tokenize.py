"""Tokenizer: the engine's analyzer, fixed by contract.

Stands in for the ES standard analyzer the reference relies on for its
full-text ``text`` fields and the ``_all`` match (reference:
lib/src/kbasesearchengine/search/ElasticIndexingStorage.java:1734-1742,1811;
case-insensitivity pinned by
test/src/kbasesearchengine/test/search/ElasticIndexingStorageTest.java:238-249).

Spec (FIXTURES.md §3): ``re.findall(r"[a-z0-9_]+", text.lower())`` —
word characters on lowered text, suited to code-like corpora.

Exposed four ways:
 - ``tokenize_py``      pure-Python (oracle + unit tests)
 - ``tokenize_expr`` /
   ``hash_tokens_expr`` JVM Catalyst expressions (regexp_extract_all —
                        the hot path: whole-stage codegen, no Python
                        worker; equivalence with tokenize_py asserted in
                        pytest)
 - ``tokenize_udf``     scalar pandas UDF -> array<string> (legacy/interop)
 - ``SQL_TOKENIZE``     the equivalent DuckDB/ANSI expression (oracle SQL)
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKEN_PATTERN = r"[a-z0-9_]+"
_TOKEN_RE = re.compile(TOKEN_PATTERN)

# DuckDB-side equivalent used in oracle SQL strings ({col} formatted in).
SQL_TOKENIZE = "regexp_extract_all(lower({col}), '[a-z0-9_]+')"


def tokenize_py(text: str | None) -> list[str]:
    if not text:
        return []
    return _TOKEN_RE.findall(text.lower())


def tokenize_expr(col) -> "F.Column":
    """JVM-side tokenizer: regexp_extract_all of the token pattern —
    findall semantics, IDENTICAL to tokenize_py by construction; null-safe
    (null text -> empty array). Stays inside whole-stage codegen — the
    index-build hot path uses this, never per-row Python (north rule
    input_hint).

    Measured note (this container, Spark 4.1): split(lower(x),
    '[^a-z0-9_]+') is ~11x SLOWER than regexp_extract_all on multi-KB
    documents (31s vs 2.7s over 177 MB at 32 cores) — never tokenize via
    the negated-class split."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(
        F.lower(F.coalesce(c, F.lit(""))), F.lit(TOKEN_PATTERN), 0
    )


def hash_tokens_expr(col) -> "F.Column":
    """JVM-side tokenize-and-hash: ``transform(tokens, t -> xxhash64(t))``
    -> ``array<bigint>``. The index-build hot path ships THIS across the
    Arrow boundary instead of ``array<string>``: pyarrow converts
    ``list<int64>`` to contiguous numpy int64 arrays — zero per-token
    Python objects, and the kernel's tf-aggregation factorizes 8-byte
    ints instead of hashing Python strings (the round-2 scaling
    bottleneck). Query terms are hashed driver-side with the compatible
    pure-Python XXH64 (functions/hashing.py)."""
    return F.transform(tokenize_expr(col), lambda t: F.xxhash64(t))


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    return texts.map(tokenize_py)

