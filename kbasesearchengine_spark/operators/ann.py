"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed
(random-hyperplane) variant as the scale path — candidate generation via
bounded bucket join, exact re-rank inside buckets.

All vector math stays in built-in higher-order functions
(F.aggregate/F.zip_with → JVM codegen); no Python in the scoring path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k against one query vector.

    Single scan + TakeOrderedAndProject — no shuffle beyond the final
    k-row merge; the scan parallelizes over partitions.

    The per-row math runs in a mapInArrow numpy kernel (r6): one
    matrix-product + prefix-sum per batch instead of interpreted
    higher-order-function lambdas per element (guide §4.2). np.cumsum is
    a strict left-to-right fold, so the double summation order — and
    therefore every cosine bit — is IDENTICAL to the previous JVM
    ``aggregate(zip_with(...))`` fold (asserted over whole tables in
    tests/test_dedup_ann.py::test_cosine_kernel_bit_equals_hof). Rows
    with a null vector, null elements, or a width mismatch get a NULL
    cosine — the JVM zip_with/aggregate null-padding semantics."""
    q = np.asarray(query_vec, dtype=np.float64)
    d = len(query_vec)
    qn = float(np.sqrt(np.dot(query_vec, query_vec)))
    id_field = emb.schema[id_col].dataType.simpleString()
    src = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col))

    def gen(batches):
        import pyarrow as pa

        for rb in batches:
            vecs = rb.column(1)
            n = len(vecs)
            if n == 0:
                continue
            lens = vecs.value_lengths()
            flat = vecs.flatten()
            uniform = (
                vecs.null_count == 0
                and flat.null_count == 0
                and n * d == len(flat)
                and lens.to_numpy(zero_copy_only=False).min(initial=d) == d
                and lens.to_numpy(zero_copy_only=False).max(initial=d) == d
            )
            if uniform:
                m = flat.to_numpy(zero_copy_only=False).astype(
                    np.float64, copy=False
                ).reshape(n, d)
                # cumsum = the exact left fold of the former JVM aggregate
                dot = np.cumsum(m * q, axis=1)[:, -1]
                nrm = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
                cos = pa.array(dot / (nrm * qn), type=pa.float64())
            else:
                out: list[float | None] = []
                for v in vecs.to_pylist():
                    if v is None or len(v) != d or any(
                        x is None for x in v
                    ):
                        out.append(None)  # zip_with null-padding semantics
                        continue
                    a = np.asarray(v, dtype=np.float64)
                    dot = np.cumsum(a * q)[-1] if d else 0.0
                    nrm = np.sqrt(np.cumsum(a * a)[-1] if d else 0.0)
                    out.append(float(dot / (nrm * qn)))
                cos = pa.array(out, type=pa.float64())
            yield pa.RecordBatch.from_arrays([rb.column(0), cos],
                                             ["vec_id", "cosine"])

    scored = src.mapInArrow(gen, f"vec_id {id_field}, cosine double")
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_col(vec_col, planes: np.ndarray):
    """Random-hyperplane signature as an int column (built-in ops only)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(vec_col.cast("array<double>"), plane) > 0, 1).otherwise(0)
        bucket = bucket + bit * F.lit(1 << i)
    return bucket


def probe_buckets(
    query_vec: list[float],
    n_planes: int = 8,
    probe_hamming: int = 2,
    seed: int = 42,
) -> list[int]:
    """Multi-probe set: the query's signature bucket plus every bucket
    within `probe_hamming` sign flips."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qsig = 0
    qv = np.asarray(query_vec, dtype=np.float64)
    for i, p in enumerate(planes):
        if float(np.dot(qv, p)) > 0:
            qsig |= 1 << i
    probes = {qsig}
    if probe_hamming >= 1:
        probes.update(qsig ^ (1 << i) for i in range(n_planes))
    if probe_hamming >= 2:
        probes.update(
            qsig ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        )
    return sorted(int(x) for x in probes)


def cosine_topk_lsh(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    probe_hamming: int = 2,
    seed: int = 42,
) -> DataFrame:
    """ANN variant: multi-probe the query's LSH bucket (hamming ≤
    probe_hamming neighbors), exact cosine re-rank inside probed buckets.

    This form computes signatures at query time (one full scan) — use
    write_bucketed + cosine_topk_lsh_indexed for the at-scale path where
    probing is pure partition pruning.
    """
    planes = hyperplanes(len(query_vec), n_planes, seed)
    probes = probe_buckets(query_vec, n_planes, probe_hamming, seed)
    bucketed = emb.withColumn("bucket", lsh_bucket_col(F.col(vec_col), planes))
    cand = bucketed.where(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def write_bucketed(
    emb: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """Materialize the embeddings table PARTITIONED BY LSH bucket — the
    100-TB serving layout: a query probes ≤ 1 + C(p,1) + C(p,2) partition
    directories (37 of 256 at p=8, hamming ≤ 2) and never scans the rest.
    Signatures are computed once at write time, JVM-side."""
    planes = hyperplanes(dim, n_planes, seed)
    emb.withColumn("bucket", lsh_bucket_col(F.col(vec_col), planes)).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)


def cosine_topk_lsh_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    probe_hamming: int = 2,
    seed: int = 42,
) -> DataFrame:
    """ANN over a write_bucketed table: the bucket isin predicate is a
    PARTITION filter (directory pruning — verified by plan assertion in
    tests), so query cost is proportional to the probed buckets only."""
    probes = probe_buckets(query_vec, n_planes, probe_hamming, seed)
    cand = spark.read.parquet(path).where(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)
