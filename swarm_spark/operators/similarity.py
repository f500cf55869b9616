"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline: JVM-side dot product
  via zip_with + aggregate, orderBy desc limit k. At 100 TB this is a
  full scan but embarrassingly parallel; Spark's TakeOrderedAndProject
  keeps only k rows per partition.
* LSH-bucketed ANN — random-hyperplane signatures shrink the candidate
  set to matching (or near-matching) buckets before exact re-rank.
* IVF-style ANN — deterministic sampled centroids, inverted lists
  partitioned by centroid id; queries probe the n_probe nearest lists.
  Assignment uses a numpy-vectorized pandas UDF (one matmul per Arrow
  batch — the legitimate Python hot path).

Hyperplanes/centroids are derived deterministically (seeded hashes /
deterministic sampling), so results are reproducible with no stored
model artifacts. The vector folds (dot products, integer distances,
argmins, the quantized score, ADC lookups) and the literal builder
are kernels.py's; this module composes them into queries.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swarm_spark.operators import kernels


# ---------------------------------------------------------------------------
# vector math as Column expressions (JVM-side)
# ---------------------------------------------------------------------------

def dot(a: Column, b: Column) -> Column:
    return kernels.dot(a, b, F.lit(0.0))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# -- integer-quantized scoring: cross-engine EXACT ----------------------
#
# Floats differ in the last bits across engines (summation order), so
# hash-verified oracles quantize the VECTORS to integers first
# (q(v) = round(v*scale) as BIGINT) and compare kernels.score_q, the
# signed squared cosine in exact 64-bit integer arithmetic. The float
# paths above remain the production scorers.

def quantize_vec(a: Column, scale: int = 128) -> Column:
    return F.transform(a, lambda x: F.round(x.cast("double") * scale).cast("long"))


def dot_q(a: Column, b: Column) -> Column:
    return kernels.dot(a, b, F.lit(0).cast("long"))


def cosine_topk_quantized(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 128,
) -> DataFrame:
    """Exact brute-force top-k by the quantized signed-squared-cosine
    score — integer-exact across engines (the q_embedding_knn trick
    extended to cosine). Ties broken by id; plan is still
    Scan → Project → TakeOrderedAndProject."""
    from swarm_spark.operators.util import spread

    qv = (
        df.filter(F.col(id_col) == query_id)
        .select(quantize_vec(F.col(vec_col), scale).alias("_qv"))
    )
    v = quantize_vec(F.col(vec_col), scale)
    out = spread(df).crossJoin(F.broadcast(qv)).select(
        F.col(id_col),
        dot_q(v, F.col("_qv")).alias("_d"),
        dot_q(v, v).alias("_na"),
        dot_q(F.col("_qv"), F.col("_qv")).alias("_nq"),
    )
    return _top_score_q(out, k, id_col)


def _top_score_q(out: DataFrame, k: int, id_col: str) -> DataFrame:
    """Top-k of (id_col, _d, _na, _nq) rows by kernels.score_q, ties
    on id."""
    return (
        out.select(F.col(id_col), kernels.score_q(
            F.col("_d"), F.col("_na") * F.col("_nq")).alias("score_q"))
        .orderBy(F.desc("score_q"), F.col(id_col))
        .limit(k)
    )


def _pseudo_gaussian(plane: int, coord: int, seed: int) -> float:
    """Deterministic ~N(0,1) from (plane, coord, seed): sum of 4
    hash-derived uniforms, CLT-normalized. Pure Python at PLAN time —
    the resulting floats are baked into the expression as literals."""
    import hashlib

    acc = 0.0
    for r in range(4):
        h = hashlib.md5(f"{seed}:{plane}:{coord}:{r}".encode()).digest()
        acc += int.from_bytes(h[:8], "big") / 2**64
    return (acc - 2.0) * math.sqrt(12.0 / 4.0)


def rhp_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    return [
        [_pseudo_gaussian(p, c, seed) for c in range(dim)] for p in range(n_planes)
    ]


def rhp_signature(vec: Column, dim: int, n_planes: int, seed: int = 42) -> Column:
    """Random-hyperplane signature as a LONG bucket id: bit p = sign of
    <vec, plane_p>. The planes are ONE plan-time 2-D literal, folded
    per plane (kernels.sign_bits)."""
    return kernels.sign_bits(vec, rhp_planes(dim, n_planes, seed))


# ---------------------------------------------------------------------------
# brute-force exact top-k
# ---------------------------------------------------------------------------

def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.
    The plan is Scan → Project(cos) → TakeOrderedAndProject(k):
    no shuffle of vectors, only k rows cross partitions."""
    q = kernels.lit(query_vec, "double")
    return (
        df.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def cosine_all_pairs_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k corpus neighbors for EACH query row (broadcast the query
    side): window rank over cosine within query id."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    joined = df.crossJoin(F.broadcast(q)).select(
        "q_id", F.col(id_col).alias("n_id"),
        cosine(F.col(vec_col), F.col("q_vec")).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("n_id"))
    return joined.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN
# ---------------------------------------------------------------------------

def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    max_hamming: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: prefilter to vectors whose hyperplane
    signature is within max_hamming bits of the query's, then exact
    cosine re-rank. The signature filter is a codegen'd bit_count —
    the scan reads only (id, vec) and drops non-candidates before the
    expensive cosine."""
    dim = len(query_vec)
    sig = rhp_signature(F.col(vec_col), dim, n_planes, seed)
    planes = rhp_planes(dim, n_planes, seed)
    q_sig = 0
    for p, coeffs in enumerate(planes):
        if sum(c * x for c, x in zip(coeffs, query_vec)) >= 0:
            q_sig |= 1 << p
    q = kernels.lit(query_vec, "double")
    return (
        df.withColumn("_sig", sig)
        .filter(F.bit_count(F.col("_sig").bitwiseXOR(F.lit(q_sig).cast("long"))) <= max_hamming)
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-style ANN
# ---------------------------------------------------------------------------

def ivf_centroids(df: DataFrame, n_centroids: int, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> np.ndarray:
    """Deterministic centroid sample: the n_centroids corpus vectors
    with the smallest xxhash64(id) — stable, uniform, no RNG state.
    (A k-means refinement pass can be layered on; for an inverted-file
    index the sampled seeds already give balanced lists.)"""
    rows = (
        df.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    return np.array([r["v"] for r in rows], dtype=np.float64)


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding") -> DataFrame:
    """Assign every vector to its nearest centroid (cosine). One numpy
    matmul per Arrow batch — vectorized, no per-row Python."""
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(T.IntegerType())
    def assign(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32))

    return df.withColumn("_list", assign(F.col(vec_col)))


def ivf_topk(
    df_assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the n_probe nearest inverted lists, exact re-rank inside.
    At scale the assigned table is written partitioned by _list, so
    the probe is partition pruning — a fraction n_probe/n_centroids
    of the corpus is scanned."""
    probe = kernels.cosine_probe(centroids, query_vec, n_probe)
    return cosine_topk(df_assigned.filter(F.col("_list").isin(probe)),
                       query_vec, k, vec_col, id_col)


def ivf_topk_quantized(
    df_assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 128,
) -> DataFrame:
    """ivf_topk with the integer-quantized score (cross-engine exact).
    With n_probe == len(centroids) the probe covers every list, so the
    result is EXACTLY the brute-force quantized top-k — the
    hash-verifiable configuration; smaller n_probe is the approximate
    production path (recall pinned by pytest)."""
    probe = kernels.cosine_probe(centroids, query_vec, n_probe)
    return _quantized_topk(df_assigned.filter(F.col("_list").isin(probe)),
                           query_vec, k, vec_col, id_col, scale)


def _quantized_topk(df: DataFrame, query_vec: list[float], k: int,
                    vec_col: str, id_col: str, scale: int = 128) -> DataFrame:
    """Top-k of `df` by the quantized score against a literal query."""

    def _q(x: float) -> int:
        # HALF_UP away from zero — Spark's round() and DuckDB's round(),
        # NOT Python's banker's rounding
        ax = abs(float(x)) * scale
        return int(math.floor(ax + 0.5)) * (1 if x >= 0 else -1)

    qq = [_q(x) for x in query_vec]
    nq = int(sum(v * v for v in qq))
    v = quantize_vec(F.col(vec_col), scale)
    out = df.select(
        F.col(id_col),
        dot_q(v, kernels.lit(qq)).alias("_d"),
        dot_q(v, v).alias("_na"),
        F.lit(nq).cast("long").alias("_nq"),
    )
    return _top_score_q(out, k, id_col)


# -- product quantization (PQ / ADC) -------------------------------------
#
# The standard 100 TB ANN memory layout (Jégou et al. 2011, and the PQ
# half of FAISS's IVF-PQ): split each vector into m subvectors, learn a
# k-codeword codebook per subspace, store each vector as m small codes
# (m bytes at k<=256 — a 64-dim float vector compresses 32×), and
# answer queries by Asymmetric Distance Computation: one k-entry
# lookup table per subspace built from the query, then a scan that
# sums m table lookups per vector — no float math per candidate.
# Composes with the inverted file (ivf_* above / operators/ann_index):
# IVF prunes the scan to the probed lists, PQ makes the scanned
# candidates byte-sized. Everything below rides the repo's integer
# determinism contract: codebooks are fit with the SAME quantized
# Lloyd's rounds as clustering.kmeans (floor(v·1e6), lowest-id init,
# floor-mean updates), codes break argmin ties on the lowest code, and
# ADC scores are exact int64 sums — the pq_ann oracle unrolls the
# whole pipeline (per-subspace kmeans rounds, encoding, LUT, top-k)
# as DuckDB CTEs and hash-matches.


def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    iterations: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """Fit one codebook per subspace: codebooks[s][c] is the c-th
    centroid (quantized ints) of subspace s. `dim` is required (no
    plan-time row probes — same contract as embedding_dup_pairs);
    dim % m must be 0. The m sub-fits run FUSED (one init collect +
    one job per Lloyd's round for ALL subspaces —
    clustering.fit_subspace_centroids); per-slice arithmetic is
    bit-identical to the old m×fit_centroids loop. The corpus is never
    shuffled (clustering.py contract)."""
    from swarm_spark.operators.clustering import (
        _quantized, fit_subspace_centroids)

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    vecs = _quantized(df, vec_col, id_col)
    return fit_subspace_centroids(vecs, k, iterations, m, dim // m,
                                  id_col=id_col)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>): per subspace, the argmin-distance
    codeword (lowest code on ties): kernels.subspace_codes, m·k
    integer folds per row over ONE 3-D codebook literal. This is the
    write-once compression pass; the codes table is what a 100 TB
    deployment persists and scans."""
    from swarm_spark.operators.util import spread

    codes = kernels.subspace_codes(kernels.quantize(F.col(vec_col)), codebooks)
    return spread(df).select(F.col(id_col), codes.alias("codes"))


def pq_topk(
    df_codes: DataFrame,
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over a pq_encode'd relation: the query is quantized
    once driver-side, one integer LUT per subspace (k entries: squared
    L2 from the query's subvector to each codeword), and every
    candidate costs m array lookups + adds — no per-candidate float
    math, no UDF. Returns (id, adc) ascending, ties on id. Approximate
    by construction (quantization error); recall is pinned by pytest
    against the exact scorer."""
    dim = len(codebooks) * len(codebooks[0][0])
    if len(query_vec) != dim:
        raise ValueError(f"query dim {len(query_vec)} != {dim}")
    score = kernels.adc_score(F.col("codes"), codebooks, query_vec)
    return (
        df_codes.select(F.col(id_col), score.alias("adc"))
        .orderBy("adc", id_col)
        .limit(k)
    )
