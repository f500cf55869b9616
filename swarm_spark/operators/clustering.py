"""K-means clustering over embedding columns — Lloyd's algorithm on
DataFrames, ENGINE-EXACT.

The repo-wide oracle discipline applied to an iterative ML kernel:
every quantity that crosses an engine boundary is an integer.
Embeddings are quantized once (kernels.quantize: q_i = floor(emb_i ·
1e6) on the float→double-exact cast), distances are integer sums of
squares (order-free), centroid updates are floor(mean) where the mean
is ONE correctly-rounded double division (identical in every IEEE
engine), and argmin ties break on the lowest centroid id. Given the
same deterministic init (the k lowest-id vectors), the assignment
after any fixed iteration count is bit-identical across engines,
partitionings, and retries — pinned by the `kmeans` oracle, which
unrolls the same iterations as DuckDB CTEs. The vector folds live in
kernels.py; this module holds the one Lloyd loop, which also fits the
per-subspace codebooks of product quantization (similarity.pq_train).

Scale shape (100 TB): the vector relation is NEVER shuffled. Each
iteration is (a) a narrow assignment projection — per subspace, k
integer folds over ONE codebook literal — and (b) a centroid update
that explodes one (subspace, cluster, slice) struct per row and
subspace and groups by (subspace, cluster), map-side combined, so the
shuffle and the collect carry at most m·k rows of sub sums. Centroids
live on the driver between iterations (k·d ints, config-sized — the
same contract as similarity.py's IVF centroids). Empty clusters keep
their previous centroid (documented; k never shrinks mid-run).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels import QUANT  # noqa: F401 (public name, kept importable here)
from .kernels import argmin, lit, quantize, sqdists, subspace_codes
from .util import spread

__all__ = ["kmeans", "fit_centroids", "fit_subspace_centroids"]


def _quantized(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    return df.select(F.col(id_col), quantize(F.col(vec_col)).alias("q"))


def kmeans(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster vectors into k groups; returns (id_col, cluster, dist)
    where `cluster` is the 0-based centroid index after `iterations`
    assign→update rounds plus a final assignment, and `dist` the
    integer quantized squared distance to that centroid.

    Init: the k vectors with the lowest ids (deterministic; callers
    wanting k-means++ can pre-seed by passing a pre-shuffled id
    ordering — determinism is the contract here)."""
    if k < 1 or iterations < 0:
        raise ValueError("k >= 1 and iterations >= 0 required")
    vecs = _quantized(spread(df), vec_col, id_col)
    centroids = fit_centroids(vecs, k, iterations, id_col=id_col)
    dists = sqdists(F.col("q"), lit(centroids))
    return vecs.select(
        F.col(id_col),
        argmin(dists).alias("cluster"),
        F.array_min(dists).alias("dist"),
    )


def cluster_expr(q: Column, centroids: list[list[int]]) -> Column:
    """0-based nearest-centroid index for a quantized array column —
    the assignment as a pure Column expression (lowest-index tiebreak),
    reusable inline wherever the assignment is needed without
    persisting an assignment table."""
    return argmin(sqdists(q, lit(centroids)))


def fit_centroids(vecs: DataFrame, k: int, iterations: int,
                  id_col: str = "vec_id") -> list[list[int]]:
    """Lloyd's rounds over an already-quantized (id, q) relation;
    returns the final centroids (k lists of quantized ints): the m=1
    case of fit_subspace_centroids, one subspace as wide as q. Same
    determinism contract: lowest-id init, floor-mean updates, empty
    clusters keep their previous centroid."""
    return _lloyd(vecs, k, iterations, id_col, 1)[0]


def fit_subspace_centroids(vecs: DataFrame, k: int, iterations: int,
                           m: int, sub: int,
                           id_col: str = "vec_id") -> list[list[list[int]]]:
    """Fit one k-codebook per length-`sub` subvector slice of an
    already-quantized (id, q) relation, with the m fits FUSED: one
    init collect covers every subspace and each Lloyd's round is ONE
    assignment+update job (pq_train used to run m independent
    fit_centroids — m×(init + iterations) sequential jobs, each
    re-scanning the corpus; guide §2.4/§2.6). Arithmetic is identical
    to fit_centroids on each slice — lowest-id init, integer squared
    L2, lowest-index argmin ties, floor-mean updates computed by the
    same double division, empty clusters keep their previous
    centroid — so the returned codebooks are bit-identical to the
    unfused path (pinned by pytest)."""
    return _lloyd(vecs, k, iterations, id_col, m, sub)


def _lloyd(vecs: DataFrame, k: int, iterations: int, id_col: str,
           m: int, sub: int | None = None) -> list[list[list[int]]]:
    """The Lloyd loop: init, assign+update rounds, floor-mean. `sub`
    None is one subspace as wide as the init vectors."""
    vecs = spread(vecs)
    init = vecs.orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"k={k} but only {len(init)} vectors")
    sub = sub or len(init[0]["q"])
    books = [[list(r["q"])[s * sub:(s + 1) * sub] for r in init]
             for s in range(m)]
    q = F.col("q")
    for _ in range(iterations):
        # ONE aggregation keyed on (subspace, cluster): the m argmins
        # run once per row, in the generator's input (an expression
        # referenced PAST a generator is re-evaluated once per output
        # row, so the codes must not be recomputed after the explode),
        # and each row contributes one (s, cluster, slice) struct per
        # subspace. The shuffle and the collect carry at most m·k rows
        # of (count + sub sums) — not one row per distinct m-wide code
        # combination. floor(sum/n) is ONE correctly-rounded double
        # division (sums < 2^53, so float(s)/float(n) here is bit-equal
        # to the SQL cast-to-double division of the oracle).
        parts = F.transform(
            subspace_codes(q, books),
            lambda c, s: F.struct(
                s.alias("s"), c.alias("c"),
                F.slice(q, s * sub + 1, F.lit(sub)).alias("v")))
        upd = (
            vecs.select(F.explode(parts).alias("p"))
            .groupBy("p.s", "p.c")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.element_at("p.v", i + 1)).alias(f"s{i}")
                  for i in range(sub)],
            )
            .collect()
        )
        nxt = [[list(c) for c in cb] for cb in books]  # empty cluster keeps old centroid
        for r in upd:
            n = float(r["n"])
            nxt[r["s"]][r["c"]] = [int(math.floor(float(r[f"s{i}"]) / n))
                                   for i in range(sub)]
        books = nxt
    return books
