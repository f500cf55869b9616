"""Integer-vector kernels: the one implementation of each vector fold
that clustering.py, similarity.py, dedup.semantic_dedup_keep and
ann_index.py build their plans from.

Every kernel here is a JVM-side Column expression (higher-order
functions over array columns, no Python UDF), except the driver-side
ADC lookup tables and the numpy `cosine_probe`. The integer kernels carry the repo-wide
oracle discipline: vectors are quantized once to bigint, distances and
scores are exact int64 folds (order-free), and argmin ties break on
the lowest index, so the same plan is bit-identical across engines,
partitionings and retries — pinned by the `kmeans`, `pq_ann`,
`ann_ivf_pq` and `semantic_dedup` DuckDB oracles.
"""

from __future__ import annotations

import json
import math
from typing import Callable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

QUANT = 1_000_000.0


def lit(values, elem: str = "bigint") -> Column:
    """A nested list (any depth) of numbers as ONE array literal of
    `elem` (bigint or double) leaves.

    A k-means plan used to carry k·d separate Literal nodes (k=8, d=64
    → 512 nodes, duplicated by array_min/array_position → thousands);
    Catalyst analysis of that tree dominated the job on small data
    (measured 1.2 s → 0.18 s per assignment job after collapsing it to
    a single literal — identical integer results). `F.lit(<list>)`
    still expands to a CreateArray of one scalar Literal per value, so
    the values travel as one JSON string literal: `from_json` of a
    literal is foldable, and the optimizer folds it to one array
    literal before execution. Python's float repr round-trips, so the
    parsed doubles are the values given."""
    conv = int if elem == "bigint" else float

    def leaves(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return [leaves(x) for x in v]
        return conv(v)

    vals = leaves(values)
    depth, v = 0, vals
    while isinstance(v, list):
        depth += 1
        v = v[0] if v else None
    return F.from_json(F.lit(json.dumps(vals)),
                       "array<" * depth + elem + ">" * depth)


def quantize(vec: Column) -> Column:
    """q_i = floor(v_i · 1e6) as bigint, on the float→double-exact
    cast — the quantization every integer-exact kernel works on."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(QUANT)).cast("bigint"))


def zip_sum(a: Column, b: Column, f: Callable[[Column, Column], Column],
            zero: Column) -> Column:
    """Σ_i f(a_i, b_i), folded left to right from `zero` — the one fold
    behind dot products, squared distances and ADC lookups. The sum's
    type is the zero's (0.0 double, 0 bigint)."""
    return F.aggregate(F.zip_with(a, b, f), zero, lambda acc, x: acc + x)


def dot(a: Column, b: Column, zero: Column) -> Column:
    return zip_sum(a, b, lambda x, y: x * y, zero)


def sqdists(q: Column, points: Column) -> Column:
    """array of integer squared L2 distances from `q` to every row of
    the 2-D array `points` — a runtime fold over ONE literal (see
    `lit`)."""
    return F.transform(
        points,
        lambda c: zip_sum(q, c, lambda a, b: (a - b) * (a - b),
                          F.lit(0).cast("bigint")))


def argmin(dists: Column) -> Column:
    """0-based index of the minimum; the first index of the minimum is
    the lowest-id tiebreak."""
    return F.array_position(dists, F.array_min(dists)) - 1


def subspace_codes(q: Column, books: list[list[list[int]]]) -> Column:
    """array<int> of m codes: code s is the nearest codeword of
    codebook s to the s-th length-`sub` slice of `q` (lowest code on
    ties). One fold per (row, subspace, codeword) over ONE 3-D
    codebook literal."""
    m, sub = len(books), len(books[0][0])
    books3d = lit(books)
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: argmin(sqdists(
            F.slice(q, s * sub + 1, F.lit(sub)),
            F.element_at(books3d, (s + 1).cast("int")))).cast("int"))


def adc_score(codes: Column, books: list[list[list[int]]],
              query_vec) -> Column:
    """Asymmetric distance (Jégou et al. 2011) of each code row to a
    literal query: the query is quantized driver-side (`quantize`'s
    arithmetic in Python), one integer lookup table per subspace holds
    the squared L2 from its subvector to each codeword, and a row costs
    m lookups + adds."""
    sub = len(books[0][0])
    qq = [int(math.floor(float(x) * QUANT)) for x in query_vec]
    luts = [[sum((a - b) * (a - b) for a, b in zip(qq[s * sub:(s + 1) * sub], c))
             for c in cb] for s, cb in enumerate(books)]
    return zip_sum(codes, lit(luts),
                   lambda c, lut: F.element_at(lut, c.cast("int") + 1),
                   F.lit(0).cast("bigint"))


def score_q(d: Column, nn: Column) -> Column:
    """Signed squared cosine in exact int64 from quantized vectors:
    sign(d) · (1e6 · d²) div nn, with d = <qa,qb> and nn = |qa|²·|qb|²
    — monotone in |cosine|, computed identically in Spark and DuckDB.
    Bounds (|x|<=1, dim<=64, scale=128): d <= 64·128² ~ 2^20, so
    1e6·d² ~ 2^60 < 2^63."""
    return (F.when(d >= 0, 1).otherwise(-1)
            * F.call_function("div", F.lit(1000000) * d * d, nn))


def sign_bits(vec: Column, planes: list[list[float]]) -> Column:
    """LONG whose bit p is set when <vec, plane_p> >= 0: one dot fold
    per plane over ONE 2-D plane literal, the bits OR-ed together."""
    bits = F.transform(
        lit(planes, "double"),
        lambda p, i: F.when(dot(vec, p, F.lit(0.0)) >= 0,
                            F.call_function("shiftleft",
                                            F.lit(1).cast("bigint"), i))
        .otherwise(F.lit(0).cast("bigint")))
    return F.aggregate(bits, F.lit(0).cast("bigint"),
                       lambda acc, b: acc.bitwiseOR(b))


def cosine_probe(centroids: np.ndarray, query_vec, n_probe: int) -> list[int]:
    """The n_probe centroids nearest to the query by cosine, nearest
    first (driver-side numpy over the k·d centroid matrix)."""
    qn = np.array(query_vec, dtype=np.float64)
    qn = qn / np.linalg.norm(qn)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    return np.argsort(-(cn @ qn))[:n_probe].tolist()
