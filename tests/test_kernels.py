"""The integer-vector kernels (operators/kernels.py): one implementation
of each fold, bit-identical to the hand-written forms it replaced, and
a Lloyd loop whose collects stay bounded by the codebook size."""

import ast
import pathlib

import pyspark.sql.functions as F
import pytest

import swarm_spark
from swarm_spark.operators.clustering import (
    _quantized, cluster_expr, fit_centroids, fit_subspace_centroids)
from swarm_spark.operators.similarity import rhp_planes, rhp_signature

OPS = pathlib.Path(swarm_spark.__file__).resolve().parent / "operators"


@pytest.fixture(scope="module")
def vecs(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_fused_subspace_fit_equals_per_slice_fit(spark, vecs):
    """fit_subspace_centroids must reproduce m independent
    fit_centroids runs on each slice bit-for-bit (the pq_train
    contract after the round-6 fusion)."""
    q = _quantized(vecs, "embedding", "vec_id")
    m, sub, k, iters = 2, 4, 3, 2
    per_slice = [
        fit_centroids(
            q.select(F.col("vec_id"), F.slice("q", s * sub + 1, sub).alias("q")),
            k, iters)
        for s in range(m)
    ]
    fused = fit_subspace_centroids(q, k, iters, m, sub)
    assert fused == per_slice


def test_cluster_expr_matches_assigned(spark, vecs):
    """The inline assignment expression (2-D literal + transform) must
    equal the kmeans assignment column (semantic_dedup's inlining)."""
    from swarm_spark.operators.clustering import kmeans

    q = _quantized(vecs, "embedding", "vec_id")
    cents = fit_centroids(q, 4, 1)
    inline = q.select("vec_id", cluster_expr(F.col("q"), cents).alias("c")) \
        .orderBy("vec_id").collect()
    full = kmeans(vecs, k=4, iterations=1).orderBy("vec_id").collect()
    assert [r["c"] for r in inline] == [r["cluster"] for r in full]


def test_subspace_fit_collects_at_most_m_k_rows(spark, vecs, monkeypatch):
    """The Lloyd update aggregates per (subspace, cluster): no collect
    brings more than m·k rows to the driver, however many distinct
    m-wide code combinations the corpus has."""
    q = _quantized(vecs, "embedding", "vec_id")
    cls = type(q)
    collect = cls.collect
    sizes = []

    def spy(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    fit_subspace_centroids(q, k=3, iterations=1, m=4, sub=2)
    assert len(sizes) >= 2  # the init and one update
    assert max(sizes) <= 4 * 3, sizes


def _literal_leaves(df) -> int:
    plan = df._jdf.queryExecution().analyzed()
    n, exprs = 0, plan.expressions().iterator()
    while exprs.hasNext():
        leaves = exprs.next().collectLeaves().iterator()
        while leaves.hasNext():
            n += leaves.next().getClass().getSimpleName() == "Literal"
    return n


def test_rhp_signature_matches_unrolled(spark):
    """One 2-D plane literal folded per plane == the unrolled n_planes ×
    dim scalar-literal form it replaced, and the plan's literal count no
    longer grows with n_planes · dim."""
    import random

    dim, n_planes, seed = 64, 16, 42
    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    # the unrolled form: one array of scalar literals and one dot
    # subtree per plane
    def old_dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, v: acc + v)

    bucket = F.lit(0).cast("long")
    for p, coeffs in enumerate(rhp_planes(dim, n_planes, seed)):
        plane_arr = F.array(*[F.lit(float(c)) for c in coeffs])
        bit = F.when(old_dot(F.col("embedding"), plane_arr) >= 0,
                     F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    old = embs.select("vec_id", bucket.alias("b")).orderBy("vec_id").collect()

    new_df = embs.select(
        "vec_id", rhp_signature(F.col("embedding"), dim, n_planes, seed).alias("b"))
    new = new_df.orderBy("vec_id").collect()
    assert [r["b"] for r in new] == [r["b"] for r in old]
    assert len({r["b"] for r in new}) > 1

    small = embs.select(rhp_signature(F.col("embedding"), 8, 2, seed).alias("b"))
    assert _literal_leaves(new_df) == _literal_leaves(small) < n_planes


def _quant_hits(path: pathlib.Path) -> list[str]:
    """floor(x·1e6) vector quantizations (Column or driver-side) and
    the signed-squared-cosine score text in one source file."""
    text = path.read_text()
    hits = [f"{path.name}: score_q text"] if "1000000 * _d * _d" in text else []
    for node in ast.walk(ast.parse(text, str(path))):
        if not isinstance(node, ast.Call):
            continue
        name = getattr(node.func, "attr", getattr(node.func, "id", None))
        src = ast.unparse(node)
        if name == "floor" and ("QUANT" in src or (
                "cast('double')" in src and "1000000.0" in src)):
            hits.append(f"{path.name}:{node.lineno} {src}")
    return hits


def test_vector_kernels_live_in_kernels_py():
    """The integer folds, the argmin, the floor·1e6 quantization and
    the quantized score are written once, in operators/kernels.py."""
    hof = []
    for name in ("clustering.py", "similarity.py", "ann_index.py"):
        path = OPS / name
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("zip_with", "aggregate",
                                           "array_position")):
                hof.append(f"{name}:{node.lineno} F.{node.func.attr}")
    assert not hof, f"vector folds outside kernels.py: {hof}"
    quant = [h for path in sorted(OPS.glob("*.py")) if path.name != "kernels.py"
             for h in _quant_hits(path)]
    assert not quant, f"quantization outside kernels.py: {quant}"
    assert _quant_hits(OPS / "kernels.py")  # the detector sees the kernel
