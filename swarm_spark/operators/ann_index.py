"""Persistent IVF ANN index over an icepack table.

The r4 IVF pipeline (operators/similarity.py: deterministic centroid
sample → vectorized assign → probe n lists → exact re-rank) computed
its centroids and assignments PER RUN. This module persists them the
way the BM25 postings index is persisted (operators/retrieval.py
build_search_index): one icepack table of rows
(id, vector, `_list` = nearest-centroid id) with the centroid matrix
riding the snapshot's extra_meta — index data and model commit
ATOMICALLY; a crash can never leave vectors assigned to centroids
that were not committed.

The table is cluster_by("_list") compacted, so each data file holds a
tight `_list` range and a probe of n_probe lists becomes FILE
SKIPPING via the stats sidecars (`read(prune=[("_list","in",probe)])`
— the same mechanism that makes BM25 query terms prune to their
postings files). At 100 TB the probe reads n_probe/n_lists of the
corpus and the query never shuffles corpus rows.

`extend_ann_index` appends: only NEW vectors are assigned (one numpy
matmul per Arrow batch); history is never re-assigned and centroids
never drift mid-index — identical to a faiss IVF `add` after `train`.
Re-cluster on a maintenance cadence to restore per-file `_list`
locality for the appended rows.

Reference analogue: swarm persists derived routing state in BigQuery
tables rather than recomputing per ingest (pkg/usecase/ingest.go);
this is the same materialize-once contract for the ANN model.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swarm_spark.operators.kernels import cosine_probe
from swarm_spark.operators.similarity import (
    _quantized_topk,
    cosine_topk,
    ivf_assign,
    ivf_centroids,
)

__all__ = ["build_ann_index", "extend_ann_index", "ann_topk_from_index"]

_META_KEYS = ("ann_centroids", "ann_dim", "ann_id_col", "ann_vec_col",
              "ann_pq_books")


def _encode_centroids(cents: np.ndarray) -> str:
    # repr-based json round-trips float64 exactly in Python
    return json.dumps([[float(x) for x in row] for row in cents])


def _decode_meta(snap: dict) -> tuple[np.ndarray, str, str]:
    if snap is None or "ann_centroids" not in snap:
        raise ValueError(
            "not an ANN index table — build it with build_ann_index first")
    cents = np.array(json.loads(snap["ann_centroids"]), dtype=np.float64)
    return cents, snap["ann_id_col"], snap["ann_vec_col"]


def build_ann_index(
    embs: DataFrame,
    table,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_files: int | None = None,
    pq_m: int | None = None,
    pq_k: int = 16,
    pq_iterations: int = 1,
) -> dict:
    """Train (deterministic centroid sample) + assign + persist.
    One pass over the corpus: the assign is a numpy matmul per Arrow
    batch, the write is a `_list`-clustered rewrite so probes prune
    files. Returns {snapshot_id, n_centroids, n_vectors, dim}.

    pq_m=m turns the table into an IVF-PQ index (the faiss standard
    at corpus scale): PQ codebooks (m subspaces × pq_k codewords, the
    integer-exact Lloyd fit) ride extra_meta next to the centroids,
    and every row also stores its m-byte `_codes` — so an ADC probe
    (ann_topk_from_index(mode='adc')) scans codes, not vectors. The
    raw vector column stays for exact re-rank; a deployment that
    drops it pays 32× less storage for the scan path."""
    from swarm_spark.operators.similarity import pq_encode, pq_train

    cents = ivf_centroids(embs, n_centroids, vec_col, id_col)
    dim = int(cents.shape[1])
    assigned = ivf_assign(embs, cents, vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("_list"))
    meta = {
        "ann_centroids": _encode_centroids(cents),
        "ann_dim": dim,
        "ann_id_col": id_col,
        "ann_vec_col": vec_col,
    }
    if pq_m:
        books = pq_train(embs, dim=dim, m=pq_m, k=pq_k,
                         iterations=pq_iterations,
                         vec_col=vec_col, id_col=id_col)
        meta["ann_pq_books"] = json.dumps(books)
        codes = pq_encode(embs, books, vec_col=vec_col, id_col=id_col) \
            .withColumnRenamed("codes", "_codes")
        assigned = assigned.join(codes, id_col)
    snap = table.append(assigned, extra_meta=meta)
    table.compact(embs.sparkSession, cluster_by=["_list"],
                  target_files=target_files)
    return {"snapshot_id": snap["snapshot_id"],
            "n_centroids": n_centroids,
            "n_vectors": snap["added_rows"], "dim": dim,
            "pq": bool(pq_m)}


def extend_ann_index(new_embs: DataFrame, table) -> dict:
    """Append NEW vectors (caller contract: ids not already indexed —
    same as extend_search_index): assign against the STORED centroids
    only, one matmul per Arrow batch over the increment; history is
    untouched. The centroid meta rides the new snapshot so the index
    stays self-describing at every commit."""
    prev = table.current_snapshot()
    cents, id_col, vec_col = _decode_meta(prev)
    assigned = ivf_assign(new_embs, cents, vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("_list"))
    if prev.get("ann_pq_books"):
        # IVF-PQ index: encode the increment with the STORED codebooks
        # — codes never drift, exactly like the centroids
        from swarm_spark.operators.similarity import pq_encode

        books = json.loads(prev["ann_pq_books"])
        codes = pq_encode(new_embs, books, vec_col=vec_col,
                          id_col=id_col).withColumnRenamed("codes", "_codes")
        assigned = assigned.join(codes, id_col)
    meta = {k: prev[k] for k in _META_KEYS if k in prev}
    snap = table.append(assigned, extra_meta=meta)
    return {"snapshot_id": snap["snapshot_id"],
            "n_vectors_added": snap["added_rows"]}


def ann_topk_from_index(
    spark: SparkSession,
    table,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    quantized: bool = True,
    mode: str = "exact",
) -> DataFrame:
    """Query the persisted index: pick the n_probe nearest centroids
    (driver-side, against the stored matrix), FILE-SKIP to their
    lists via the stats sidecars, rank inside. mode='exact' re-ranks
    on the stored vectors (quantized=True → the integer cross-engine-
    exact scorer, hash-verifiable with n_probe == n_centroids).
    mode='adc' ranks by PQ asymmetric distance over the stored
    `_codes` — the scan touches m small ints per candidate instead of
    the vector column; with a full probe it equals pq_topk over the
    whole corpus (the hash-verifiable configuration)."""
    from swarm_spark.operators.similarity import pq_topk

    snap = table.current_snapshot()
    cents, id_col, vec_col = _decode_meta(snap)
    if mode == "adc":
        # rank metric is squared L2 (ADC) — probe lists by the SAME
        # metric, or the coarse step and the fine step disagree and
        # recall craters on non-unit-norm embeddings. (Full probe
        # n_probe == n_lists is metric-independent and exact vs
        # pq_topk — the hash-verified configuration.)
        q = np.array(query_vec, dtype=np.float64)
        probe = np.argsort(((cents - q) ** 2).sum(axis=1))[:n_probe].tolist()
    else:
        probe = cosine_probe(cents, query_vec, n_probe)
    # the probe IS partition/file pruning — only the probed lists' files
    # scan, and the read keeps only the probed lists' rows
    assigned = table.read(spark, prune=[("_list", "in", [int(p) for p in probe])])
    if mode == "adc":
        if not snap.get("ann_pq_books"):
            raise ValueError("mode='adc' needs an IVF-PQ index — "
                             "build_ann_index(pq_m=...)")
        books = json.loads(snap["ann_pq_books"])
        codes = assigned.select(F.col(id_col),
                                F.col("_codes").alias("codes"))
        return pq_topk(codes, books, query_vec, k=k, id_col=id_col)
    if mode != "exact":
        raise ValueError(f"mode must be exact|adc, got {mode!r}")
    if quantized:
        return _quantized_topk(assigned, query_vec, k, vec_col, id_col)
    return cosine_topk(assigned, query_vec, k, vec_col, id_col)
