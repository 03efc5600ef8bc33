"""IVF (inverted-file) ANN index — the classic scale path for
similarity search when brute force stops fitting (SURVEY.md §2.9).

Fully distributed shape (no full-corpus collect anywhere):

- **Centroids** are bounded by the ``n_centroids`` parameter, never by
  the data. Two fits:
  - ``seed_centroids`` (default): the k corpus vectors with the
    smallest md5(vec_id) — a deterministic random Voronoi quantizer.
    Compiles to TakeOrderedAndProject (per-partition top-k, merge of
    k rows); SQL-mirrorable, so the whole query is oracle-exact.
  - ``kmeans_centroids``: k-means refinement fitted on a bounded
    deterministic sample (md5-ordered LIMIT — again TakeOrdered, the
    driver only ever sees ``fit_sample`` rows). Better list balance /
    recall; centroids are data-derived floats, so queries using it
    are checked by recall/subset tests rather than a SQL oracle.
- **Assignment** is a map-only stage: each corpus vector gets the
  argmax-cosine centroid id via one numpy matmul per Arrow batch
  against the (k×d) centroid matrix shipped in the task closure.
- **Inverted lists** are just the corpus keyed by centroid id — a
  partitioned table, not a driver-side dict.
- **Search**: queries emit (query, probed_cid) rows for their nprobe
  nearest centroids (map-only), then the package's one exact top-k
  (``operators/tiled.tiled_topk``, cosine score, ``on="cid"``)
  cogroups them with the lists on cid (one equi-shuffle), takes a
  BLAS top-k per list and merges with one window. Per-task memory is one list + its probers; lists are disjoint so
  no cross-probe dedup is needed. Cost per query: O(n·nprobe/k).

At 100 TB: n_centroids should grow ~√n so lists stay bounded; the
cid shuffle is skew-safe under AQE (list sizes vary, but a random or
k-means quantizer keeps them within a small factor at embedding-scale
cardinalities).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_mp_transactions_spark.operators.tiled import _stack, tiled_topk


def _hash_order(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic data-independent shuffle order: md5 of the id."""
    return df.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))


def seed_centroids(
    embeddings: DataFrame, n_centroids: int, id_col: str = "vec_id"
):
    """(cids, C): the n_centroids corpus vectors with smallest
    md5(id), as (int64 array sorted ascending, L2-normalized k×d
    matrix). Bounded collect: k rows, set by the parameter."""
    rows = (
        _hash_order(embeddings.select(id_col, "embedding"), id_col)
        .limit(n_centroids)
        .collect()
    )
    rows.sort(key=lambda r: r[id_col])  # ascending cid for argmax ties
    cids = np.array([r[id_col] for r in rows], dtype="int64")
    C = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    return cids, C


def _kmeans(M: np.ndarray, k: int, iters: int = 10) -> np.ndarray:
    """Deterministic k-means on L2-normalized rows (cosine ≡ dot)."""
    centroids = M[:k].copy()
    for _ in range(iters):
        assign = np.argmax(M @ centroids.T, axis=1)
        for c in range(k):
            members = M[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    centroids[c] = v / n
    return centroids


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    fit_sample: int = 4096,
    iters: int = 10,
):
    """(cids, C) from k-means over a bounded deterministic sample.
    The driver materializes at most ``fit_sample`` rows (md5-ordered
    TakeOrdered — stable across runs and partitionings), fits in
    numpy, and only the k×d centroid matrix leaves the driver."""
    sample = (
        _hash_order(embeddings.select(id_col, "embedding"), id_col)
        .limit(fit_sample)
        .toPandas()
    )
    M = _stack(sample["embedding"])
    C = _kmeans(M, n_centroids, iters)
    return np.arange(n_centroids, dtype="int64"), C


def ivf_topk(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    centroids=None,
) -> DataFrame:
    """(vec_id, neighbor_id, rank): top-k by cosine among the nprobe
    nearest inverted lists. ``centroids``: optional (cids, C) from
    ``kmeans_centroids``; default is the SQL-mirrorable
    ``seed_centroids`` quantizer."""
    import pandas as pd

    if centroids is None:
        cids, C = seed_centroids(embeddings, n_centroids, id_col)
    else:
        cids, C = centroids
    emb = embeddings.select(F.col(id_col).cast("long").alias("vec_id"), "embedding")
    out_schema = "vec_id long, embedding array<float>, cid long"

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            # argmax keeps the first (lowest-cid) winner on exact ties,
            # matching the SQL ORDER BY cos DESC, cid tie-break
            best = np.argmax(_stack(pdf["embedding"]) @ C.T, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cid": cids[best],
                }
            )

    def probe(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            S = _stack(pdf["embedding"]) @ C.T
            order = np.lexsort((np.broadcast_to(cids, S.shape), -S), axis=1)[
                :, :nprobe
            ]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(nprobe),
                    "embedding": pdf["embedding"].to_numpy().repeat(nprobe),
                    "cid": cids[order].reshape(n * nprobe),
                }
            )

    lists = emb.mapInPandas(assign, out_schema)
    probes = emb.mapInPandas(probe, out_schema)
    return tiled_topk(probes, lists, k_neighbors, "cos", on="cid").select(
        F.col("src").alias("vec_id"), F.col("dst").alias("neighbor_id"), "rank"
    )
