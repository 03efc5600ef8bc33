"""Exact tiled top-k: the one block matmul + per-row (key, id)
selection behind every exact vector search in the package — cosine
top-k (``operators/ann.cosine_topk``), IVF top-k
(``operators/ivf.ivf_topk``) and the exact quantized-L2 kNN-graph
builds (``queries/graphann.l2_knn_topk`` / ``ivf_knn_topk``).

``tiled_topk(queries, corpus, k, score, on=None)``:

- **Blocks.** Each side is loaded into a float64 matrix by the
  loader of its score type: ``"cos"`` reads ``embedding`` through
  ``_stack`` (unit-norm rows), ``"d2"`` reads the quantized ``qv``
  through ``int_rows`` (exact integers).
- **Cell kernel.** Per query row, the k corpus rows with the smallest
  (key, id), where key is −cos or d2 and the row's own id is
  excluded. ``argpartition`` prunes to the k-th key, then one exact
  ``lexsort`` over everything ≤ it orders boundary ties by id, so
  the answer never depends on which cell a tie lands in. The query
  side is blocked at ``BLOCK`` rows to bound the key matrix.
- **Grid.** With ``on=None`` queries go to chunk ``pmod(id, CHUNKS)``
  and are replicated over the ``TILES`` corpus tiles; the corpus goes
  to tile ``pmod(id, TILES)`` and is replicated over the chunks. Each
  (chunk, tile) cell is one cogroup task scoring an
  (n/CHUNKS × m/TILES) block with one BLAS matmul; data movement is
  O(n·TILES + m·CHUNKS) and nothing is collected to the driver. With
  ``on`` the cogroup key is that column instead (IVF: the list id).
- **Merge.** One ``row_number`` window per query over the cells'
  local top-k, by (key, id), keeping rank ≤ k.

The plan is equi-shuffles + FlatMapCoGroupsInPandas, no
CartesianProduct; answers are exact and identical for any grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TILES = 8  # corpus tiles of the default grid
CHUNKS = 4  # query chunks of the default grid
BLOCK = 512  # query rows per key matrix inside a cell

_VEC = {"cos": "embedding", "d2": "qv"}
_SCORE_TYPE = {"cos": "double", "d2": "long"}


def _stack(col):
    """Arrow list-of-float column → L2-normalized float64 matrix."""
    import numpy as np

    M = np.vstack([np.asarray(v, dtype=np.float64) for v in col])
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    return M


def int_rows(col):
    """Arrow list-of-int column of quantized micro-unit vectors
    (|x| ≤ 2.4e6) → float64 matrix. Matmuls over it are EXACT integer
    arithmetic and hit BLAS (numpy int64 matmul is scalar loops, ~20×
    slower): every product ≤ (2.4e6)² ≈ 5.8e12 and every 64-term sum
    ≤ 64·that ≈ 3.7e14 < 2^53, so each dot product and each
    |a|² + |b|² − 2ab distance is an exactly representable integer
    and its int64 cast is lossless."""
    import numpy as np

    return np.stack(col.to_numpy()).astype(np.float64)


def _select(K, qids, cids, k: int):
    """Row-wise k smallest (key, id) of the key block ``K`` (queries ×
    corpus), self excluded → (query index, corpus index) pairs in
    (row, key, id) order."""
    import numpy as np

    K[qids[:, None] == cids[None, :]] = np.inf  # self excluded
    if k < K.shape[1]:
        # the k-th key per row bounds the candidates; ties at it all
        # pass, so the exact lexsort below decides them by id
        kth = np.argpartition(K, k - 1, axis=1)[:, k - 1 : k]
        r, c = np.nonzero(K <= np.take_along_axis(K, kth, axis=1))
    else:
        r, c = np.nonzero(K < np.inf)
    o = np.lexsort((cids[c], K[r, c], r))
    r, c = r[o], c[o]
    keep = np.arange(len(r)) - np.searchsorted(r, r) < k
    return r[keep], c[keep]


def _cell_kernel(k: int, score: str):
    """Cogroup scorer: (query block: vec_id/<vec>, corpus block:
    nid/nvec) → per-query local top-k rows (src, dst, <score>)."""
    import numpy as np
    import pandas as pd

    vec = _VEC[score]
    load = _stack if score == "cos" else int_rows
    empty = pd.DataFrame(
        {
            "src": np.array([], dtype=np.int64),
            "dst": np.array([], dtype=np.int64),
            score: np.array([], dtype=np.float64 if score == "cos" else np.int64),
        }
    )

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return empty
        Q, C = load(left[vec]), load(right["nvec"])
        qids = left["vec_id"].to_numpy(dtype="int64")
        cids = right["nid"].to_numpy(dtype="int64")
        cn = (C * C).sum(axis=1)
        out = []
        for lo in range(0, len(Q), BLOCK):
            Qb, qb = Q[lo : lo + BLOCK], qids[lo : lo + BLOCK]
            if score == "cos":
                K = -(Qb @ C.T)
            else:
                K = (Qb * Qb).sum(axis=1)[:, None] + cn[None, :] - 2 * (Qb @ C.T)
            r, c = _select(K, qb, cids, k)
            s = -K[r, c] if score == "cos" else K[r, c].astype(np.int64)
            out.append(pd.DataFrame({"src": qb[r], "dst": cids[c], score: s}))
        return pd.concat(out, ignore_index=True)

    return fn


def tiled_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    score: str,
    on: str | None = None,
) -> DataFrame:
    """(src, dst, <score>, rank): per query row, the exact top-``k``
    corpus rows (self excluded) by ``score`` — ``"cos"`` (highest
    cosine first) or ``"d2"`` (smallest squared L2 first), ties by
    dst ascending; rank is 1-based.

    Both frames carry ``vec_id`` (long) and the vector column of the
    score type (``embedding`` for cos, quantized ``qv`` for d2), plus
    the ``on`` column when given. The two sides may be the same frame:
    every column is re-aliased here, because cogroup sides that share
    lineage collapse same-ExprId columns during pruning."""
    vec = _VEC[score]
    keys = [on] if on else []
    qf = queries.select(
        F.col("vec_id").alias("vec_id"),
        F.col(vec).alias(vec),
        *(F.col(g).alias(g) for g in keys),
    )
    cf = corpus.select(
        F.col("vec_id").alias("nid"),
        F.col(vec).alias("nvec"),
        *(F.col(g).alias(g) for g in keys),
    )
    if on is None:
        keys = ["qt", "ct"]
        qf = qf.select(
            "*",
            F.pmod(F.col("vec_id"), F.lit(CHUNKS)).cast("int").alias("qt"),
            F.explode(F.sequence(F.lit(0), F.lit(TILES - 1))).alias("ct"),
        )
        cf = cf.select(
            "*",
            F.pmod(F.col("nid"), F.lit(TILES)).cast("int").alias("ct"),
            F.explode(F.sequence(F.lit(0), F.lit(CHUNKS - 1))).alias("qt"),
        )
    cand = (
        qf.groupBy(*keys)
        .cogroup(cf.groupBy(*keys))
        .applyInPandas(
            _cell_kernel(k, score),
            f"src long, dst long, {score} {_SCORE_TYPE[score]}",
        )
    )
    key = F.desc(score) if score == "cos" else F.asc(score)
    w = Window.partitionBy("src").orderBy(key, "dst")
    return cand.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
