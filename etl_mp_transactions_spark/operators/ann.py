"""Similarity search over embedding columns (SURVEY.md §2.9):
exact cosine top-k, exact threshold near-dup, and LSH variants.

Scale shapes (the 100 TB story — see SCALE.md "Similarity & ANN"):

- ``cosine_topk`` (default): the package's one exact tiled top-k,
  ``operators/tiled.tiled_topk`` with the cosine score — a 2-D grid
  of cogroup cells, one BLAS matmul and a (−cos, id) selection per
  cell, one window merge. Per-task memory is bounded by the cell,
  data movement is O(n·TILES + m·CHUNKS) — the 1-bucket-theta
  replication shape — and nothing is collected to the driver.
- ``cosine_topk_bcast``: the small-corpus fast path — corpus matrix
  broadcast once, queries stream through ``mapInPandas``. ~2× faster
  below a few million rows but capped at driver/executor memory;
  documented, not the default.
- ``neardup_pairs`` (exact threshold join): triangular tiled cogroup —
  tile pairs (i ≤ j) are the cogroup keys, each task scores one tile
  pair exactly. For a low threshold on dense embeddings no LSH family
  is selective-AND-complete (see ``neardup_pairs_banded``), so the
  exact operator distributes the unavoidable O(n²/2) compute evenly
  with O(n·G) replication instead of a crossJoin.
- ``neardup_pairs_banded``: random-hyperplane (sign-bit) banding for
  the high-similarity near-dup regime. A pair at cosine c collides in
  one r-bit band with probability p^r where p = 1 − arccos(c)/π, and
  in ≥1 of b bands with 1−(1−p^r)^b: at c=0.9 (real near-dup corpora)
  r=4/b=8 gives 0.998 recall; at c=0.45 it is only ~0.8, and at
  c=0.35 no (r,b) both prunes and recalls — which is why the exact
  tiled join above stays the default for low thresholds. Candidates
  are verified with the exact expression-level cosine, so precision
  is always 1; the banding is deterministic (axis hyperplanes) and
  SQL-mirrorable, so the oracle reproduces it exactly.

All expression-level vector math uses ``zip_with`` dot products with a
sequential left-fold — deterministic and engine-portable. The Arrow
paths use the same float64 normalize-then-matmul everywhere so ranks
and thresholds agree bit-for-bit across variants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_mp_transactions_spark.operators.tiled import (
    TILES,
    _stack,
    int_rows,
    tiled_topk,
)


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_unit_prep(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add double-cast vector + precomputed L2 norm (computed once,
    reused across all pair comparisons)."""
    d = _as_double(F.col(vec_col))
    return df.withColumn("_vec", d).withColumn("_norm", norm(F.col("_vec")))


def cosine_topk(
    embeddings: DataFrame, k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k, distributed: (vec_id, neighbor_id, rank).

    The 2-D tiled block matmul of ``operators/tiled.tiled_topk``: no
    driver collect, no broadcast of the corpus, per-task memory
    bounded by one grid cell."""
    emb = embeddings.select(F.col(id_col).cast("long").alias("vec_id"), "embedding")
    return tiled_topk(emb, emb, k, "cos").select(
        F.col("src").alias("vec_id"), F.col("dst").alias("neighbor_id"), "rank"
    )


# loud ceiling for the driver-side corpus materialization below:
# 2M rows × 64-dim float64 ≈ 1 GB — comfortably inside this box,
# far below where toPandas() would OOM silently at a 100× corpus
BCAST_MAX_ROWS = 2_000_000


def cosine_topk_bcast(
    embeddings: DataFrame, k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k, small-corpus fast path: corpus broadcast once,
    queries stream through ``mapInPandas`` with one BLAS matmul per
    Arrow batch. Shuffle-free but capped at driver/executor memory —
    LOUDLY (VERDICT r12 task #8): the corpus materialization below
    is driver-sized, so a corpus over ``BCAST_MAX_ROWS`` raises with
    the scale path named instead of OOMing the driver. Past the cap
    use ``cosine_topk`` (tiled exact) or the IVF/IVF-PQ family."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    # bounded existence check (ADVICE r13): limit(cap+1).count() scans
    # only until cap+1 rows exist, instead of a full corpus count
    # that doubles the input scan on every small-corpus call
    n = embeddings.limit(BCAST_MAX_ROWS + 1).count()
    if n > BCAST_MAX_ROWS:
        raise ValueError(
            f"cosine_topk_bcast: corpus exceeds"
            f" BCAST_MAX_ROWS={BCAST_MAX_ROWS} — this exact-GT"
            " baseline materializes the corpus on the driver; use"
            " cosine_topk (tiled exact) or operators/ivfpq"
            " (IVF/IVF-PQ) as the scale path"
        )
    corpus = embeddings.select(id_col, "embedding").toPandas()
    ids = corpus[id_col].to_numpy(dtype="int64")
    M = _stack(corpus["embedding"])
    bc = spark.sparkContext.broadcast((ids, M))

    def score(batches):
        b_ids, b_M = bc.value
        for pdf in batches:
            q_ids = pdf[id_col].to_numpy(dtype="int64")
            S = _stack(pdf["embedding"]) @ b_M.T  # cosines: (batch, corpus)
            out_vec, out_nbr, out_rank = [], [], []
            for row, qid in enumerate(q_ids):
                sims = S[row]
                mask = b_ids != qid  # exclude self
                cand_ids = b_ids[mask]
                cand_sims = sims[mask]
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                out_vec.extend([qid] * len(order))
                out_nbr.extend(cand_ids[order])
                out_rank.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {"vec_id": out_vec, "neighbor_id": out_nbr, "rank": out_rank}
            )

    return embeddings.select(id_col, "embedding").mapInPandas(
        score, "vec_id long, neighbor_id long, rank long"
    )


def cosine_topk_expr(
    embeddings: DataFrame, k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Expression-level exact top-k (crossJoin + fold dot product) —
    the no-Python reference plan; O(n·m·d) interpreted. Kept for
    plan-parity tests only."""
    base = with_unit_prep(embeddings)
    a = base.select(
        F.col(id_col).alias("vec_id"),
        F.col("_vec").alias("va"),
        F.col("_norm").alias("na"),
    )
    b = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_vec").alias("vb"),
        F.col("_norm").alias("nb"),
    )
    pairs = a.crossJoin(b).filter(F.col("vec_id") != F.col("neighbor_id"))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        pairs.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank")
    )


def sign_bucket(vec_col, n_bits: int = 8, offset: int = 0) -> Column:
    """LSH bucket id: sign bits of components [offset, offset+n_bits)."""
    bits = [
        F.when(F.col(vec_col)[offset + i] >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*bits)


def cosine_topk_lsh(
    embeddings: DataFrame, k: int = 3, n_bits: int = 8, id_col: str = "vec_id"
) -> DataFrame:
    """Bucketed ANN: top-k within the sign-pattern bucket only."""
    base = with_unit_prep(embeddings).withColumn(
        "bucket", sign_bucket("embedding", n_bits)
    )
    a = base.select(
        F.col(id_col).alias("vec_id"),
        "bucket",
        F.col("_vec").alias("va"),
        F.col("_norm").alias("na"),
    )
    b = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("bucket").alias("bucket_b"),
        F.col("_vec").alias("vb"),
        F.col("_norm").alias("nb"),
    )
    pairs = a.join(b, (F.col("bucket") == F.col("bucket_b"))).filter(
        F.col("vec_id") != F.col("neighbor_id")
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        pairs.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("vec_id", "bucket", "neighbor_id", "rank")
    )


def neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold), exact.

    Triangular tiled self-join: rows hash into the G = ``TILES`` tiles
    of ``operators/tiled``; every unordered tile pair (i ≤ j) is one
    cogroup key — a row in tile t enters the LEFT side of keys
    (t, j≥t) and the RIGHT side of keys (i≤t, t), so each vector pair
    is scored in exactly one task. Replication is O(n·G/2) per side vs the crossJoin's O(n²) shuffle; tasks are
    uniform (tiles are hash-balanced) so 1000 executors each score an
    equal block. Exactness: every pair reaches exactly one cell —
    diagonal cells keep a<b, off-diagonal cells are disjoint sets.
    """
    import numpy as np
    import pandas as pd

    emb = embeddings.select(F.col(id_col).cast("long").alias("vec_id"), "embedding")
    t = emb.withColumn("tile", F.pmod(F.col("vec_id"), F.lit(TILES)).cast("int"))
    left = t.select(
        "*", F.explode(F.sequence(F.col("tile"), F.lit(TILES - 1))).alias("j")
    ).select(F.col("vec_id"), "embedding", "tile", (F.col("tile") * TILES + F.col("j")).alias("pk"))
    # distinct right-side names: cogroup sides with shared lineage
    # collapse same-ExprId columns during pruning (see tiled_topk)
    right = t.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("tile"))).alias("i")
    ).select(
        F.col("vec_id").alias("rid"),
        F.col("embedding").alias("remb"),
        F.col("tile").alias("rtile"),
        (F.col("i") * TILES + F.col("tile")).alias("pk"),
    )

    empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []})

    def pairs_fn(lg: pd.DataFrame, rg: pd.DataFrame) -> pd.DataFrame:
        if lg.empty or rg.empty:
            return empty
        l_ids = lg["vec_id"].to_numpy(dtype="int64")
        r_ids = rg["rid"].to_numpy(dtype="int64")
        S = _stack(lg["embedding"]) @ _stack(rg["remb"]).T
        li, ri = np.nonzero(S >= threshold)
        a_ids, b_ids, sims = l_ids[li], r_ids[ri], S[li, ri]
        if lg["tile"].iat[0] == rg["rtile"].iat[0]:
            keep = a_ids < b_ids  # diagonal cell: both sides are tile t
        else:
            keep = np.ones(len(a_ids), dtype=bool)  # disjoint tiles
        a_ids, b_ids, sims = a_ids[keep], b_ids[keep], sims[keep]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(a_ids, b_ids),
                "vec_b": np.maximum(a_ids, b_ids),
                "cos": sims,
            }
        )

    return (
        left.groupBy("pk")
        .cogroup(right.groupBy("pk"))
        .applyInPandas(pairs_fn, "vec_a long, vec_b long, cos double")
    )


BAND_SLOT_BITS = 8  # dims reserved per band (64-dim vecs / 8 bands)
MINE_BUCKET_CAP = 256  # hard_negatives_banded candidate-side bucket cap


def adaptive_band_bits(n_rows: int, lo: int = 4, hi: int = BAND_SLOT_BITS) -> int:
    """Bucket granularity that tracks corpus size: bits =
    clamp(ceil(log2(n / 256)), lo, hi), i.e. target ~256 vectors per
    band bucket. Fixed bits make banding quadratic — with r bits a
    band's candidate count is ~n²/2^r, so 10x the corpus is 100x the
    candidates; growing r with log2(n) holds per-bucket occupancy
    (and per-vector candidate work) roughly constant. This is the
    standard LSH capacity tuning, and it was invisible until the r5
    measured sf1 run (74x wall-clock at 10x rows with fixed r=4).

    The formula is exact and engine-portable with NO log2 anywhere
    (VERDICT r11 task #2): for integer n ≥ 2,
    ceil(log2(n/256)) == bit_length(n-1) - 8 — an integer identity,
    computed as length(bin(n-1)) - 8 in both engines' oracles and
    via int.bit_length here."""
    return max(lo, min(hi, (max(n_rows, 2) - 1).bit_length() - 8))


def neardup_pairs_banded(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_bits: int | None = 4,
    n_bands: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Hyperplane-banded near-dup: candidates collide in ≥1 sign-bit
    band (band b = signs of components [b·SLOT, b·SLOT + n_bits)),
    then exact cosine verification. Precision 1 by construction;
    recall is 1−(1−p^r)^b with p = 1−arccos(threshold)/π — ~0.998 at
    the 0.9 near-dup regime this index is for, lower at loose
    thresholds (see module docstring; use ``neardup_pairs`` for
    those).

    ``n_bits=None`` sizes the band width to the corpus
    (``adaptive_band_bits``): constant per-bucket occupancy as the
    corpus grows, trading recall per band (more bands would buy it
    back) for near-linear candidate counts — the 100 TB shape.

    Scale: one explode (b bands), one self-equi-join per band key, one
    pair dedup — the quadratic stage touches only same-bucket pairs,
    ~n²/2^r per band at uniform signs. No crossJoin anywhere.
    """
    if n_bits is None:
        # one count to size the index — metadata-cheap on parquet, and
        # the resulting plan is static for the run
        n_bits = adaptive_band_bits(embeddings.count())
    base = with_unit_prep(embeddings).select(
        F.col(id_col).alias("vec_id"), "_vec", "_norm", "embedding"
    )
    bands = base.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    sign_bucket("embedding", n_bits, offset=b * BAND_SLOT_BITS)
                    for b in range(n_bands)
                ]
            )
        ).alias("b", "bkey"),
    )
    cand = (
        bands.select(F.col("vec_id").alias("vec_a"), "b", "bkey")
        .join(bands.select(F.col("vec_id").alias("vec_b"), "b", "bkey"), ["b", "bkey"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = base.select(F.col("vec_id").alias("vec_a"), F.col("_vec").alias("ua"), F.col("_norm").alias("na"))
    vb = base.select(F.col("vec_id").alias("vec_b"), F.col("_vec").alias("ub"), F.col("_norm").alias("nb"))
    cos = dot(F.col("ua"), F.col("ub")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )

def hard_negatives_banded(
    embeddings: DataFrame,
    n_bits: int | None = None,
    n_bands: int = 8,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Full-corpus hard-negative mining: for EVERY vector, the most
    similar cross-label vector among its LSH band candidates.

    The eval-set variant (queries/ranking_eval.py
    ``hard_negative_mining``) broadcasts a fixed 40-anchor set
    against the corpus — exact, but an eval contract, not a mining
    operator. This is the mining shape: every vector is an anchor,
    candidates come from the same deterministic sign-bit banding as
    ``neardup_pairs_banded`` (corpus-adaptive bits via
    ``adaptive_band_bits``), restricted to cross-label pairs, and the
    exact integer micro-unit dot picks the per-anchor argmax (vec_id
    tiebreak — no float anywhere on the rank path). Anchors whose
    buckets hold no cross-label vector emit nothing (LSH-miner
    semantics). Two scale decisions, both r9 sweep-driven (first
    version measured 12.7x at the 10x step):

    - NO pair materialization: an argmax is duplicate-insensitive, so
      the band self-join needs no dropDuplicates and no per-anchor
      window — the quantized vectors ride THROUGH the join (the
      containment pairs_bitmap pattern) and a single
      ``max(struct(qdot, -negative_id))`` groupBy with map-side
      combine collapses everything to one row per anchor. The only
      shuffles are the band-row equi-join (n x n_bands rows, linear)
      and the final n-row aggregate; candidate volume never crosses
      the wire.
    - candidate-side bucket cap (``MINE_BUCKET_CAP``, deterministic
      vec_id order, oracle-mirrored): buckets are occupancy-targeted
      by adaptive_band_bits, but an adversarial corpus can still pile
      one bucket; the cap bounds per-anchor work at
      n_bands x cap regardless. Anchors probe with ALL their bands,
      so no anchor is lost.
    """
    if n_bits is None:
        n_bits = adaptive_band_bits(embeddings.count())
    # r16 shape: ONE shuffle of the n x n_bands band rows by
    # (band, bucket), then a per-bucket numpy kernel — the
    # operators/tiled cell-kernel discipline. The former shape shuffled
    # BOTH sides of a band self-join (qv payload riding each) plus a
    # bucket-cap window, then evaluated ~n_bands·cap interpreted
    # 64-element zip_with dots per anchor (measured as most of the
    # query's wall). Exactness: |qv| ≤ 2.4e6 < 2^31 (int32 Arrow
    # payload, the _q32 halving), and int_rows makes the float64
    # matmul exact integer arithmetic. The bucket cap and the (qdot desc,
    # negative_id asc) tiebreak replicate bit-for-bit: columns are
    # vec_id-sorted, so np.argmax's first-max IS the min-id tiebreak,
    # and the cap keeps the first MINE_BUCKET_CAP ids.
    import numpy as np
    import pandas as pd

    bands = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.expr(
            "transform(embedding, x -> cast(round(x * 1e6) as int))"
        ).alias("qv"),
        F.posexplode(
            F.array(
                *[
                    sign_bucket("embedding", n_bits, offset=b * BAND_SLOT_BITS)
                    for b in range(n_bands)
                ]
            )
        ).alias("b", "bkey"),
    )

    def _mine_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        neg = pdf.iloc[:MINE_BUCKET_CAP]
        Vn = int_rows(neg["qv"])
        nid = neg["vec_id"].to_numpy()
        nlab = neg["label"].to_numpy()
        out = []
        # anchor-side chunks bound kernel memory to chunk x cap
        for lo in range(0, len(pdf), 8192):
            a = pdf.iloc[lo : lo + 8192]
            Va = int_rows(a["qv"])
            D = Va @ Vn.T
            mask = a["label"].to_numpy()[:, None] != nlab[None, :]
            valid = mask.any(axis=1)
            if not valid.any():
                continue
            D = np.where(mask, D, -np.inf)
            j = np.argmax(D, axis=1)  # first max = min vec_id tiebreak
            sel = a.iloc[valid.nonzero()[0]]
            jj = j[valid]
            out.append(
                pd.DataFrame(
                    {
                        "anchor_id": sel["vec_id"].to_numpy(),
                        "anchor_label": sel["label"].to_numpy(),
                        "qdot": D[valid, jj].astype(np.int64),
                        "negative_id": nid[jj],
                        "negative_label": nlab[jj],
                    }
                )
            )
        if not out:
            return pd.DataFrame(
                {
                    "anchor_id": np.array([], dtype=np.int64),
                    "anchor_label": np.array([], dtype=np.int32),
                    "qdot": np.array([], dtype=np.int64),
                    "negative_id": np.array([], dtype=np.int64),
                    "negative_label": np.array([], dtype=np.int32),
                }
            )
        return pd.concat(out, ignore_index=True)

    scored = bands.groupBy("b", "bkey").applyInPandas(
        _mine_bucket,
        "anchor_id long, anchor_label int, qdot long,"
        " negative_id long, negative_label int",
    )
    # per-bucket winners -> global argmax via struct-max: qdot desc,
    # then min negative_id (the negated id makes struct order = the
    # tiebreak); map-side combine keeps candidate volume inside tasks
    best = scored.groupBy("anchor_id", "anchor_label").agg(
        F.max(
            F.struct(
                F.col("qdot"),
                (-F.col("negative_id")).alias("_nneg"),
                F.col("negative_id"),
                F.col("negative_label"),
            )
        ).alias("m")
    )
    return best.select(
        "anchor_id",
        "anchor_label",
        F.col("m.negative_id").alias("negative_id"),
        F.col("m.negative_label").alias("negative_label"),
        F.col("m.qdot").alias("qdot"),
    )
