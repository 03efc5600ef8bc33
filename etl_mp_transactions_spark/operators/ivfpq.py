"""IVF-PQ composite ANN index — coarse inverted lists over
residual product-quantization codes, the architecture an actual
100 TB similarity deployment runs (SURVEY.md §2.9; Jégou et al.
2011 §V "IVFADC", public; FAISS's IndexIVFPQ is the reference
implementation of the same design).

The two halves already exist separately in this engine —
``operators/ivf.py`` (coarse Voronoi lists, probe-limited search)
and ``operators/pq.py`` (64× vector compression + asymmetric
distance) — but neither alone is the at-scale shape: IVF without
compression still shuffles raw vectors into every probed list, and
flat PQ still scans ALL n codes per query. The composite stores one
32-bit code per vector inside its coarse list and scans only
nprobe/KC of the corpus per query, which is why it is the standard:
memory ∝ n/64, query cost ∝ n·nprobe/KC.

Everything is exact integer arithmetic on micro-unit quantized
vectors (the kmeans_lloyd_step policy), so the DuckDB oracle
reproduces the full pipeline bit-for-bit:

- **coarse quantizer**: the KC corpus vectors with smallest
  md5(vec_id || tag) (deterministic random Voronoi seeds, the
  operators/ivf.py seed_centroids shape; bounded KC-row collect;
  operators/ivfpq_train.py Lloyd-refines these seeds — and the PQ
  books below — into the trained index a production deployment
  serves, ~2× lower distortion, same encode/ADC machinery);
  assignment = argmin_c full-vector squared L2, c-asc tiebreak —
  one broadcast of KC rows, map-side-combined argmin, no shuffle of
  the corpus;
- **residual PQ**: codes quantize the RESIDUAL r = v − centroid(v)
  (Jégou §V-A — residuals are centered near 0 so a shared codebook
  fits all lists); PQ codebooks are the KS md5-rank-picked residual
  vectors; encode is the exact BIGINT subspace argmin of
  operators/pq.py with little-endian nibble packing; distortion
  (sum of subspace minima) rides along;
- **search (ADC over probed lists)**: the query's nprobe nearest
  coarse centroids are ranked exactly ((d2, c) tiebreak); ONE
  nprobe×M×KS lookup table of exact subspace distances between the
  query's per-list residual and the shared codebook broadcasts; a
  vector in a probed list scores sum of M table hits on its packed
  code — the original vectors are never touched after encode.

Scale: encode is linear (n×KC assignment stream + n×KS×M subspace
stream, both with map-side-combined argmins); the only bounded
collects are the KC- and KS-row seed picks (parameter-bounded,
documented class). Search touches n·nprobe/KC code rows via a
broadcast-LUT hash join — no shuffle of the corpus, no all-pairs
stage anywhere. At 100 TB: KC grows ~√n so lists stay bounded,
codes are 64× smaller than vectors so probed lists are CPU-bound
table walks, and the LUT is O(nprobe·M·KS) regardless of n.

Reference parity: the reference's similarity machinery is the
O(n·m) in-memory sweep in src/ai.py:42-60; IVF-PQ is the standard
compressed-and-pruned path that capability requires at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_mp_transactions_spark.operators.pq import (
    PQ_KS,
    PQ_M,
    PQ_SUB,
    _quantized,
    _sub_d2,
)
from etl_mp_transactions_spark.functions.literalframe import literal_frame

IVFPQ_KC = 8  # coarse centroids (inverted lists)
IVFPQ_NPROBE = 2  # lists scanned per query
COARSE_TAG = ":ivfpq-coarse-1"
RESID_TAG = ":ivfpq-resid-1"
# Each entry point cuts its quantized corpus, residual and codes frames
# with a LAZY localCheckpoint: the foreachBatch streaming callers need it.

_FULL_D2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " cast(0 as bigint), (acc, v) -> acc + v)"
)


def coarse_books(
    embeddings: DataFrame, id_col: str = "vec_id", q: DataFrame | None = None
) -> DataFrame:
    """KC coarse-centroid rows (c, ccqv): md5-rank seed pick over the
    quantized corpus (TakeOrderedAndProject + bounded KC-row collect,
    the operators/ivf.py seed_centroids shape). ``q`` optionally
    supplies an already-quantized (vec_id, qv) frame so a caller that
    materializes the quantized corpus once per call doesn't pay a
    second scan+quantize here."""
    if q is None:
        q = _quantized(embeddings, id_col)
    rows = (
        q.select(
            "vec_id",
            "qv",
            F.md5(
                F.concat(F.col("vec_id").cast("string"), F.lit(COARSE_TAG))
            ).alias("sk"),
        )
        .orderBy("sk", "vec_id")
        .limit(IVFPQ_KC)
        .collect()
    )
    rows.sort(key=lambda r: (r["sk"], r["vec_id"]))
    spark = embeddings.sparkSession
    return literal_frame(
        spark,
        [(c, list(r["qv"])) for c, r in enumerate(rows)],
        "c int, ccqv array<bigint>",
    )


def books_rows(books: DataFrame, vec_col: str) -> list[list[int]]:
    """Collect a bounded codebook frame to index-contiguous vector
    rows (row i = book with id i). Every book frame in this module is
    a literal createDataFrame of a prior parameter-bounded collect
    (coarse_books/_freeze/residual_books), so this collect is a tiny
    LocalTableScan, not a corpus job. Fails loudly if ids are not
    0..K-1 (the construction guarantees they are)."""
    rows = sorted(
        (int(r[0]), [int(x) for x in r[vec_col]]) for r in books.collect()
    )
    assert [c for c, _ in rows] == list(range(len(rows))), (
        "codebook ids are not contiguous 0..K-1: "
        f"{[c for c, _ in rows]}"
    )
    return [v for _, v in rows]


def argmin_books_expr(book_vecs: list[list[int]], qv_col: str):
    """struct(d2, c) of the nearest book among the LITERAL
    index-contiguous ``book_vecs``: ``array_min`` over per-book exact
    d2 structs is field-lexicographic — (d2 asc, c asc), the exact
    tiebreak of a ``min(struct(d2, c))`` aggregate — evaluated as a
    map-only projection (guide §2.4: no K-way row blowup, no corpus
    shuffle)."""
    lit = "array(" + ", ".join(
        "named_struct('c', {c}, 'ckv', array({v}))".format(
            c=c, v=", ".join(f"{x}L" for x in v)
        )
        for c, v in enumerate(book_vecs)
    ) + ")"
    d2 = (
        f"aggregate(zip_with({qv_col}, b.ckv, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    return F.expr(
        f"array_min(transform({lit},"
        f" b -> named_struct('d2', {d2}, 'c', b.c)))"
    )


def coarse_assign(
    embeddings: DataFrame,
    books: DataFrame,
    id_col: str = "vec_id",
    q: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cid, rqv): exact-integer nearest coarse centroid
    (full-vector squared L2, c-asc tiebreak) and the residual vector
    r = qv − centroid.

    r16 shape (guide §2.4): the books are literal driver rows by
    construction, so the argmin is a LITERAL-array ``array_min``
    projection — field-lexicographic struct(d2, c) min, the exact
    tiebreak of the former ``min(struct(cd2, c))`` aggregate — and
    the residual subtracts the winning centroid by index lookup. The
    former shape crossJoined n×KC rows, shuffled the corpus through a
    groupBy(vec_id), then joined BACK to the corpus and to the books;
    this is one map-only projection: zero shuffles, zero joins.
    ``q`` optionally supplies the already-quantized corpus
    (coarse_books contract)."""
    if q is None:
        q = _quantized(embeddings, id_col)
    bk = books_rows(books, "ccqv")
    best = argmin_books_expr(bk, "qv")
    ckvs = "array(" + ", ".join(
        "array(" + ", ".join(f"{x}L" for x in v) + ")" for v in bk
    ) + ")"
    return (
        q.select("vec_id", "qv", best["c"].alias("cid"))
        .select(
            "vec_id",
            "cid",
            F.expr(
                f"zip_with(qv, element_at({ckvs}, cid + 1),"
                " (a, b) -> a - b)"
            ).alias("rqv"),
        )
    )


def residual_books(resid: DataFrame) -> DataFrame:
    """KS PQ-codebook rows (k, pcqv) over the residual corpus:
    md5-rank seed pick (bounded KS-row collect). A shared codebook
    across lists — residuals are centered, so one book fits all
    (Jégou §V-A)."""
    rows = (
        resid.select(
            "vec_id",
            "rqv",
            F.md5(
                F.concat(F.col("vec_id").cast("string"), F.lit(RESID_TAG))
            ).alias("sk"),
        )
        .orderBy("sk", "vec_id")
        .limit(PQ_KS)
        .collect()
    )
    rows.sort(key=lambda r: (r["sk"], r["vec_id"]))
    spark = resid.sparkSession
    return literal_frame(
        spark,
        [(k, list(r["rqv"])) for k, r in enumerate(rows)],
        "k int, pcqv array<bigint>",
    )


def ivfpq_encode(
    embeddings: DataFrame, id_col: str = "vec_id"
) -> tuple[DataFrame, DataFrame]:
    """Returns (codes, packed): ``codes`` is the per-(vec, subspace)
    residual assignment (vec_id, cid, m, code, d2) the ADC scan
    reuses; ``packed`` is one row per vector (vec_id, cid, pq_code,
    distortion) — the 32-bits-plus-a-list-id a 100 TB deployment
    actually stores."""
    # ONE scan+quantize pass per call: the quantized corpus feeds the
    # coarse seed pick AND the assignment (r16 — formerly each ran its
    # own parquet scan + quantize transform)
    q = _quantized(embeddings, id_col).localCheckpoint(eager=False)
    cb = coarse_books(embeddings, id_col, q=q)
    # ONE assignment pass: the residual frame feeds both the codebook
    # seed pick (a TakeOrdered over it) and the encode itself —
    # without the cut, residual_books' seed scan and the encode
    # each replay the full n×KC assignment (measured as most of the
    # encode's 10×-step wall)
    resid = coarse_assign(embeddings, cb, id_col, q=q).localCheckpoint(
        eager=False
    )
    pb = residual_books(resid)
    out = _encode_resid(resid, pb)
    return out


def encode_against_books(
    targets: DataFrame,
    cb: DataFrame,
    pb: DataFrame,
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Encode ``targets`` against FROZEN codebooks — the incremental
    ingest shape: a production index fits (cb, pb) once (or
    periodically) and every arriving batch encodes against them, so
    per-batch work is |batch| × (KC + KS) regardless of corpus size
    and previously assigned codes never change."""
    return _encode_resid(coarse_assign(targets, cb, id_col), pb)


def _encode_resid(
    resid: DataFrame, pb: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(codes, packed) from a residual frame and a PQ codebook.

    r16: the per-subspace argmin is the literal-books map-only
    projection (operators/pq.py subspace_codes_lit) — no n×KS
    crossJoin, no corpus groupBy shuffle. The code table stays
    materialized per call (lazy localCheckpoint — the INDEX every ADC
    consumer references once per probe rung / serving arm; without it
    each reference replays the encode)."""
    from etl_mp_transactions_spark.operators.pq import subspace_codes_lit

    pb_rows = books_rows(pb, "pcqv")
    codes = subspace_codes_lit(
        resid, pb_rows, ["vec_id", "cid"], "rqv"
    ).localCheckpoint(eager=False)
    packed = codes.groupBy("vec_id", "cid").agg(
        F.sum(
            F.expr("shiftleft(cast(code as bigint), 4 * m)")
        ).cast("bigint").alias("pq_code"),
        F.sum("d2").cast("bigint").alias("distortion"),
    )
    return codes, packed


def ivfpq_adc_topk(
    embeddings: DataFrame, k_neighbors: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """(query_id, vec_id, cid, adc_d2, rank): ADC top-k for the
    deterministic query vector (min vec_id) over its IVFPQ_NPROBE
    nearest inverted lists. The scan joins the packed codes of the
    probed lists against one broadcast nprobe×M×KS lookup table of
    exact per-list residual subspace distances — vectors outside the
    probed lists are never read, and raw vectors are never touched."""
    q = _quantized(embeddings, id_col).localCheckpoint(eager=False)
    cb = coarse_books(embeddings, id_col, q=q)
    resid = coarse_assign(embeddings, cb, id_col, q=q).localCheckpoint(
        eager=False
    )
    pb = residual_books(resid)
    codes, _ = _encode_resid(resid, pb)
    qvec = q.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    pw = Window.partitionBy("query_id").orderBy("cd2", "c")
    probe = (
        qvec.crossJoin(F.broadcast(cb))
        .withColumn("cd2", F.expr(_FULL_D2.format(a="qqv", b="ccqv")))
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= IVFPQ_NPROBE)
        .select("query_id", "c", "qqv", "ccqv")
    )
    # per-probed-list query residual, then the M x KS subspace LUT
    # (pb reused from the encode above — one assignment pass total)
    lut = (
        probe.withColumn(
            "rqq", F.expr("zip_with(qqv, ccqv, (a, b) -> a - b)")
        )
        .crossJoin(F.broadcast(pb))
        .select(
            "query_id",
            F.col("c").alias("cid"),
            "k",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
            "rqq",
            "pcqv",
        )
        .select(
            "query_id",
            "cid",
            F.col("k").alias("code"),
            "m",
            _sub_d2("rqq", "pcqv").alias("ld2"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["cid", "m", "code"])
        .groupBy("vec_id", "cid", "query_id")
        .agg(F.sum("ld2").cast("bigint").alias("adc_d2"))
    )
    w = Window.orderBy("adc_d2", "vec_id")
    return (
        scored.orderBy("adc_d2", "vec_id")
        .limit(k_neighbors)
        .select(
            "query_id",
            "vec_id",
            F.col("cid").cast("long").alias("cid"),
            "adc_d2",
            F.row_number().over(w).cast("long").alias("rank"),
        )
    )


IVFPQ_QBATCH = 64  # serving batch size (bounded by construction)
QUERY_TAG = ":ivfpq-query-1"


def ivfpq_adc_batch(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, vec_id, adc_d2, rank): batched ADC serving — a
    deterministic IVFPQ_QBATCH-query batch (md5-rank pick, the seed
    shape) each searches its IVFPQ_NPROBE nearest lists. The combined
    lookup table is QBATCH × nprobe × M × KS rows — bounded by the
    BATCH, not the corpus, so it broadcasts and the whole scan is one
    map-side hash join over the probed lists' codes with map-side-
    combined per-(query, vector) sums and per-query top-k windows.
    This is the production serving shape: queries arrive in bounded
    batches, so per-batch work stays ∝ corpus × nprobe/KC regardless
    of corpus size (vs the inherently quadratic "all vectors query
    all lists")."""
    q = _quantized(embeddings, id_col).localCheckpoint(eager=False)
    cb = coarse_books(embeddings, id_col, q=q)
    resid = coarse_assign(embeddings, cb, id_col, q=q).localCheckpoint(
        eager=False
    )
    pb = residual_books(resid)
    codes, _ = _encode_resid(resid, pb)
    qset = (
        q.select(
            "vec_id",
            "qv",
            F.md5(
                F.concat(F.col("vec_id").cast("string"), F.lit(QUERY_TAG))
            ).alias("sk"),
        )
        .orderBy("sk", "vec_id")
        .limit(IVFPQ_QBATCH)
        .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv"))
    )
    pw = Window.partitionBy("query_id").orderBy("cd2", "c")
    probe = (
        qset.crossJoin(F.broadcast(cb))
        .withColumn("cd2", F.expr(_FULL_D2.format(a="qqv", b="ccqv")))
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= IVFPQ_NPROBE)
        .select("query_id", "c", "qqv", "ccqv")
    )
    lut = (
        probe.withColumn(
            "rqq", F.expr("zip_with(qqv, ccqv, (a, b) -> a - b)")
        )
        .crossJoin(F.broadcast(pb))
        .select(
            "query_id",
            F.col("c").alias("cid"),
            "k",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
            "rqq",
            "pcqv",
        )
        .select(
            "query_id",
            "cid",
            F.col("k").alias("code"),
            "m",
            _sub_d2("rqq", "pcqv").alias("ld2"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["cid", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("ld2").cast("bigint").alias("adc_d2"))
    )
    rw = Window.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "vec_id", "adc_d2", "rank")
        .orderBy("query_id", "rank")
    )
