"""Lloyd-trained IVF-PQ registry queries (operators/ivfpq_train.py):
the trained-codebook encode, trained ADC search, the
trained-vs-seeded distortion gain, and the recall@5 audit of both
index generations against the exact top-k — every stage exact
integer, so the DuckDB oracle replays the ENTIRE training loop
(seed pick → unrolled Lloyd steps with floor-division means and
empty-cluster carry → residuals → per-subspace refinement → encode →
probed ADC scan) bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mp_transactions_spark.operators import ivfpq, ivfpq_train
from etl_mp_transactions_spark.operators.ivfpq import _FULL_D2
from etl_mp_transactions_spark.operators.ivfpq import _encode_resid
from etl_mp_transactions_spark.operators.pq import PQ_KS, PQ_M, PQ_SUB, _quantized
from etl_mp_transactions_spark.queries.ivfpq_q import (
    _IVFPQ_CTES,
    materialize_ctes,
)
from etl_mp_transactions_spark.registry import query
from etl_mp_transactions_spark.sources.tables import load_table

_DIM = PQ_M * PQ_SUB
_CI = ivfpq_train.COARSE_ITERS
_SI = ivfpq_train.SUB_ITERS

# exact floor division (the kmeans_lloyd_step update rule): snap the
# numerator to a multiple of n, then divide — identical in every engine
_FDIV = "(({s} - ((({s}) % {n}) + {n}) % {n}) // {n})"

_L2 = (
    "CAST(list_sum(list_transform(generate_series(1, {dim}),"
    " j -> ({a}[{off}j] - {b}[{off}j])"
    " * ({a}[{off}j] - {b}[{off}j]))) AS BIGINT)"
)


def _coarse_iter_sql(t: int, src: str = "q") -> str:
    d2 = _L2.format(dim=_DIM, a=f"{src}.qv", b="b.ccqv", off="")
    fd = _FDIV.format(s="s", n="n")
    return f"""
    casg{t} AS (
      SELECT vec_id, c FROM (
        SELECT {src}.vec_id, b.c, {d2} AS d2
        FROM {src} CROSS JOIN cb{t - 1} b
        QUALIFY row_number() OVER (PARTITION BY {src}.vec_id
                                   ORDER BY d2, b.c) = 1
      )
    ),
    cst{t} AS (
      SELECT a.c, u.pos,
             CAST(sum({src}.qv[u.pos]) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM casg{t} a JOIN {src} USING (vec_id),
           unnest(generate_series(1, {_DIM})) AS u(pos)
      GROUP BY 1, 2
    ),
    cnew{t} AS (
      SELECT c, list({fd} ORDER BY pos) AS nqv
      FROM cst{t} GROUP BY c
    ),
    cb{t} AS (
      SELECT b.c, coalesce(w.nqv, b.ccqv) AS ccqv
      FROM cb{t - 1} b LEFT JOIN cnew{t} w USING (c)
    )"""


def _sub_iter_sql(t: int) -> str:
    d2 = _L2.format(dim=PQ_SUB, a="rv.rqv", b="p.pcqv", off=f"mm.m * {PQ_SUB} + ")
    fd = _FDIV.format(s="s", n="n")
    return f"""
    sasg{t} AS (
      SELECT vec_id, m, k, rqv FROM (
        SELECT rv.vec_id, mm.m, p.k, rv.rqv, {d2} AS d2
        FROM trv rv CROSS JOIN pbt{t - 1} p
        CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm
        QUALIFY row_number() OVER (PARTITION BY rv.vec_id, mm.m
                                   ORDER BY d2, p.k) = 1
      )
    ),
    sst{t} AS (
      SELECT a.m, a.k, u.j,
             CAST(sum(a.rqv[a.m * {PQ_SUB} + u.j]) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM sasg{t} a, unnest(generate_series(1, {PQ_SUB})) AS u(j)
      GROUP BY 1, 2, 3
    ),
    snew{t} AS (
      SELECT m, k, list({fd} ORDER BY j) AS sl
      FROM sst{t} GROUP BY 1, 2
    ),
    pbt{t} AS (
      SELECT p.k,
             flatten(list(coalesce(w.sl,
               list_transform(generate_series(1, {PQ_SUB}),
                              j -> p.pcqv[mm.m * {PQ_SUB} + j]))
               ORDER BY mm.m)) AS pcqv
      FROM pbt{t - 1} p
      CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm
      LEFT JOIN snew{t} w ON w.k = p.k AND w.m = mm.m
      GROUP BY p.k
    )"""


def _assign_encode_sql(
    src: str, asg: str, rv: str, sub: str, codes: str
) -> str:
    """Assignment + residuals + subspace distances + argmin codes for
    the vectors of ``src`` against the TRAINED books (cb{_CI},
    pbt{_SI}), under the given CTE names."""
    d2a = _L2.format(dim=_DIM, a=f"{src}.qv", b="b.ccqv", off="")
    d2s = _L2.format(
        dim=PQ_SUB, a="rv.rqv", b="p.pcqv", off=f"mm.m * {PQ_SUB} + "
    )
    return f"""{asg} AS (
      SELECT vec_id, c AS cid, ccqv FROM (
        SELECT {src}.vec_id, b.c, b.ccqv, {d2a} AS cd2
        FROM {src} CROSS JOIN cb{_CI} b
        QUALIFY row_number() OVER (PARTITION BY {src}.vec_id
                                   ORDER BY cd2, b.c) = 1
      )
    ),
    {rv} AS (
      SELECT a.vec_id, a.cid,
             list_transform(generate_series(1, {_DIM}),
                            j -> {src}.qv[j] - a.ccqv[j]) AS rqv
      FROM {asg} a JOIN {src} USING (vec_id)
    ),
    {sub} AS (
      SELECT rv.vec_id, rv.cid, p.k, mm.m, {d2s} AS d2
      FROM {rv} rv CROSS JOIN pbt{_SI} p
      CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm
    ),
    {codes} AS (
      SELECT vec_id, cid, m, k AS code, d2
      FROM {sub}
      QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2, k) = 1
    )"""


def _fit_ctes(src: str) -> str:
    """Training chain over the vectors of ``src``: cb0 seed → {_CI}
    coarse Lloyd steps → fit-side assignment/residuals (tasg, trv) →
    pbt0 residual seed → {_SI} per-subspace Lloyd steps."""
    d2a = _L2.format(dim=_DIM, a=f"{src}.qv", b="b.ccqv", off="")
    parts = [f"""cb0 AS (
      SELECT row_number() OVER (
               ORDER BY md5(vec_id::VARCHAR || '{ivfpq.COARSE_TAG}'),
                        vec_id) - 1 AS c,
             qv AS ccqv
      FROM {src}
      QUALIFY row_number() OVER (
               ORDER BY md5(vec_id::VARCHAR || '{ivfpq.COARSE_TAG}'),
                        vec_id) <= {ivfpq.IVFPQ_KC}
    )"""]
    parts.extend(_coarse_iter_sql(t, src) for t in range(1, _CI + 1))
    parts.append(f"""tasg AS (
      SELECT vec_id, c AS cid, ccqv FROM (
        SELECT {src}.vec_id, b.c, b.ccqv, {d2a} AS cd2
        FROM {src} CROSS JOIN cb{_CI} b
        QUALIFY row_number() OVER (PARTITION BY {src}.vec_id
                                   ORDER BY cd2, b.c) = 1
      )
    ),
    trv AS (
      SELECT a.vec_id, a.cid,
             list_transform(generate_series(1, {_DIM}),
                            j -> {src}.qv[j] - a.ccqv[j]) AS rqv
      FROM tasg a JOIN {src} USING (vec_id)
    ),
    pbt0 AS (
      SELECT row_number() OVER (
               ORDER BY md5(vec_id::VARCHAR || '{ivfpq.RESID_TAG}'),
                        vec_id) - 1 AS k,
             rqv AS pcqv
      FROM trv
      QUALIFY row_number() OVER (
               ORDER BY md5(vec_id::VARCHAR || '{ivfpq.RESID_TAG}'),
                        vec_id) <= {PQ_KS}
    )""")
    parts.extend(_sub_iter_sql(t) for t in range(1, _SI + 1))
    return ",".join(parts)


def _train_ctes(include_q: bool = True) -> str:
    """The trained pipeline as DuckDB CTEs: cb0 seed → {_CI} unrolled
    coarse Lloyd steps → trained assignment/residuals (tasg, trv) →
    pbt0 residual seed → {_SI} per-subspace Lloyd steps → final
    subspace distances (tsub) and argmin codes (tcodes). Names are
    disjoint from queries/ivfpq_q.py's seeded CTEs so the gain/recall
    queries can carry BOTH pipelines in one statement. tsub/tcodes
    re-derive the encode from trv — when fitting and encoding cover
    the same vectors the fit residuals ARE the encode residuals."""
    d2s = _L2.format(
        dim=PQ_SUB, a="rv.rqv", b="p.pcqv", off=f"mm.m * {PQ_SUB} + "
    )
    parts = []
    if include_q:
        parts.append(f"""q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x * 1e6) AS BIGINT)) AS qv
      FROM embeddings
    )""")
    parts.append(_fit_ctes("q"))
    parts.append(f"""tsub AS (
      SELECT rv.vec_id, rv.cid, p.k, mm.m, {d2s} AS d2
      FROM trv rv CROSS JOIN pbt{_SI} p
      CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm
    ),
    tcodes AS (
      SELECT vec_id, cid, m, k AS code, d2
      FROM tsub
      QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2, k) = 1
    )""")
    return ",".join(parts)


def _train_ctes_split(base_pred: str, target_pred: str) -> str:
    """Incremental-ingest variant: books are TRAINED on the base
    slice (qb) and frozen; the arriving slice (qt) assigns and
    encodes against them (easg/erv/esub/ecodes) — train once, ingest
    forever, the production index lifecycle."""
    parts = [
        f"""q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x * 1e6) AS BIGINT)) AS qv
      FROM embeddings
    ),
    qb AS (SELECT * FROM q WHERE {base_pred}),
    qt AS (SELECT * FROM q WHERE {target_pred})""",
        _fit_ctes("qb"),
        _assign_encode_sql("qt", "easg", "erv", "esub", "ecodes"),
    ]
    return ",".join(parts)


_TRAIN_CTES = _train_ctes()


@query(
    "ivfpq_train_encode",
    materialize_ctes(f"""
    WITH {_TRAIN_CTES}
    SELECT vec_id,
           CAST(any_value(cid) AS BIGINT) AS cid,
           CAST(sum(CAST(code AS BIGINT) * (CAST(1 AS BIGINT) << (4 * m)))
                AS BIGINT) AS pq_code,
           CAST(sum(d2) AS BIGINT) AS distortion
    FROM tcodes
    GROUP BY vec_id
    ORDER BY vec_id
    """),
)
def ivfpq_train_encode(spark, sf_dir):
    """IVF-PQ encode with LLOYD-TRAINED codebooks
    (operators/ivfpq_train.py): {_CI} exact coarse k-means steps +
    {_SI} per-subspace PQ k-means steps (floor-division integer
    means, empty-cluster carry), then the standard residual encode.
    Same output contract as ivfpq_encode; distortion drops ~2×
    vs the md5-seeded books (pinned by ivfpq_train_gain) — the
    training loop a production (FAISS-style) index runs before
    ingesting 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, pb, resid = ivfpq_train.trained_books(emb)
    _, packed = _encode_resid(resid, pb)
    return packed.select(
        "vec_id",
        F.col("cid").cast("long").alias("cid"),
        "pq_code",
        "distortion",
    ).orderBy("vec_id")


@query(
    "ivfpq_train_gain",
    materialize_ctes(f"""
    WITH {_IVFPQ_CTES}, {_train_ctes(include_q=False)}
    SELECT
      (SELECT CAST(sum(d2) AS BIGINT) FROM codes) AS seeded_distortion,
      (SELECT CAST(sum(d2) AS BIGINT) FROM tcodes) AS trained_distortion,
      (SELECT CAST(sum(d2) AS BIGINT) FROM tcodes)
        < (SELECT CAST(sum(d2) AS BIGINT) FROM codes) AS improved
    """),
)
def ivfpq_train_gain(spark, sf_dir):
    """Trained-vs-seeded quantization quality, pinned in-result: total
    encode distortion of the md5-seeded books (ivfpq_encode) next to
    the Lloyd-trained books (ivfpq_train_encode), plus the
    ``improved`` flag — k-means monotonicity (each Lloyd step weakly
    decreases its stage's objective up to sub-1-per-dim floor
    rounding) made driver-checkable. Both totals are exact BIGINTs
    the oracle recomputes from scratch."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, packed_s = ivfpq.ivfpq_encode(emb)
    seeded = packed_s.agg(
        F.sum("distortion").cast("bigint").alias("seeded_distortion")
    )
    _, pb, resid = ivfpq_train.trained_books(emb)
    _, packed_t = _encode_resid(resid, pb)
    trained = packed_t.agg(
        F.sum("distortion").cast("bigint").alias("trained_distortion")
    )
    return seeded.crossJoin(trained).select(
        "seeded_distortion",
        "trained_distortion",
        (F.col("trained_distortion") < F.col("seeded_distortion")).alias(
            "improved"
        ),
    )

_QSET_SQL = f"""qset AS (
      SELECT vec_id AS query_id, qv AS qqv FROM (
        SELECT vec_id, qv,
               md5(vec_id::VARCHAR || '{ivfpq.QUERY_TAG}') AS sk
        FROM q
      )
      QUALIFY row_number() OVER (ORDER BY sk, vec_id)
              <= {ivfpq.IVFPQ_QBATCH}
    )"""


def _adc_scan_sql(prefix: str, cb: str, pb: str, codes: str, k: int,
                  nprobe: int = ivfpq.IVFPQ_NPROBE,
                  qset: str = "qset") -> str:
    """Batch ADC scan CTEs against the given book/code CTE names:
    {prefix}probe → {prefix}lut → {prefix}top (per-query top-k).
    ``qset`` names the (query_id, qqv) CTE to scan for — the permuted
    twin passes its coordinate-permuted batch."""
    d2c = _L2.format(dim=_DIM, a="qs.qqv", b="b.ccqv", off="")
    return f"""{prefix}probe AS (
      SELECT query_id, c AS cid, qqv, ccqv FROM (
        SELECT qs.query_id, b.c, qs.qqv, b.ccqv, {d2c} AS cd2
        FROM {qset} qs CROSS JOIN {cb} b
        QUALIFY row_number() OVER (PARTITION BY qs.query_id
                                   ORDER BY cd2, b.c)
                <= {nprobe}
      )
    ),
    {prefix}lut AS (
      SELECT p.query_id, p.cid, pp.k AS code, mm.m,
             CAST(list_sum(list_transform(
               generate_series(1, {PQ_SUB}),
               j -> ((p.qqv[mm.m * {PQ_SUB} + j]
                      - p.ccqv[mm.m * {PQ_SUB} + j])
                     - pp.pcqv[mm.m * {PQ_SUB} + j])
                  * ((p.qqv[mm.m * {PQ_SUB} + j]
                      - p.ccqv[mm.m * {PQ_SUB} + j])
                     - pp.pcqv[mm.m * {PQ_SUB} + j]))) AS BIGINT) AS ld2
      FROM {prefix}probe p CROSS JOIN {pb} pp
      CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm
    ),
    {prefix}top AS (
      SELECT query_id, vec_id, adc_d2, rank FROM (
        SELECT l.query_id, c.vec_id,
               CAST(sum(l.ld2) AS BIGINT) AS adc_d2,
               row_number() OVER (PARTITION BY l.query_id
                                  ORDER BY CAST(sum(l.ld2) AS BIGINT),
                                           c.vec_id) AS rank
        FROM {codes} c
        JOIN {prefix}lut l
          ON l.cid = c.cid AND l.m = c.m AND l.code = c.code
        GROUP BY l.query_id, c.vec_id
      )
      WHERE rank <= {k}
    )"""


@query(
    "ivfpq_train_adc_topk",
    materialize_ctes(f"""
    WITH {_TRAIN_CTES},
    qv1 AS (
      SELECT vec_id AS query_id, qv AS qqv FROM q
      ORDER BY vec_id LIMIT 1
    ),
    qset AS (SELECT * FROM qv1),
    {_adc_scan_sql("t", f"cb{_CI}", f"pbt{_SI}", "tcodes", 10)}
    SELECT query_id, vec_id, adc_d2, CAST(rank AS BIGINT) AS rank
    FROM ttop
    ORDER BY rank
    """),
)
def ivfpq_train_adc_topk(spark, sf_dir):
    """ADC top-10 for the deterministic query vector (min vec_id)
    over the LLOYD-TRAINED index (operators/ivfpq_train.py
    adc_search): identical probed-list scan shape as ivfpq_adc_topk —
    broadcast nprobe×M×KS LUT, hash-join over only the probed lists'
    codes — but with k-means-refined coarse centroids and per-subspace
    codebooks, i.e. the index a production deployment actually
    serves. Exact integer end-to-end; the oracle replays training and
    search from scratch."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    q = _quantized(emb, "vec_id")
    qset = q.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    return (
        ivfpq_train.adc_search(qset, cb, pb, codes, 10)
        .orderBy("rank")
    )


# recall floors (basis points out of 10000) set under the weakest
# observed SF — measured seeded/trained: sf0.001 2625/3625, sf0.01
# 2687/3562, sf0.1 2343/3031 — so only a real quantizer regression
# trips them (the ann_ivf_kmeans pin policy); the pipeline is fully
# deterministic per SF, so any flip is a code change, not noise
RECALL_FLOOR_SEEDED_BP = 2000
RECALL_FLOOR_TRAINED_BP = 2800


@query(
    "ivfpq_recall_at5",
    materialize_ctes(f"""
    WITH {_IVFPQ_CTES}, {_train_ctes(include_q=False)},
    {_QSET_SQL},
    {_adc_scan_sql("s", "cb", "pb", "codes", 5)},
    {_adc_scan_sql("t", f"cb{_CI}", f"pbt{_SI}", "tcodes", 5)},
    ex AS (
      SELECT query_id, vec_id FROM (
        SELECT qs.query_id, q.vec_id,
               {_L2.format(dim=_DIM, a="qs.qqv", b="q.qv", off="")} AS d2
        FROM qset qs CROSS JOIN q
        QUALIFY row_number() OVER (PARTITION BY qs.query_id
                                   ORDER BY d2, q.vec_id) <= 5
      )
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM ex),
    hs AS (SELECT CAST(count(*) AS BIGINT) AS hits
           FROM stop JOIN ex USING (query_id, vec_id)),
    ht AS (SELECT CAST(count(*) AS BIGINT) AS hits
           FROM ttop JOIN ex USING (query_id, vec_id))
    SELECT variant, hits, total,
           hits * 10000 // total AS recall_bp,
           hits * 10000 // total >= floor_bp AS recall_ok
    FROM (
      SELECT 'seeded' AS variant, hs.hits, tot.total,
             {RECALL_FLOOR_SEEDED_BP} AS floor_bp FROM hs, tot
      UNION ALL
      SELECT 'trained' AS variant, ht.hits, tot.total,
             {RECALL_FLOOR_TRAINED_BP} AS floor_bp FROM ht, tot
    )
    ORDER BY variant
    """),
)
def ivfpq_recall_at5(spark, sf_dir):
    """Retrieval-quality audit of BOTH index generations, pinned
    in-result (VERDICT r9 task #2): over the deterministic
    {ivfpq.IVFPQ_QBATCH}-query batch, recall@5 of the seeded and the
    Lloyd-trained IVF-PQ ADC scans against the EXACT integer top-5
    (the bounded-batch tiled shape: corpus × batch, map-side top-k —
    never corpus × corpus). hits/total are exact BIGINTs the oracle
    recomputes from scratch; recall_ok compares against fixed floors
    so a quantizer regression flips a driver-checked value. Trained
    recall exceeding seeded is additionally asserted in
    tests/test_ivfpq_train.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _quantized(emb, "vec_id")
    qset = (
        q.select(
            "vec_id",
            "qv",
            F.md5(
                F.concat(F.col("vec_id").cast("string"),
                         F.lit(ivfpq.QUERY_TAG))
            ).alias("sk"),
        )
        .orderBy("sk", "vec_id")
        .limit(ivfpq.IVFPQ_QBATCH)
        .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv"))
    )
    ew = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    exact = (
        q.crossJoin(F.broadcast(qset))
        .withColumn("d2", F.expr(_FULL_D2.format(a="qv", b="qqv")))
        .withColumn("r", F.row_number().over(ew))
        .filter(F.col("r") <= 5)
        .select("query_id", "vec_id")
    )
    seeded = ivfpq.ivfpq_adc_batch(emb, 5).select("query_id", "vec_id")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    trained = ivfpq_train.adc_search(qset, cb, pb, codes, 5).select(
        "query_id", "vec_id"
    )

    def stats(df, name, floor_bp):
        hits = df.join(F.broadcast(exact), ["query_id", "vec_id"], "left_semi").agg(
            F.count("*").cast("bigint").alias("hits")
        )
        tot = exact.agg(F.count("*").cast("bigint").alias("total"))
        return hits.crossJoin(tot).select(
            F.lit(name).alias("variant"),
            "hits",
            "total",
            F.expr("hits * 10000 div total").alias("recall_bp"),
            F.expr(f"hits * 10000 div total >= {floor_bp}").alias(
                "recall_ok"
            ),
        )

    return (
        stats(seeded, "seeded", RECALL_FLOOR_SEEDED_BP)
        .unionAll(stats(trained, "trained", RECALL_FLOOR_TRAINED_BP))
        .orderBy("variant")
    )


# incremental ingest split (the queries/ivfpq_q.py predicate pair):
# the base slice trains the books, the arriving slice encodes frozen
_BASE_PRED = "vec_id % 8 <> 0"
_ARRIVING_PRED = "vec_id % 8 = 0"


@query(
    "ivfpq_train_incremental",
    materialize_ctes(f"""
    WITH {_train_ctes_split(_BASE_PRED, _ARRIVING_PRED)}
    SELECT vec_id,
           CAST(any_value(cid) AS BIGINT) AS cid,
           CAST(sum(CAST(code AS BIGINT) * (CAST(1 AS BIGINT) << (4 * m)))
                AS BIGINT) AS pq_code,
           CAST(sum(d2) AS BIGINT) AS distortion
    FROM ecodes
    GROUP BY vec_id
    ORDER BY vec_id
    """),
)
def ivfpq_train_incremental(spark, sf_dir):
    """The production index LIFECYCLE: Lloyd-TRAIN the codebooks on
    the base slice ({_BASE_PRED}), freeze them, and encode the
    arriving slice ({_ARRIVING_PRED}) against them — the trained
    upgrade of ivfpq_incremental_encode (seeded books). Per-batch
    work stays |batch| × (KC + KS) regardless of corpus size, no
    previously assigned code ever changes, and training cost
    amortizes across every future batch. Output: packed codes of the
    arriving batch only."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.expr(_BASE_PRED))
    arriving = emb.filter(F.expr(_ARRIVING_PRED))
    cb, pb, _ = ivfpq_train.trained_books(base)
    _, packed = ivfpq.encode_against_books(arriving, cb, pb)
    return packed.select(
        "vec_id",
        F.col("cid").cast("long").alias("cid"),
        "pq_code",
        "distortion",
    ).orderBy("vec_id")


# the nprobe ladder for the recall/cost curve: 1 → KC (full scan);
# recall rises with nprobe while scan cost grows ∝ nprobe/KC — the
# quality/cost knob a deployment tunes before fixing its SLO
NPROBE_LADDER = (1, 2, 4, ivfpq.IVFPQ_KC)


def _nprobe_curve_sql() -> str:
    scans = ",".join(
        _adc_scan_sql(f"n{np}", f"cb{_CI}", f"pbt{_SI}", "tcodes", 5,
                      nprobe=np)
        for np in NPROBE_LADDER
    )
    hits = ",".join(
        f"""h{np} AS (SELECT CAST(count(*) AS BIGINT) AS hits
           FROM n{np}top JOIN ex USING (query_id, vec_id))"""
        for np in NPROBE_LADDER
    )
    rows = " UNION ALL ".join(
        f"SELECT {np} AS nprobe, h{np}.hits, tot.total FROM h{np}, tot"
        for np in NPROBE_LADDER
    )
    return f"""
    WITH {_TRAIN_CTES},
    {_QSET_SQL},
    {scans},
    ex AS (
      SELECT query_id, vec_id FROM (
        SELECT qs.query_id, q.vec_id,
               {_L2.format(dim=_DIM, a="qs.qqv", b="q.qv", off="")} AS d2
        FROM qset qs CROSS JOIN q
        QUALIFY row_number() OVER (PARTITION BY qs.query_id
                                   ORDER BY d2, q.vec_id) <= 5
      )
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM ex),
    {hits}
    SELECT CAST(nprobe AS BIGINT) AS nprobe, hits, total,
           hits * 10000 // total AS recall_bp
    FROM ({rows})
    ORDER BY nprobe
    """


def _qset_df(q):
    """The deterministic {ivfpq.IVFPQ_QBATCH}-query serving batch
    (md5-rank pick, the seed shape) as (query_id, qqv)."""
    return (
        q.select(
            "vec_id",
            "qv",
            F.md5(
                F.concat(F.col("vec_id").cast("string"),
                         F.lit(ivfpq.QUERY_TAG))
            ).alias("sk"),
        )
        .orderBy("sk", "vec_id")
        .limit(ivfpq.IVFPQ_QBATCH)
        .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv"))
    )


def _exact_top5(q, qset):
    """Exact integer ground-truth top-5 per query — the bounded-batch
    tiled shape (corpus × batch broadcast, map-side top-k), eagerly
    checkpointed because every recall rung re-joins it."""
    ew = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    return (
        q.crossJoin(F.broadcast(qset))
        .withColumn("d2", F.expr(_FULL_D2.format(a="qv", b="qqv")))
        .withColumn("r", F.row_number().over(ew))
        .filter(F.col("r") <= 5)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )


@query("ivfpq_nprobe_curve", materialize_ctes(_nprobe_curve_sql()))
def ivfpq_nprobe_curve(spark, sf_dir):
    """The recall-vs-nprobe curve of the TRAINED index — the
    quality/cost sweep a production deployment runs to pick its
    operating point: over the deterministic {ivfpq.IVFPQ_QBATCH}-query
    batch, exact recall@5 vs the exact integer top-5 at nprobe ∈
    {NPROBE_LADDER} (nprobe = KC = the full scan, whose residual gap
    from 100%% is pure PQ quantization error — the curve separates
    the two loss sources). Scan cost grows ∝ nprobe/KC while the LUT
    stays batch-bounded, so each ladder rung is the same plan with a
    different probe filter.

    Honest curve shape (measured sf0.001: 3125 -> 3625 -> 3656 ->
    3593 bp): recall is NOT strictly monotone in nprobe — coverage
    gains dominate early, but every extra probed list also adds
    ADC-quantization-noisy candidates that can displace true
    neighbors from the top-5 (the classic IVF-PQ coverage-vs-ADC-
    error tradeoff; FAISS curves show the same flattening). The test
    pins the coverage-dominated leg (nprobe 1 -> 2 strictly
    improves) and a bounded wobble thereafter."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    q = _quantized(emb, "vec_id")
    qset = (
        q.select(
            "vec_id",
            "qv",
            F.md5(
                F.concat(F.col("vec_id").cast("string"),
                         F.lit(ivfpq.QUERY_TAG))
            ).alias("sk"),
        )
        .orderBy("sk", "vec_id")
        .limit(ivfpq.IVFPQ_QBATCH)
        .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv"))
    )
    ew = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    exact = (
        q.crossJoin(F.broadcast(qset))
        .withColumn("d2", F.expr(_FULL_D2.format(a="qv", b="qqv")))
        .withColumn("r", F.row_number().over(ew))
        .filter(F.col("r") <= 5)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    tot = exact.agg(F.count("*").cast("bigint").alias("total"))
    out = None
    for np in NPROBE_LADDER:
        top = ivfpq_train.adc_search(qset, cb, pb, codes, 5, nprobe=np)
        hits = (
            top.select("query_id", "vec_id")
            .join(F.broadcast(exact), ["query_id", "vec_id"], "left_semi")
            .agg(F.count("*").cast("bigint").alias("hits"))
        )
        row = hits.crossJoin(F.broadcast(tot)).select(
            F.lit(np).cast("bigint").alias("nprobe"),
            "hits",
            "total",
            F.expr("hits * 10000 div total").alias("recall_bp"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("nprobe")


# ---------------------------------------------------------------------
# Exact re-rank after ADC retrieval (VERDICT r10 task #1) — the FAISS
# IndexRefineFlat pattern: the nprobe curve proved recall@5 saturates
# at ~31% from pure PQ quantization error, and the production fix is
# to ADC-retrieve R > k candidates and re-rank them by EXACT distance
# against the original vectors. The candidate ladder derives from ONE
# ADC scan at R_max (smaller-R candidate sets are exact prefixes of
# the ADC ranking), so each rung is a filter, not a rescan.

REFINE_LADDER = (5, 10, 20, 40)
_RMAX = max(REFINE_LADDER)

_EXACT_QD2 = _L2.format(dim=_DIM, a="qs.qqv", b="q.qv", off="")

_EX_SQL = f"""ex AS (
      SELECT query_id, vec_id FROM (
        SELECT qs.query_id, q.vec_id,
               {_L2.format(dim=_DIM, a="qs.qqv", b="q.qv", off="")} AS d2
        FROM qset qs CROSS JOIN q
        QUALIFY row_number() OVER (PARTITION BY qs.query_id
                                   ORDER BY d2, q.vec_id) <= 5
      )
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM ex)"""


# shared with the r21 streaming serving twin (queries/streaming_mm.py)
# — frozen state makes the stream equal this batch result bit-for-bit
RERANK_TOPK_SQL = f"""
    WITH {_TRAIN_CTES},
    {_QSET_SQL},
    {_adc_scan_sql("c", f"cb{_CI}", f"pbt{_SI}", "tcodes",
                   ivfpq_train.REFINE_R)},
    rr AS (
      SELECT t.query_id, t.vec_id, {_EXACT_QD2} AS exact_d2
      FROM ctop t
      JOIN q ON q.vec_id = t.vec_id
      JOIN qset qs ON qs.query_id = t.query_id
    )
    SELECT query_id, vec_id, exact_d2, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, vec_id, exact_d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY exact_d2, vec_id) AS rank
      FROM rr
    )
    WHERE rank <= 5
    ORDER BY query_id, rank
    """


@query("ivfpq_rerank_topk", materialize_ctes(RERANK_TOPK_SQL))
def ivfpq_rerank_topk(spark, sf_dir):
    """Refined serving top-5 for the deterministic
    {ivfpq.IVFPQ_QBATCH}-query batch over the TRAINED index: ADC
    retrieves {ivfpq_train.REFINE_R} candidates per query from the
    probed lists, the candidates (batch-bounded — |batch| × R rows,
    never a corpus shuffle) equi-join back to the original quantized
    vectors, and the final top-5 ranks by EXACT integer L2
    (operators/ivfpq_train.py rerank_exact — the FAISS
    IndexRefineFlat production pattern). Exact end-to-end; the oracle
    replays training, retrieval, and the refine join from scratch."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    q = _quantized(emb, "vec_id")
    return ivfpq_train.rerank_exact(
        _qset_df(q), cb, pb, codes, q, 5
    ).orderBy("query_id", "rank")


def _rerank_recall_sql() -> str:
    hits = ",".join(
        f"""h{r} AS (
      SELECT CAST(count(*) AS BIGINT) AS hits FROM (
        SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY exact_d2, vec_id) AS rk
          FROM rr WHERE adc_rank <= {r}
        ) WHERE rk <= 5
      ) t JOIN ex USING (query_id, vec_id)
    )"""
        for r in REFINE_LADDER
    )
    rows = " UNION ALL ".join(
        f"SELECT {r} AS r_candidates, h{r}.hits, tot.total,"
        f" b.hits AS base_hits"
        f" FROM h{r}, tot, h{REFINE_LADDER[0]} AS b"
        for r in REFINE_LADDER
    )
    return f"""
    WITH {_TRAIN_CTES},
    {_QSET_SQL},
    {_adc_scan_sql("c", f"cb{_CI}", f"pbt{_SI}", "tcodes", _RMAX)},
    {_EX_SQL},
    rr AS (
      SELECT t.query_id, t.vec_id, t.rank AS adc_rank,
             {_EXACT_QD2} AS exact_d2
      FROM ctop t
      JOIN q ON q.vec_id = t.vec_id
      JOIN qset qs ON qs.query_id = t.query_id
    ),
    {hits}
    SELECT CAST(r_candidates AS BIGINT) AS r_candidates, hits, total,
           hits * 10000 // total AS recall_bp,
           (hits - base_hits) * 10000 // total AS lift_from_adc_bp
    FROM ({rows})
    ORDER BY r_candidates
    """


@query("ivfpq_rerank_recall", materialize_ctes(_rerank_recall_sql()))
def ivfpq_rerank_recall(spark, sf_dir):
    """Recall@5 vs refine fan-out R — the lift the exact re-rank
    stage buys over plain ADC, carried in-result (VERDICT r10 task
    #1): for R ∈ {REFINE_LADDER}, ADC-retrieve R candidates (ONE scan
    at R_max; smaller rungs are rank-prefix filters of the same
    ranking), exact-re-rank to top-5, and measure exact recall@5
    against the integer ground truth. The R=5 rung re-ranks exactly
    the ADC top-5 set, so its recall equals ivfpq_recall_at5's
    trained row and lift_from_adc_bp is 0 there by construction;
    growing R weakly increases hits (a candidate that displaces a
    true neighbor from the exact-rerank top-5 must itself be a true
    neighbor), pinned in tests/test_ivfpq_train.py along with a
    strictly positive lift at R_max."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    q = _quantized(emb, "vec_id")
    qset = _qset_df(q)
    exact = _exact_top5(q, qset)
    tot = exact.agg(F.count("*").cast("bigint").alias("total"))
    cand = ivfpq_train.adc_search(qset, cb, pb, codes, _RMAX)
    withq = cand.join(F.broadcast(qset), "query_id").select(
        "query_id", "vec_id", F.col("rank").alias("adc_rank"), "qqv"
    )
    rr = (
        q.join(F.broadcast(withq), "vec_id")
        .withColumn("exact_d2", F.expr(_FULL_D2.format(a="qv", b="qqv")))
        .select("query_id", "vec_id", "adc_rank", "exact_d2")
        .localCheckpoint(eager=True)
    )
    rw = Window.partitionBy("query_id").orderBy("exact_d2", "vec_id")

    def hits_for(r):
        top5 = (
            rr.filter(F.col("adc_rank") <= r)
            .withColumn("rk", F.row_number().over(rw))
            .filter(F.col("rk") <= 5)
            .select("query_id", "vec_id")
        )
        return top5.join(F.broadcast(exact), ["query_id", "vec_id"], "left_semi").agg(
            F.count("*").cast("bigint").alias("hits")
        )

    base = hits_for(REFINE_LADDER[0]).select(
        F.col("hits").alias("base_hits")
    )
    out = None
    for r in REFINE_LADDER:
        row = (
            hits_for(r)
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(base))
            .select(
                F.lit(r).cast("bigint").alias("r_candidates"),
                "hits",
                "total",
                F.expr("hits * 10000 div total").alias("recall_bp"),
                F.expr("(hits - base_hits) * 10000 div total").alias(
                    "lift_from_adc_bp"
                ),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("r_candidates")


# ---------------------------------------------------------------------
# OPQ-style subspace re-balancing (VERDICT r10 task #5; Ge et al.
# 2013): FAISS's default recall lever after training is a rotation
# that balances per-subspace variance before PQ. An exact-integer
# orthogonal rotation is not oracle-replayable, so this is the
# permutation reduction — rank residual dims by exact
# squared-deviation mass and deal them round-robin into the M
# subspaces — measured head-to-head against the unpermuted trained
# index on BOTH axes (encode distortion, recall@5). The coarse stage
# is permutation-equivariant (full-vector L2 and md5 seeds are
# coordinate-order-free), so only the per-subspace training, encode,
# and LUT re-run on permuted coordinates.

import re as _re


def _perm_rename(sql: str) -> str:
    """Prefix the per-subspace-chain CTE names with ``p`` so the
    permuted twin coexists with the plain chain in one statement."""
    return _re.sub(
        r"\b(trv|pbt|sasg|sst|snew)", lambda m: "p" + m.group(1), sql
    )


def _permute_gain_sql() -> str:
    fd = _FDIV.format(s="s1", n="n")
    d2s = _L2.format(
        dim=PQ_SUB, a="rv.rqv", b="p.pcqv", off=f"mm.m * {PQ_SUB} + "
    )
    pctes = f"""vstat AS (
      SELECT u.j, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rv.rqv[u.j]) AS BIGINT) AS s1,
             CAST(sum(rv.rqv[u.j] * rv.rqv[u.j]) AS BIGINT) AS s2
      FROM trv rv, unnest(generate_series(1, {_DIM})) AS u(j)
      GROUP BY u.j
    ),
    vdev AS (
      SELECT j, s2 - 2 * {fd} * s1 + n * {fd} * {fd} AS d FROM vstat
    ),
    perm AS (
      SELECT j AS old_pos,
             row_number() OVER (ORDER BY d DESC, j) - 1 AS rnk
      FROM vdev
    ),
    pmap AS (
      SELECT old_pos,
             (rnk % {PQ_M}) * {PQ_SUB} + (rnk // {PQ_M}) + 1 AS new_pos
      FROM perm
    ),
    parr AS (SELECT list(old_pos ORDER BY new_pos) AS po FROM pmap),
    ptrv AS (
      SELECT t.vec_id, t.cid,
             list_transform(generate_series(1, {_DIM}),
                            i -> t.rqv[p.po[i]]) AS rqv
      FROM trv t CROSS JOIN parr p
    ),
    ppbt0 AS (
      SELECT b.k,
             list_transform(generate_series(1, {_DIM}),
                            i -> b.pcqv[p.po[i]]) AS pcqv
      FROM pbt0 b CROSS JOIN parr p
    ),
    pqset AS (
      SELECT qs.query_id,
             list_transform(generate_series(1, {_DIM}),
                            i -> qs.qqv[p.po[i]]) AS qqv
      FROM qset qs CROSS JOIN parr p
    ),
    pcb AS (
      SELECT b.c,
             list_transform(generate_series(1, {_DIM}),
                            i -> b.ccqv[p.po[i]]) AS ccqv
      FROM cb{_CI} b CROSS JOIN parr p
    )"""
    psub = ",".join(
        _perm_rename(_sub_iter_sql(t)) for t in range(1, _SI + 1)
    )
    ptail = f"""ptsub AS (
      SELECT rv.vec_id, rv.cid, p.k, mm.m, {d2s} AS d2
      FROM ptrv rv CROSS JOIN ppbt{_SI} p
      CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm
    ),
    ptcodes AS (
      SELECT vec_id, cid, m, k AS code, d2
      FROM ptsub
      QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2, k) = 1
    )"""
    return f"""
    WITH {_TRAIN_CTES},
    {_QSET_SQL},
    {pctes},
    {psub},
    {ptail},
    {_adc_scan_sql("s", f"cb{_CI}", f"pbt{_SI}", "tcodes", 5)},
    {_adc_scan_sql("pp", "pcb", f"ppbt{_SI}", "ptcodes", 5,
                   qset="pqset")},
    {_EX_SQL},
    hplain AS (SELECT CAST(count(*) AS BIGINT) AS hits
               FROM stop JOIN ex USING (query_id, vec_id)),
    hperm AS (SELECT CAST(count(*) AS BIGINT) AS hits
              FROM pptop JOIN ex USING (query_id, vec_id))
    SELECT variant, distortion, hits, total,
           hits * 10000 // total AS recall_bp
    FROM (
      SELECT 'trained' AS variant,
             (SELECT CAST(sum(d2) AS BIGINT) FROM tcodes) AS distortion,
             hplain.hits, tot.total FROM hplain, tot
      UNION ALL
      SELECT 'trained_permuted' AS variant,
             (SELECT CAST(sum(d2) AS BIGINT) FROM ptcodes) AS distortion,
             hperm.hits, tot.total FROM hperm, tot
    )
    ORDER BY variant
    """


@query("ivfpq_permute_gain", materialize_ctes(_permute_gain_sql()))
def ivfpq_permute_gain(spark, sf_dir):
    """Variance-balanced subspace permutation vs the plain trained
    index, both axes pinned in-result (VERDICT r10 task #5): encode
    distortion and exact recall@5 of the trained index BEFORE and
    AFTER dealing residual dims round-robin by variance into the M
    subspaces (operators/ivfpq_train.py variance_permutation — the
    oracle-replayable reduction of Ge 2013's OPQ rotation; the
    permutation is a literal projection, the coarse stage is
    permutation-equivariant and reused, and only the per-subspace
    Lloyd refits run on permuted coordinates). The measured delta —
    improvement OR an honest negative result — is the deliverable.

    Measured verdict: NEGATIVE on this corpus. Distortion improves
    marginally (−0.35%/−0.03%/−0.01% at sf0.001/0.01/0.1) but
    recall@5 drops at every SF (3625→3406, 3562→3406, 3031→2750 bp):
    the synthetic embeddings draw every dim i.i.d. from one
    distribution, so per-dim variance is near-uniform, the
    round-robin deal only reshuffles tie-level structure, and the
    tiny quantization gain does not survive into retrieval. OPQ's
    win requires anisotropic variance (real embeddings concentrate
    mass in leading PCA dims); on an isotropic corpus the honest
    recommendation is to SKIP the rotation stage — exactly what this
    pinned result documents. Direction is pinned per-SF in
    tests/test_ivfpq_train.py (deterministic pipeline ⇒ any flip is
    a code change)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, packed = _encode_resid(resid, pb)
    po = ivfpq_train.variance_permutation(resid)
    presid = resid.select(
        "vec_id", "cid", ivfpq_train.permute_arr("rqv", po).alias("rqv")
    )
    from etl_mp_transactions_spark.operators.ivfpq import residual_books

    ppb = ivfpq_train.lloyd_refine_sub(presid, residual_books(presid))
    pcodes, ppacked = _encode_resid(presid, ppb)
    q = _quantized(emb, "vec_id")
    qset = _qset_df(q)
    exact = _exact_top5(q, qset)
    tot = exact.agg(F.count("*").cast("bigint").alias("total"))
    qset_p = qset.select(
        "query_id", ivfpq_train.permute_arr("qqv", po).alias("qqv")
    )
    cb_p = cb.select(
        "c", ivfpq_train.permute_arr("ccqv", po).alias("ccqv")
    )

    def variant(name, packed_df, top):
        dist = packed_df.agg(
            F.sum("distortion").cast("bigint").alias("distortion")
        )
        hits = (
            top.select("query_id", "vec_id")
            .join(F.broadcast(exact), ["query_id", "vec_id"], "left_semi")
            .agg(F.count("*").cast("bigint").alias("hits"))
        )
        return (
            dist.crossJoin(hits)
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(name).alias("variant"),
                "distortion",
                "hits",
                "total",
                F.expr("hits * 10000 div total").alias("recall_bp"),
            )
        )

    plain_top = ivfpq_train.adc_search(qset, cb, pb, codes, 5)
    perm_top = ivfpq_train.adc_search(qset_p, cb_p, ppb, pcodes, 5)
    return (
        variant("trained", packed, plain_top)
        .unionAll(variant("trained_permuted", ppacked, perm_top))
        .orderBy("variant")
    )


# ---------------------------------------------------------------------
# Metadata-FILTERED ANN (r11 continuation) — the FAISS IDSelector /
# vector-DB "filtered search" capability: top-k restricted to corpus
# vectors sharing the query's label (the tenant/category filter
# shape). The filter rides the ADC hash join as one more equi-key
# (operators/ivfpq_train.py adc_search_filtered) — never a
# post-filter — and at 100 TB a label-partitioned codes table turns
# the same plan into partition pruning.

_LAB_CTES = f"""lab AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
    ),
    qsetl AS (
      SELECT qs.query_id, qs.qqv, l.label
      FROM qset qs JOIN lab l ON l.vec_id = qs.query_id
    ),
    lcodes AS (
      SELECT c.vec_id, c.cid, c.m, c.code, c.d2, l.label
      FROM tcodes c JOIN lab l USING (vec_id)
    )"""


def _adc_scan_filtered_sql(prefix: str, cb: str, k: int,
                           nprobe: int = ivfpq.IVFPQ_NPROBE) -> str:
    """Filtered batch ADC scan against qsetl/lcodes: probe and LUT
    carry the query's target label; the code scan adds the label
    equi-condition."""
    d2c = _L2.format(dim=_DIM, a="qs.qqv", b="b.ccqv", off="")
    return f"""{prefix}probe AS (
      SELECT query_id, label, c AS cid, qqv, ccqv FROM (
        SELECT qs.query_id, qs.label, b.c, qs.qqv, b.ccqv, {d2c} AS cd2
        FROM qsetl qs CROSS JOIN {cb} b
        QUALIFY row_number() OVER (PARTITION BY qs.query_id
                                   ORDER BY cd2, b.c)
                <= {nprobe}
      )
    ),
    {prefix}lut AS (
      SELECT p.query_id, p.label, p.cid, pp.k AS code, mm.m,
             CAST(list_sum(list_transform(
               generate_series(1, {PQ_SUB}),
               j -> ((p.qqv[mm.m * {PQ_SUB} + j]
                      - p.ccqv[mm.m * {PQ_SUB} + j])
                     - pp.pcqv[mm.m * {PQ_SUB} + j])
                  * ((p.qqv[mm.m * {PQ_SUB} + j]
                      - p.ccqv[mm.m * {PQ_SUB} + j])
                     - pp.pcqv[mm.m * {PQ_SUB} + j]))) AS BIGINT) AS ld2
      FROM {prefix}probe p CROSS JOIN pbt{_SI} pp
      CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm
    ),
    {prefix}top AS (
      SELECT query_id, vec_id, adc_d2, rank FROM (
        SELECT l.query_id, c.vec_id,
               CAST(sum(l.ld2) AS BIGINT) AS adc_d2,
               row_number() OVER (PARTITION BY l.query_id
                                  ORDER BY CAST(sum(l.ld2) AS BIGINT),
                                           c.vec_id) AS rank
        FROM lcodes c
        JOIN {prefix}lut l
          ON l.cid = c.cid AND l.m = c.m AND l.code = c.code
         AND l.label = c.label
        GROUP BY l.query_id, c.vec_id
      )
      WHERE rank <= {k}
    )"""


def _filtered_qset(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = _quantized(emb, "vec_id")
    labels = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").cast("long").alias("label"),
    )
    # broadcast the 64-row query batch, never the corpus-sized label
    # frame (ADVICE r11): the labels side stays partitioned and the
    # join reduces it to the batch
    return labels.join(F.broadcast(_qset_df(q)), "query_id")


@query(
    "ivfpq_filtered_topk",
    materialize_ctes(f"""
    WITH {_TRAIN_CTES},
    {_QSET_SQL},
    {_LAB_CTES},
    {_adc_scan_filtered_sql("f", f"cb{_CI}", 5)}
    SELECT query_id, vec_id, adc_d2, CAST(rank AS BIGINT) AS rank
    FROM ftop
    ORDER BY query_id, rank
    """),
)
def ivfpq_filtered_topk(spark, sf_dir):
    """Label-FILTERED ADC top-5 for the deterministic 64-query batch
    over the TRAINED index (module comment): each query retrieves
    only among corpus vectors sharing its label — the
    tenant/category-scoped search every production vector deployment
    serves. The predicate is an equi-key of the ADC hash join (never
    a post-filter); with ~10 labels the scan touches ~10% of the
    probed lists' codes. ≤5 rows per query by construction (fewer
    when the probed lists hold fewer same-label vectors). Exact
    integer end-to-end; the oracle replays training, labeling, and
    the filtered scan from scratch."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    lcodes = codes.join(
        emb.select(
            "vec_id", F.col("label").cast("long").alias("label")
        ),
        "vec_id",
    )
    return ivfpq_train.adc_search_filtered(
        _filtered_qset(spark, sf_dir), cb, pb, lcodes, 5
    ).orderBy("query_id", "rank")


@query(
    "ivfpq_filtered_recall",
    materialize_ctes(f"""
    WITH {_TRAIN_CTES},
    {_QSET_SQL},
    {_LAB_CTES},
    {_adc_scan_filtered_sql("f", f"cb{_CI}", 5)},
    fex AS (
      SELECT query_id, vec_id FROM (
        SELECT qs.query_id, q.vec_id,
               {_L2.format(dim=_DIM, a="qs.qqv", b="q.qv", off="")} AS d2
        FROM qsetl qs
        JOIN lab l ON TRUE
        JOIN q ON q.vec_id = l.vec_id AND l.label = qs.label
        QUALIFY row_number() OVER (PARTITION BY qs.query_id
                                   ORDER BY d2, q.vec_id) <= 5
      )
    ),
    ftot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM fex),
    fh AS (SELECT CAST(count(*) AS BIGINT) AS hits
           FROM ftop JOIN fex USING (query_id, vec_id))
    SELECT fh.hits, ftot.total,
           fh.hits * 10000 // ftot.total AS recall_bp
    FROM fh, ftot
    """),
)
def ivfpq_filtered_recall(spark, sf_dir):
    """Recall@5 of the label-filtered ADC scan against the
    label-filtered EXACT top-5 (ground truth restricted to the same
    predicate — the honest reference for filtered search): exact
    BIGINT hits/total the oracle recomputes from scratch. The
    filtered exact reference stays batch-bounded (corpus × 64 with
    the label equi-join, map-side top-k)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    labels = emb.select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    lcodes = codes.join(labels, "vec_id")
    qsetl = _filtered_qset(spark, sf_dir)
    q = _quantized(emb, "vec_id")
    ew = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    fex = (
        q.join(labels, "vec_id")
        .join(
            F.broadcast(
                qsetl.select("query_id", "qqv", "label")
            ),
            "label",
        )
        .withColumn("d2", F.expr(_FULL_D2.format(a="qv", b="qqv")))
        .withColumn("r", F.row_number().over(ew))
        .filter(F.col("r") <= 5)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    ftot = fex.agg(F.count("*").cast("bigint").alias("total"))
    ftop = ivfpq_train.adc_search_filtered(qsetl, cb, pb, lcodes, 5)
    fh = (
        ftop.select("query_id", "vec_id")
        .join(F.broadcast(fex), ["query_id", "vec_id"], "left_semi")
        .agg(F.count("*").cast("bigint").alias("hits"))
    )
    return fh.crossJoin(F.broadcast(ftot)).select(
        "hits",
        "total",
        F.expr("hits * 10000 div total").alias("recall_bp"),
    )


# ---------------------------------------------------------------------
# Index-artifact lifecycle (r11 continuation): a production index is
# a WRITTEN ARTIFACT — books + packed codes persisted once, loaded by
# every serving replica. This query proves the stored form is
# sufficient: it writes exactly (c, ccqv), (k, pcqv), and the packed
# (vec_id, cid, pq_code) rows — the 32-bits-plus-a-list-id contract —
# loads them back in a fresh plan, UNPACKS the nibbles in-scan, and
# serves the deterministic query from the loaded artifact. Same
# oracle as ivfpq_train_adc_topk: the round trip must be invisible.

_TRAIN_TOPK_SQL = f"""
    WITH {_TRAIN_CTES},
    qv1 AS (
      SELECT vec_id AS query_id, qv AS qqv FROM q
      ORDER BY vec_id LIMIT 1
    ),
    qset AS (SELECT * FROM qv1),
    {_adc_scan_sql("t", f"cb{_CI}", f"pbt{_SI}", "tcodes", 10)}
    SELECT query_id, vec_id, adc_d2, CAST(rank AS BIGINT) AS rank
    FROM ttop
    ORDER BY rank
    """


@query("ivfpq_index_roundtrip", materialize_ctes(_TRAIN_TOPK_SQL))
def ivfpq_index_roundtrip(spark, sf_dir):
    """Serve from the LOADED index artifact (module comment): train,
    encode, persist the deployable index (coarse books, PQ books,
    packed 32-bit codes — nothing else), load it back in a fresh
    serving plan, unpack the code nibbles in-scan
    (shiftright(pq_code, 4m) & 15 — exact inverse of the little-
    endian encode pack), and run the deterministic query's ADC
    top-10 from the loaded artifact. Must equal serving from the
    in-session index bit for bit — same oracle as
    ivfpq_train_adc_topk; equality also pinned directly in
    tests/test_ivfpq_train.py."""
    import os

    from etl_mp_transactions_spark.workdirs import run_dir

    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    _, packed = _encode_resid(resid, pb)
    work = run_dir("ivfpq_index")
    cb.write.mode("overwrite").parquet(os.path.join(work, "coarse"))
    pb.write.mode("overwrite").parquet(os.path.join(work, "pq"))
    packed.select("vec_id", "cid", "pq_code").write.mode(
        "overwrite"
    ).parquet(os.path.join(work, "codes"))
    lcb = spark.read.parquet(os.path.join(work, "coarse"))
    lpb = spark.read.parquet(os.path.join(work, "pq"))
    unpacked = (
        spark.read.parquet(os.path.join(work, "codes"))
        .select(
            "vec_id",
            "cid",
            F.explode(
                F.sequence(F.lit(0), F.lit(PQ_M - 1))
            ).alias("m"),
            "pq_code",
        )
        .select(
            "vec_id",
            "cid",
            "m",
            F.expr(
                "cast(shiftright(pq_code, 4 * m) & 15 as int)"
            ).alias("code"),
        )
    )
    q = _quantized(emb, "vec_id")
    qset = q.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    return ivfpq_train.adc_search(qset, lcb, lpb, unpacked, 10).orderBy(
        "rank"
    )


# ---------------------------------------------------------------------
# Operating-point selection (r11 continuation): a deployment doesn't
# ship the recall-vs-nprobe curve — it ships the OPERATING POINT the
# curve implies for its recall SLO. This query automates that pick:
# smallest nprobe whose measured recall@5 meets the SLO (scan cost
# grows ∝ nprobe/KC, so smallest-meeting is cheapest-meeting); if no
# rung meets it, fall back to the best-recall rung with
# meets_slo=false — the honest "SLO unreachable at this quantization"
# verdict.

NPROBE_SLO_BP = 3000  # target recall@5


def _nprobe_slo_sql() -> str:
    base = _nprobe_curve_sql()
    return f"""
    WITH curve AS ({base}),
    pick AS (
      SELECT nprobe, recall_bp,
             CASE WHEN recall_bp >= {NPROBE_SLO_BP} THEN 0 ELSE 1 END
               AS miss
      FROM curve
    )
    SELECT nprobe AS chosen_nprobe, recall_bp,
           nprobe * 10000 // {ivfpq.IVFPQ_KC} AS scan_cost_bp,
           miss = 0 AS meets_slo
    FROM pick
    QUALIFY row_number() OVER (
      ORDER BY miss,
               CASE WHEN miss = 0 THEN nprobe
                    ELSE 10000 - recall_bp END,
               nprobe
    ) = 1
    """


@query("ivfpq_nprobe_slo", materialize_ctes(_nprobe_slo_sql()))
def ivfpq_nprobe_slo(spark, sf_dir):
    """Auto-tuned nprobe operating point for a recall@5 SLO of
    {NPROBE_SLO_BP} bp (module comment): measure the trained index's
    recall at every ladder rung (the ivfpq_nprobe_curve sweep),
    choose the SMALLEST nprobe meeting the SLO — the cheapest
    compliant scan, cost ∝ nprobe/KC carried in-result as
    scan_cost_bp — or the best-recall rung with meets_slo=false when
    the SLO is quantization-unreachable. Corpus-dependent by design:
    the pick tightens or widens per corpus exactly as a production
    tuner would (argmin with shared tiebreak text in both engines)."""
    curve = ivfpq_nprobe_curve(spark, sf_dir)
    pick = curve.select(
        "nprobe",
        "recall_bp",
        F.when(F.col("recall_bp") >= NPROBE_SLO_BP, 0)
        .otherwise(1)
        .alias("miss"),
    )
    key = F.when(F.col("miss") == 0, F.col("nprobe")).otherwise(
        10000 - F.col("recall_bp")
    )
    return (
        pick.orderBy("miss", key, "nprobe")
        .limit(1)
        .select(
            F.col("nprobe").alias("chosen_nprobe"),
            "recall_bp",
            F.expr(f"nprobe * 10000 div {ivfpq.IVFPQ_KC}").alias(
                "scan_cost_bp"
            ),
            (F.col("miss") == 0).alias("meets_slo"),
        )
    )


# ---------------------------------------------------------------------
# The COMPLETE production serving path (r11 final wave): metadata
# filter + ADC retrieve + exact refine in one query plan — what a
# tenant-scoped vector search actually executes per request — plus
# the refine-fan-out auto-tuner, symmetric to ivfpq_nprobe_slo: both
# quality knobs (how many lists to probe, how many candidates to
# refine) now select their operating point from measured curves.


@query(
    "ivfpq_filtered_rerank_topk",
    materialize_ctes(f"""
    WITH {_TRAIN_CTES},
    {_QSET_SQL},
    {_LAB_CTES},
    {_adc_scan_filtered_sql("c", f"cb{_CI}", ivfpq_train.REFINE_R)},
    rr AS (
      SELECT t.query_id, t.vec_id, {_EXACT_QD2} AS exact_d2
      FROM ctop t
      JOIN q ON q.vec_id = t.vec_id
      JOIN qset qs ON qs.query_id = t.query_id
    )
    SELECT query_id, vec_id, exact_d2, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, vec_id, exact_d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY exact_d2, vec_id) AS rank
      FROM rr
    )
    WHERE rank <= 5
    ORDER BY query_id, rank
    """),
)
def ivfpq_filtered_rerank_topk(spark, sf_dir):
    """Filtered + refined serving: per query, ADC-retrieve
    {ivfpq_train.REFINE_R} candidates AMONG same-label vectors (the
    filter an equi-key of the scan join), then exact-re-rank the
    batch-bounded candidates against the original vectors to the
    final top-5 — the full per-request path of a tenant-scoped
    production vector search (filter ∘ retrieve ∘ refine composed in
    ONE plan; every stage reused from its standalone query). Exact
    integer end-to-end, same refine kernel as ivfpq_rerank_topk
    (operators/ivfpq_train.py rerank_candidates)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    lcodes = codes.join(
        emb.select(
            "vec_id", F.col("label").cast("long").alias("label")
        ),
        "vec_id",
    )
    qsetl = _filtered_qset(spark, sf_dir)
    cand = ivfpq_train.adc_search_filtered(
        qsetl, cb, pb, lcodes, ivfpq_train.REFINE_R
    )
    q = _quantized(emb, "vec_id")
    return ivfpq_train.rerank_candidates(
        cand, qsetl.select("query_id", "qqv"), q, 5
    ).orderBy("query_id", "rank")


# refine-fan-out SLO: deliberately set where the small-SF curves meet
# it but the sf0.1 curve tops out below — so BOTH verdict branches
# (cheapest compliant R, and the honest "SLO unreachable at this
# quantization/probe budget" fallback) are exercised at real SFs
RERANK_SLO_BP = 5000


def _rerank_slo_sql() -> str:
    base = _rerank_recall_sql()
    return f"""
    WITH curve AS ({base}),
    pick AS (
      SELECT r_candidates, recall_bp,
             CASE WHEN recall_bp >= {RERANK_SLO_BP} THEN 0 ELSE 1 END
               AS miss
      FROM curve
    )
    SELECT r_candidates AS chosen_r, recall_bp,
           miss = 0 AS meets_slo
    FROM pick
    QUALIFY row_number() OVER (
      ORDER BY miss,
               CASE WHEN miss = 0 THEN r_candidates
                    ELSE 10000 - recall_bp END,
               r_candidates
    ) = 1
    """


@query("ivfpq_rerank_slo", materialize_ctes(_rerank_slo_sql()))
def ivfpq_rerank_slo(spark, sf_dir):
    """Auto-tuned refine fan-out R for a recall@5 SLO of
    {RERANK_SLO_BP} bp: measure the re-rank recall ladder
    (ivfpq_rerank_recall — one ADC scan, rank-prefix rungs), choose
    the SMALLEST R meeting the SLO (refine cost ∝ R per query), or
    the best-recall rung with meets_slo=false when the SLO is
    unreachable at this quantization/probe budget — measured: R=20
    at sf0.001 (5093 bp), R=40 at sf0.01 (5718 bp), and the honest
    meets_slo=FALSE at sf0.1 (the curve tops out at 4875 bp — the
    tuner reports best-effort R=40 and flags the miss). Same argmin
    shared-tiebreak text in both engines."""
    curve = ivfpq_rerank_recall(spark, sf_dir)
    pick = curve.select(
        "r_candidates",
        "recall_bp",
        F.when(F.col("recall_bp") >= RERANK_SLO_BP, 0)
        .otherwise(1)
        .alias("miss"),
    )
    key = F.when(F.col("miss") == 0, F.col("r_candidates")).otherwise(
        10000 - F.col("recall_bp")
    )
    return (
        pick.orderBy("miss", key, "r_candidates")
        .limit(1)
        .select(
            F.col("r_candidates").alias("chosen_r"),
            "recall_bp",
            (F.col("miss") == 0).alias("meets_slo"),
        )
    )


# ---------------------------------------------------------------------
# Index maintenance: deletes + compaction (VERDICT r11 task #3). A
# production index also DELETES (FAISS remove_ids, vector-DB
# tombstones): serving must mask tombstoned vectors immediately, and
# a background compaction eventually drops their codes physically.
# Two pins close the lifecycle:
# - ivfpq_delete_serve: the tombstone anti-join RIDES the ADC code
#   scan (never a post-filter of the top-k — a post-filter would
#   return short lists and leak deleted ids into ranking);
# - ivfpq_compact_roundtrip: compaction rewrites the persisted code
#   artifact without the tombstoned rows; serving from the compacted
#   artifact must be bit-identical to an index built by encoding only
#   the surviving vectors against the SAME frozen books (encode is
#   per-vector given the books, so the oracle's survivor-filtered
#   code CTE IS that rebuilt index). At 100 TB: the tombstone table
#   is small and broadcast; compaction is one anti-join + rewrite of
#   the codes artifact, books untouched, no retrain.

DELETE_PRED = "vec_id % 7 = 3"  # deterministic tombstone set (~14%)
_LIVE_PRED = "vec_id % 7 <> 3"

_DELETE_SERVE_SQL = f"""
    WITH {_TRAIN_CTES},
    {_QSET_SQL},
    del AS (SELECT vec_id FROM q WHERE {DELETE_PRED}),
    dcodes AS (
      SELECT c.vec_id, c.cid, c.m, c.code
      FROM tcodes c ANTI JOIN del d USING (vec_id)
    ),
    {{scan}}
    SELECT query_id, vec_id, adc_d2, CAST(rank AS BIGINT) AS rank
    FROM dtop
    ORDER BY query_id, rank
    """.format(scan=_adc_scan_sql("d", f"cb{_CI}", f"pbt{_SI}", "dcodes", 5))


@query("ivfpq_delete_serve", materialize_ctes(_DELETE_SERVE_SQL))
def ivfpq_delete_serve(spark, sf_dir):
    """Tombstone-masked ADC serving (module comment): the deleted-ids
    table anti-joins the UNPACKED code rows before the LUT join, so
    the mask rides the probed-list scan and every query still returns
    a full top-5 drawn from live vectors only. Books and surviving
    codes are untouched — the instant-delete half of the maintenance
    story, compaction being the other half. Broadcast tombstones;
    exact integer end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    tombs = emb.select("vec_id").filter(F.expr(DELETE_PRED))
    live = codes.join(F.broadcast(tombs), "vec_id", "left_anti")
    q = _quantized(emb, "vec_id")
    return (
        ivfpq_train.adc_search(_qset_df(q), cb, pb, live, 5)
        .select(
            "query_id",
            "vec_id",
            "adc_d2",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


_COMPACT_SQL = f"""
    WITH {_TRAIN_CTES},
    {_QSET_SQL},
    ccodes AS (SELECT vec_id, cid, m, code FROM tcodes
               WHERE {_LIVE_PRED}),
    {{scan}},
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_codes_before FROM q),
    na AS (SELECT CAST(count(*) AS BIGINT) AS n_codes_after
           FROM q WHERE {_LIVE_PRED})
    SELECT query_id, vec_id, adc_d2, CAST(rank AS BIGINT) AS rank,
           nb.n_codes_before, na.n_codes_after
    FROM ktop CROSS JOIN nb CROSS JOIN na
    ORDER BY query_id, rank
    """.format(scan=_adc_scan_sql("k", f"cb{_CI}", f"pbt{_SI}", "ccodes", 10))


@query("ivfpq_compact_roundtrip", materialize_ctes(_COMPACT_SQL))
def ivfpq_compact_roundtrip(spark, sf_dir):
    """List compaction through the PHYSICAL artifact (module
    comment): persist the packed-code artifact and a tombstone table,
    compact by anti-joining the tombstones and REWRITING the artifact
    (packed rows physically dropped — one row per vector, so row
    counts before/after ride the result), reload the compacted
    artifact in a fresh plan, unpack nibbles in-scan, and serve the
    deterministic query batch top-10. The oracle builds the index
    from the surviving vectors against the same frozen books —
    serving from the compacted artifact must match it bit for bit."""
    import os

    from etl_mp_transactions_spark.workdirs import run_dir

    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    _, packed = _encode_resid(resid, pb)
    work = run_dir("ivfpq_compact")
    codes_v1 = os.path.join(work, "codes.v1")
    codes_v2 = os.path.join(work, "codes.v2")
    packed.select("vec_id", "cid", "pq_code").write.mode(
        "overwrite"
    ).parquet(codes_v1)
    emb.select("vec_id").filter(F.expr(DELETE_PRED)).write.mode(
        "overwrite"
    ).parquet(os.path.join(work, "tombstones"))
    # --- compaction job: artifact in, smaller artifact out
    art = spark.read.parquet(codes_v1)
    tombs = spark.read.parquet(os.path.join(work, "tombstones"))
    art.join(F.broadcast(tombs), "vec_id", "left_anti").write.mode(
        "overwrite"
    ).parquet(codes_v2)
    # --- fresh serving plan from the compacted artifact
    n_before = spark.read.parquet(codes_v1).count()
    compacted = spark.read.parquet(codes_v2)
    n_after = compacted.count()
    unpacked = compacted.select(
        "vec_id",
        "cid",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        "pq_code",
    ).select(
        "vec_id",
        "cid",
        "m",
        F.expr("cast(shiftright(pq_code, 4 * m) & 15 as int)").alias(
            "code"
        ),
    )
    q = _quantized(emb, "vec_id")
    return (
        ivfpq_train.adc_search(_qset_df(q), cb, pb, unpacked, 10)
        .select(
            "query_id",
            "vec_id",
            "adc_d2",
            F.col("rank").cast("bigint").alias("rank"),
            F.lit(n_before).cast("bigint").alias("n_codes_before"),
            F.lit(n_after).cast("bigint").alias("n_codes_after"),
        )
        .orderBy("query_id", "rank")
    )


@query("r22_stream_delete_serve", materialize_ctes(_DELETE_SERVE_SQL))
def r22_stream_delete_serve(spark, sf_dir):
    """Streaming delete twin (17th stream==batch pin;
    streaming/filesource.stream_delete_tombstones_run): the
    tombstone set arrives as four mtime-ordered id files — one
    micro-batch each — plus a replay of the first file that must
    contribute zero rows (already-tombstoned skip + per-batch
    partition overwrite; deletes are additionally idempotent as a
    set union, so this pin is the easiest of the 17 to keep and the
    cheapest to break detection on). Serving through the streamed
    tombstone table must equal the batch ivfpq_delete_serve bit for
    bit — same oracle."""
    import os

    from etl_mp_transactions_spark.streaming import filesource
    from etl_mp_transactions_spark.workdirs import run_dir

    emb = load_table(spark, sf_dir, "embeddings")
    work = run_dir("r22_delserve")
    dels = emb.select("vec_id").filter(F.expr(DELETE_PRED)).withColumn(
        "g", F.expr("(vec_id div 7) % 4")
    )
    stage = filesource.stage_arrivals(dels, os.path.join(work, "in"))
    tombs = filesource.stream_delete_tombstones_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "tombstones"),
    )
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    live = codes.join(F.broadcast(tombs), "vec_id", "left_anti")
    q = _quantized(emb, "vec_id")
    return (
        ivfpq_train.adc_search(_qset_df(q), cb, pb, live, 5)
        .select(
            "query_id",
            "vec_id",
            "adc_d2",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------
# Index maintenance: UPSERTS (the other half of VERDICT r11 task #3).
# A production index also REPLACES vectors in place (vector-DB
# upsert): re-encode only the changed rows against the FROZEN books
# and overwrite their code rows; the stored index must then be
# indistinguishable from one built by encoding the whole modified
# corpus against the same books (encode is per-vector given books).
# The oracle IS that full modified-corpus encode, so the hash match
# is the upsert==rebuild pin. At 100 TB: per-upsert work is
# |changed| × (KC + KS); books and unchanged codes never move.

UPSERT_PRED = "vec_id % 11 = 5"  # deterministic changed set (~9%)

_UPSERT_SQL = f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x * 1e6) AS BIGINT)) AS qv
      FROM embeddings
    ),
    {_fit_ctes("q")},
    q2 AS (
      SELECT vec_id,
             CASE WHEN {UPSERT_PRED}
                  THEN list_transform(embedding,
                                      x -> CAST(round(-x * 1e6) AS BIGINT))
                  ELSE list_transform(embedding,
                                      x -> CAST(round(x * 1e6) AS BIGINT))
             END AS qv
      FROM embeddings
    ),
    {_assign_encode_sql("q2", "uasg", "urv", "usub", "ucodes")},
    qset AS (
      SELECT vec_id AS query_id, qv AS qqv FROM (
        SELECT vec_id, qv,
               md5(vec_id::VARCHAR || '{ivfpq.QUERY_TAG}') AS sk
        FROM q2
      )
      QUALIFY row_number() OVER (ORDER BY sk, vec_id)
              <= {ivfpq.IVFPQ_QBATCH}
    ),
    {{scan}}
    SELECT query_id, vec_id, adc_d2, CAST(rank AS BIGINT) AS rank
    FROM utop
    ORDER BY query_id, rank
    """.format(scan=_adc_scan_sql("u", f"cb{_CI}", f"pbt{_SI}", "ucodes", 5))


@query("ivfpq_upsert_serve", materialize_ctes(_UPSERT_SQL))
def ivfpq_upsert_serve(spark, sf_dir):
    """In-place vector UPSERT (module comment): ~9% of the corpus
    changes (embedding negated — exact at the float level in both
    engines: IEEE negation then the shared round), ONLY those rows
    re-encode against the frozen trained books, and their code rows
    are overwritten (anti-join out, union in — the partition-
    overwrite shape of a real code store). Serving the deterministic
    query batch (drawn from the modified corpus) from the upserted
    index must equal the oracle's full modified-corpus encode bit
    for bit — upsert == rebuild, given frozen books."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes_orig, _ = _encode_resid(resid, pb)
    changed = emb.filter(F.expr(UPSERT_PRED)).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    ccodes, _ = ivfpq.encode_against_books(changed, cb, pb)
    keep = codes_orig.join(
        F.broadcast(changed.select("vec_id")), "vec_id", "left_anti"
    )
    cols = ["vec_id", "cid", "m", "code"]
    upserted = keep.select(*cols).unionByName(ccodes.select(*cols))
    emb2 = emb.select(
        "vec_id",
        F.when(
            F.expr(UPSERT_PRED),
            F.transform("embedding", lambda x: -x),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    q2 = _quantized(emb2, "vec_id")
    return (
        ivfpq_train.adc_search(_qset_df(q2), cb, pb, upserted, 5)
        .select(
            "query_id",
            "vec_id",
            "adc_d2",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------
# Index health: list-occupancy report. Deletes/upserts and corpus
# drift unbalance the coarse lists over time; scan cost per query is
# proportional to the PROBED lists' occupancy, so a hot list is a
# latency tail. This is the monitoring read a maintenance scheduler
# consumes to decide WHEN to retrain/rebalance (the key_skew_report
# pattern applied to the index itself). KC rows out at any corpus
# size.

REBALANCE_SKEW_BP = 20000  # max list ≥ 2× the mean ⇒ recommend


_LIST_STATS_SQL = f"""
    WITH {_TRAIN_CTES},
    lists AS (SELECT c AS cid FROM cb{_CI}),
    occ AS (
      SELECT l.cid, CAST(coalesce(x.n, 0) AS BIGINT) AS n_vectors
      FROM lists l LEFT JOIN (
        SELECT cid, count(DISTINCT vec_id) AS n
        FROM tcodes GROUP BY cid
      ) x USING (cid)
    ),
    tot AS (
      SELECT CAST(sum(n_vectors) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS nl,
             CAST(max(n_vectors) AS BIGINT) AS mx
      FROM occ
    )
    SELECT o.cid, o.n_vectors,
           o.n_vectors * 10000 // t.nt AS share_bp,
           t.mx * t.nl * 10000 // t.nt AS max_over_mean_bp,
           t.mx * t.nl * 10000 // t.nt >= {REBALANCE_SKEW_BP}
             AS rebalance_recommended
    FROM occ o CROSS JOIN tot t
    ORDER BY o.cid
    """


@query("ivfpq_list_stats", materialize_ctes(_LIST_STATS_SQL))
def ivfpq_list_stats(spark, sf_dir):
    """Coarse-list occupancy report of the trained index (module
    comment): per list its vector count and share, plus the
    hottest-list-vs-mean ratio and the rebalance verdict (max ≥
    {REBALANCE_SKEW_BP} bp of mean). Zero-vector lists ride along via
    the codebook left join — an empty list is itself a health signal
    (dead centroid). One group-by over the code table; KC-row
    output."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, pb, resid = ivfpq_train.trained_books(emb)
    codes, _ = _encode_resid(resid, pb)
    occ = (
        cb.select(F.col("c").alias("cid"))
        .join(
            codes.groupBy("cid").agg(
                F.countDistinct("vec_id").alias("n")
            ),
            "cid",
            "left",
        )
        .select(
            "cid",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias(
                "n_vectors"
            ),
        )
    )
    tot = occ.agg(
        F.sum("n_vectors").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("nl"),
        F.max("n_vectors").cast("bigint").alias("mx"),
    )
    return (
        occ.crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "n_vectors",
            F.expr("n_vectors * 10000 div nt").alias("share_bp"),
            F.expr("mx * nl * 10000 div nt").alias("max_over_mean_bp"),
            (
                F.expr("mx * nl * 10000 div nt") >= REBALANCE_SKEW_BP
            ).alias("rebalance_recommended"),
        )
        .orderBy("cid")
    )
