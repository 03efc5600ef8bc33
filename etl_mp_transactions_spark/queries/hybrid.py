"""Hybrid retrieval serving: lexical BM25 arm + exact semantic arm,
reciprocal-rank fusion, label-measured fusion gain, and MMR
diversification (SURVEY.md §2.9 training-pipeline extensions — the
retrieval-serving side of the completed ANN path; no reference
counterpart, north-star additions like retrieval.py / ranking_eval.py).

The four queries model the production hybrid-search request path for a
fixed 8-query batch (ids 0..7 exist in BOTH ``documents`` and
``embeddings`` at every SF — the two tables share the id domain):

- ``hybrid_lexical_topk``: per-query Okapi BM25 top-20. Each query's
  term set is its own doc's top-4 tf terms (deterministic tie-break),
  so the whole lexical side is the multi-query generalization of
  retrieval.py's bm25_scoring.
- ``hybrid_rrf_fusion``: reciprocal-rank fusion (Cormack et al. SIGIR
  2009: score = Σ 1/(k + rank), k = 60) of the lexical and semantic
  top-20 lists, fused top-10 per query.
- ``hybrid_fusion_gain``: hits@10 of each arm vs the fused list
  against label-match relevance (the embeddings ``label`` column),
  i.e. the measured answer to "does fusion beat the best single arm"
  — the same measured-curve discipline as ivfpq_nprobe_slo.
- ``hybrid_mmr_rerank``: maximal-marginal-relevance diversification
  (Carbonell & Goldstein, SIGIR 1998) over the fused pool: 5 greedy
  picks at λ = 0.7, relevance = normalized RRF score, redundancy =
  normalized quantized-L2 similarity between candidates.

Exactness design (PORTABILITY.md): every ordering key and every output
value is an exact BIGINT. The lexical arm rewrites the BM25 kernel as
a rational function — with k1 = 1.2, b = 0.75 the per-term score is
idf · 22·tf·sum_dl / (10·tf·sum_dl + 3·sum_dl + 9·dl·n_docs), all
BIGINT operands (≤ ~2^37 at sf10, far under 2^53) — so the only float
steps are one double divide + multiply + round on identical operands
in identical shape in both engines (IEEE-deterministic; the idf comes
from exactmath.ln_nano_sql, no libm anywhere). The semantic arm is
exact integer L2 over the 1e6-quantized vectors (the pq.py contract).
RRF/MMR normalizations are single int/int double divides rounded back
to nano integers. Rank tie-breaks are always (score, doc_id).

Scale shape (100 TB):
- the lexical token stream is semi-joined to the ≤ 32-term broadcast
  query-term set BEFORE the (doc, term) shuffle, so aggregation state
  is |terms|·|matching docs|, not corpus-sized (bm25_scoring shape);
- the semantic arm broadcasts the 8-row query set against one linear
  corpus scan — no corpus shuffle at all;
- both arms take their per-query top-k in TWO phases (local top-k per
  input partition, then a final rank over ≤ |Q|·nparts·k rows) so no
  corpus-sized window ever lands on |Q| = 8 partitions (the distranks
  lesson applied per-group);
- everything downstream of the arms (fusion, gain, MMR) is bounded by
  construction at |Q|·k rows; the MMR pool and its pairwise-similarity
  table are localCheckpoint-ed so the 5 unrolled greedy steps replan
  over an 80-row materialized frame instead of replaying the corpus
  scans per step (the DuckDB twin forces the same via
  materialize_ctes).
- MMR diversifies in embedding space, so the pool is the fused top-10
  RESTRICTED to docs that have vectors (embeddings is a subset of
  documents above sf0.01) — deterministic in both engines and stated
  here rather than silently null-handled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mp_transactions_spark.functions.exactmath import ln_nano_sql
from etl_mp_transactions_spark.queries.ivfpq_q import materialize_ctes
from etl_mp_transactions_spark.registry import query
from etl_mp_transactions_spark.sources.tables import load_table

_NQ = 8  # fixed query batch: ids 0..7, present in both tables at all SFs
_QTERMS = 4  # top-tf terms per query doc -> lexical query
_K_ARM = 20  # per-arm retrieval depth
_K_FUSED = 10  # fused (RRF) list depth
_RRF_K = 60  # the standard RRF constant
_MMR_K = 5  # diversified picks per query
_DIM = 64


# ---------------------------------------------------------------- DuckDB


def _lex_ctes() -> str:
    """Lexical-arm CTE chain: toks → dl/corpus → qterms → tf/df →
    exact-BIGINT BM25 → per-query top-20 with rank."""
    idf = (
        f"({ln_nano_sql('2 * c.n_docs + 2', 'duck')}"
        f" - {ln_nano_sql('2 * dfq.df + 1', 'duck')})"
    )
    return rf"""toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    dl AS (SELECT doc_id, len(l)::BIGINT AS dl FROM toks),
    corpus AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
      FROM dl
    ),
    qtf AS (
      SELECT doc_id AS query_id, t AS term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(l) AS t FROM toks
            WHERE doc_id < {_NQ})
      GROUP BY 1, 2
    ),
    qterms AS (
      SELECT query_id, term FROM (
        SELECT query_id, term,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY tf DESC, term) AS rn
        FROM qtf) WHERE rn <= {_QTERMS}
    ),
    tf AS (
      SELECT doc_id, t AS term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(l) AS t FROM toks)
      WHERE t IN (SELECT DISTINCT term FROM qterms)
      GROUP BY 1, 2
    ),
    dfq AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df
      FROM tf GROUP BY term
    ),
    lexc AS (
      SELECT q.query_id, tf.doc_id,
             CAST(round(CAST({idf} AS DOUBLE)
               * (CAST(22 * tf.tf * c.sum_dl AS DOUBLE)
                  / CAST(10 * tf.tf * c.sum_dl + 3 * c.sum_dl
                         + 9 * dl.dl * c.n_docs AS DOUBLE)))
                  AS BIGINT) AS cn
      FROM qterms q
      JOIN tf ON tf.term = q.term
      JOIN dfq ON dfq.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN corpus c
      WHERE tf.doc_id <> q.query_id
    ),
    lex AS (
      SELECT query_id, doc_id, bm25_nano,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY bm25_nano DESC, doc_id)
                  AS BIGINT) AS r_lex
      FROM (SELECT query_id, doc_id,
                   CAST(sum(cn) AS BIGINT) AS bm25_nano
            FROM lexc GROUP BY 1, 2)
      QUALIFY r_lex <= {_K_ARM}
    )"""


def _l2_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {_DIM}),"
        f" j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j]))) AS BIGINT)"
    )


def _sem_ctes() -> str:
    """Semantic-arm CTE chain: quantized vectors → 8-row query set →
    exact integer L2 → per-query top-20 with rank."""
    return f""",
    qv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x * 1e6) AS BIGINT)) AS qv
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id AS query_id, qv AS qqv FROM qv WHERE vec_id < {_NQ}
    ),
    sem AS (
      SELECT query_id, doc_id, d2,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY d2, doc_id)
                  AS BIGINT) AS r_sem
      FROM (SELECT qs.query_id, v.vec_id AS doc_id,
                   {_l2_sql("qs.qqv", "v.qv")} AS d2
            FROM qs CROSS JOIN qv v WHERE v.vec_id <> qs.query_id)
      QUALIFY r_sem <= {_K_ARM}
    )"""


def _rrf_part_sql(r: str) -> str:
    return (
        f"CASE WHEN {r} = 0 THEN 0"
        f" ELSE CAST(round(1e9 / ({_RRF_K} + {r})) AS BIGINT) END"
    )


def _fused_ctes() -> str:
    """RRF fusion over the union of the two arms (absent rank = 0
    contributes nothing, the standard RRF-over-union rule)."""
    return f""",
    fusedall AS (
      SELECT coalesce(l.query_id, s.query_id) AS query_id,
             coalesce(l.doc_id, s.doc_id) AS doc_id,
             coalesce(l.r_lex, 0) AS r_lex,
             coalesce(s.r_sem, 0) AS r_sem
      FROM lex l FULL OUTER JOIN sem s
        ON l.query_id = s.query_id AND l.doc_id = s.doc_id
    ),
    fused AS (
      SELECT query_id, doc_id, r_lex, r_sem, rrf_nano,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf_nano DESC, doc_id)
                  AS BIGINT) AS fused_rank
      FROM (SELECT query_id, doc_id, r_lex, r_sem,
                   {_rrf_part_sql("r_lex")}
                   + {_rrf_part_sql("r_sem")} AS rrf_nano
            FROM fusedall)
      QUALIFY fused_rank <= {_K_FUSED}
    )"""


def _mmr_ctes() -> str:
    """Unrolled 5-step greedy MMR over the fused pool: relevance and
    redundancy both normalized to nano integers per query; the step
    score 7·reln − 3·simn is the exact-integer form of
    λ·rel − (1−λ)·sim at λ = 0.7 (×10)."""
    reln = (
        "CAST(round(1e9 * (CAST(p.rrf_nano AS DOUBLE)"
        " / CAST(m.m AS DOUBLE))) AS BIGINT)"
    )
    simn = (
        "CASE WHEN d.md = 0 THEN 1000000000"
        " ELSE CAST(round(1e9 * (CAST(d.md - p.d2 AS DOUBLE)"
        " / CAST(d.md AS DOUBLE))) AS BIGINT) END"
    )
    steps = []
    for i in range(2, _MMR_K + 1):
        steps.append(f""",
    cand{i} AS (
      SELECT c.query_id, c.doc_id, c.reln, max(ps.simn) AS msim
      FROM pool c
      JOIN psim ps ON ps.query_id = c.query_id
                  AND ps.doc_a = c.doc_id
      JOIN sel{i - 1} s ON s.query_id = ps.query_id
                       AND s.doc_id = ps.doc_b
      WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} x
                        WHERE x.query_id = c.query_id
                          AND x.doc_id = c.doc_id)
      GROUP BY 1, 2, 3
    ),
    pick{i} AS (
      SELECT query_id, doc_id, mmr_score,
             CAST({i} AS BIGINT) AS pick_step
      FROM (SELECT query_id, doc_id,
                   CAST(7 * reln - 3 * msim AS BIGINT) AS mmr_score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY 7 * reln - 3 * msim DESC,
                                               doc_id) AS rn
            FROM cand{i}) WHERE rn = 1
    ),
    sel{i} AS (
      SELECT query_id, doc_id, mmr_score, pick_step FROM sel{i - 1}
      UNION ALL
      SELECT query_id, doc_id, mmr_score, pick_step FROM pick{i}
    )""")
    return f""",
    pool0 AS (
      SELECT f.query_id, f.doc_id, f.rrf_nano
      FROM fused f JOIN qv ON qv.vec_id = f.doc_id
    ),
    pmax AS (
      SELECT query_id, max(rrf_nano) AS m FROM pool0 GROUP BY 1
    ),
    pool AS (
      SELECT p.query_id, p.doc_id, {reln} AS reln
      FROM pool0 p JOIN pmax m ON m.query_id = p.query_id
    ),
    psim0 AS (
      SELECT a.query_id, a.doc_id AS doc_a, b.doc_id AS doc_b,
             {_l2_sql("va.qv", "vb.qv")} AS d2
      FROM pool a
      JOIN pool b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
      JOIN qv va ON va.vec_id = a.doc_id
      JOIN qv vb ON vb.vec_id = b.doc_id
    ),
    dmax AS (SELECT query_id, max(d2) AS md FROM psim0 GROUP BY 1),
    psim AS (
      SELECT p.query_id, p.doc_a, p.doc_b, {simn} AS simn
      FROM psim0 p JOIN dmax d ON d.query_id = p.query_id
    ),
    pick1 AS (
      SELECT query_id, doc_id,
             CAST(7 * reln AS BIGINT) AS mmr_score,
             CAST(1 AS BIGINT) AS pick_step
      FROM (SELECT query_id, doc_id, reln,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY reln DESC, doc_id) AS rn
            FROM pool) WHERE rn = 1
    ),
    sel1 AS (
      SELECT query_id, doc_id, mmr_score, pick_step FROM pick1
    ){"".join(steps)}"""


# ---------------------------------------------------------------- Spark


def _tokens_expr() -> Column:
    # same tokenization contract as retrieval.py / text.py
    return F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )


def _topk_per_query(
    df: DataFrame, order: list[Column], k: int, rank_name: str
) -> DataFrame:
    """Two-phase per-query top-k: local top-k per input partition
    (parallel, partition-sized state) then a final rank over
    ≤ |Q|·nparts·k rows — exact for any partitioning because each
    partition contributes at most k of any query's global top-k, and
    the deterministic (score, doc_id) order makes ranks unique."""
    pid = df.withColumn("__pid", F.spark_partition_id())
    lw = Window.partitionBy("query_id", "__pid").orderBy(*order)
    local = (
        pid.withColumn("__lr", F.row_number().over(lw))
        .filter(F.col("__lr") <= k)
        .drop("__lr", "__pid")
    )
    gw = Window.partitionBy("query_id").orderBy(*order)
    return local.withColumn(
        rank_name, F.row_number().over(gw).cast("long")
    ).filter(F.col(rank_name) <= k)


def _lex_arm_build(
    spark: SparkSession,
    sf_dir: str,
    qids: DataFrame | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Lexical arm. ``qids`` (a 1-column ``doc_id`` frame) overrides
    the default 0..NQ-1 query batch — the streaming twin serves each
    arriving micro-batch's ids against the same frozen corpus, and
    per-query results are batch-independent by construction (df is
    per-term, corpus stats are global). Computes fresh from parquet
    on every call — the r15 cross-query _ARM_MEMO is removed per
    VERDICT r15 task #2. ``toks`` optionally supplies the tokenized
    corpus (doc_id, l) — the streaming twin materializes it once per
    RUN (within one declared query) and serves every micro-batch from
    it instead of re-tokenizing the corpus per batch."""
    if toks is None:
        # the tokenized corpus feeds dl, qtoks AND tf — and the
        # broadcast subtrees (corpus stats, qterms, dfq) each run as
        # their own job, so without a cut the scan+tokenize re-executes
        # 4-5x per arm build. One lazy localCheckpoint per call (r16,
        # guide §5; the curation discipline — nothing crosses calls).
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id", _tokens_expr().alias("l")
        ).localCheckpoint(eager=False)
    dl = toks.select("doc_id", F.size("l").cast("long").alias("dl"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qtoks = (
        toks.join(F.broadcast(qids), "doc_id", "left_semi")
        if qids is not None
        else toks.filter(F.col("doc_id") < _NQ)
    )
    qtf = (
        qtoks
        .select(
            F.col("doc_id").alias("query_id"), F.explode("l").alias("term")
        )
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    qw = Window.partitionBy("query_id").orderBy(F.desc("tf"), "term")
    qterms = (
        qtf.withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= _QTERMS)
        .select("query_id", "term")
    )
    tf = (
        toks.select("doc_id", F.explode("l").alias("term"))
        .join(F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    # idf = ln((2N+2)/(2df+1)) as an exactmath nano-integer difference
    idf = F.expr(
        f"{ln_nano_sql('2 * n_docs + 2', 'spark')}"
        f" - {ln_nano_sql('2 * df + 1', 'spark')}"
    )
    cn = F.round(
        idf.cast("double")
        * (
            (F.lit(22) * F.col("tf") * F.col("sum_dl")).cast("double")
            / (
                F.lit(10) * F.col("tf") * F.col("sum_dl")
                + F.lit(3) * F.col("sum_dl")
                + F.lit(9) * F.col("dl") * F.col("n_docs")
            ).cast("double")
        )
    ).cast("long")
    lexc = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("query_id", "doc_id", cn.alias("cn"))
    )
    lexs = lexc.groupBy("query_id", "doc_id").agg(
        F.sum("cn").cast("long").alias("bm25_nano")
    )
    return _topk_per_query(
        lexs, [F.desc("bm25_nano"), F.asc("doc_id")], _K_ARM, "r_lex"
    )


def _quantized(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(round(x * 1e6) as bigint))"
        ).alias("qv"),
    )


def _sem_arm_build(
    spark: SparkSession,
    sf_dir: str,
    qset: DataFrame | None = None,
    qv: DataFrame | None = None,
) -> DataFrame:
    """Semantic arm. ``qset`` (query_id, qqv quantized vector)
    overrides the default batch — the streaming twin passes the
    ARRIVING vectors, quantized per micro-batch. Computes fresh from
    parquet on every call (no cross-query memo, as in the lexical arm).
    ``qv`` optionally supplies the quantized corpus (vec_id, qv), same
    once-per-RUN contract as _lex_arm_build's ``toks``."""
    if qv is None:
        # referenced by both the broadcast query-side subtree and the
        # corpus scan side — one lazy localCheckpoint per call keeps
        # the scan+quantize single-pass (same discipline as toks)
        qv = _quantized(
            load_table(spark, sf_dir, "embeddings")
        ).localCheckpoint(eager=False)
    qs = (
        qset
        if qset is not None
        else qv.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
        )
    )
    semd = (
        qv.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.expr(
                "aggregate(zip_with(qqv, qv, (x, y) -> (x - y) * (x - y)),"
                " 0L, (a, v) -> a + v)"
            ).alias("d2"),
        )
    )
    return _topk_per_query(
        semd, [F.asc("d2"), F.asc("doc_id")], _K_ARM, "r_sem"
    )


def _rrf_part(c: str) -> Column:
    return (
        F.when(F.col(c) == 0, F.lit(0).cast("long"))
        .otherwise(
            F.round(F.lit(1e9) / (F.lit(_RRF_K) + F.col(c))).cast("long")
        )
    )


def _ranked(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """Every doc of either built arm list (``_lex_arm_build`` /
    ``_sem_arm_build``) with both arm ranks (0 = absent), its RRF
    score and its fused rank. Callers pass arm frames they built
    once, so one call builds each arm once."""
    fusedall = (
        lex.select("query_id", "doc_id", "r_lex")
        .join(
            sem.select("query_id", "doc_id", "r_sem"),
            ["query_id", "doc_id"],
            "full_outer",
        )
        .withColumn("r_lex", F.coalesce("r_lex", F.lit(0).cast("long")))
        .withColumn("r_sem", F.coalesce("r_sem", F.lit(0).cast("long")))
        .withColumn("rrf_nano", _rrf_part("r_lex") + _rrf_part("r_sem"))
    )
    # single-phase window is safe here: <= 2*K_ARM rows per query
    fw = Window.partitionBy("query_id").orderBy(F.desc("rrf_nano"), "doc_id")
    return fusedall.withColumn("fused_rank", F.row_number().over(fw).cast("long"))


def _fused(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """The fused (RRF) top-``_K_FUSED`` list of two built arm frames."""
    return _ranked(lex, sem).filter(F.col("fused_rank") <= _K_FUSED)


_EVAL_LISTS = [("r_lex", "lex"), ("r_sem", "sem"), ("fused_rank", "rrf")]


def _relevant_ranks(spark: SparkSession, sf_dir: str):
    """(qlab, rel): the query batch's labels, and every label-matching
    doc of the lexical, semantic and fused lists with its three ranks
    — one pass over the arms serves all three lists' metrics. Docs
    without vectors have no label and count as non-relevant."""
    lab = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    qlab = lab.filter(F.col("doc_id") < _NQ).select(
        F.col("doc_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    rel = (
        _ranked(_lex_arm_build(spark, sf_dir), _sem_arm_build(spark, sf_dir))
        .join(lab, "doc_id")
        .join(F.broadcast(qlab), "query_id")
        .filter(F.col("label") == F.col("qlabel"))
    )
    return qlab, rel


def _in_window(rank_col: str) -> Column:
    """In the top-``_K_FUSED`` of that list (rank 0 = absent)."""
    return F.col(rank_col).between(1, _K_FUSED)


@query(
    "hybrid_lexical_topk",
    materialize_ctes(
        f"""WITH {_lex_ctes()}
    SELECT query_id, doc_id, bm25_nano, r_lex FROM lex"""
    ),
)
def hybrid_lexical_topk(spark, sf_dir):
    """Per-query BM25 top-20 (the lexical arm alone): exact-BIGINT
    rational BM25, rank output. Module docstring has the kernel
    derivation and the scale shape."""
    return _lex_arm_build(spark, sf_dir).select(
        "query_id", "doc_id", "bm25_nano", "r_lex"
    )


# shared with the r23 streaming serving twin (queries/streaming_mm.py)
RRF_FUSION_SQL = materialize_ctes(
    f"""WITH {_lex_ctes()}{_sem_ctes()}{_fused_ctes()}
    SELECT query_id, doc_id, r_lex, r_sem, rrf_nano, fused_rank
    FROM fused"""
)


@query("hybrid_rrf_fusion", RRF_FUSION_SQL)
def hybrid_rrf_fusion(spark, sf_dir):
    """RRF fusion of the lexical and semantic top-20 lists (fused
    top-10 per query, both arm ranks carried; absent rank = 0)."""
    return _fused(
        _lex_arm_build(spark, sf_dir), _sem_arm_build(spark, sf_dir)
    ).select("query_id", "doc_id", "r_lex", "r_sem", "rrf_nano", "fused_rank")


@query(
    "hybrid_fusion_gain",
    materialize_ctes(
        f"""WITH {_lex_ctes()}{_sem_ctes()}{_fused_ctes()},
    lab AS (SELECT vec_id, label FROM embeddings),
    qlab AS (
      SELECT vec_id AS query_id, label AS qlabel FROM lab
      WHERE vec_id < {_NQ}
    ),
    hl AS (
      SELECT l.query_id, count(*)::BIGINT AS h
      FROM lex l
      JOIN lab ON lab.vec_id = l.doc_id
      JOIN qlab q ON q.query_id = l.query_id AND lab.label = q.qlabel
      WHERE l.r_lex <= {_K_FUSED} GROUP BY 1
    ),
    hs AS (
      SELECT s.query_id, count(*)::BIGINT AS h
      FROM sem s
      JOIN lab ON lab.vec_id = s.doc_id
      JOIN qlab q ON q.query_id = s.query_id AND lab.label = q.qlabel
      WHERE s.r_sem <= {_K_FUSED} GROUP BY 1
    ),
    hf AS (
      SELECT f.query_id, count(*)::BIGINT AS h
      FROM fused f
      JOIN lab ON lab.vec_id = f.doc_id
      JOIN qlab q ON q.query_id = f.query_id AND lab.label = q.qlabel
      WHERE f.fused_rank <= {_K_FUSED} GROUP BY 1
    )
    SELECT q.query_id,
           coalesce(hl.h, 0) AS hits_lex,
           coalesce(hs.h, 0) AS hits_sem,
           coalesce(hf.h, 0) AS hits_rrf,
           coalesce(hf.h, 0)
             >= greatest(coalesce(hl.h, 0), coalesce(hs.h, 0)) AS fused_ok
    FROM qlab q
    LEFT JOIN hl ON hl.query_id = q.query_id
    LEFT JOIN hs ON hs.query_id = q.query_id
    LEFT JOIN hf ON hf.query_id = q.query_id"""
    ),
)
def hybrid_fusion_gain(spark, sf_dir):
    """hits@10 of each arm vs the fused list against label-match
    relevance: the measured per-query answer to "does fusion beat the
    best single arm". Docs without vectors have no label and count as
    non-relevant (stated contract, identical in both engines)."""
    qlab, rel = _relevant_ranks(spark, sf_dir)
    hits = rel.groupBy("query_id").agg(
        *(F.count(F.when(_in_window(c), 1)).alias(f"hits_{n}") for c, n in _EVAL_LISTS)
    )
    z = F.lit(0).cast("long")
    h = {n: F.coalesce(f"hits_{n}", z) for _, n in _EVAL_LISTS}
    return qlab.select("query_id").join(hits, "query_id", "left").select(
        "query_id",
        *(h[n].alias(f"hits_{n}") for _, n in _EVAL_LISTS),
        (h["rrf"] >= F.greatest(h["lex"], h["sem"])).alias("fused_ok"),
    )


@query(
    "hybrid_mmr_rerank",
    materialize_ctes(
        f"""WITH {_lex_ctes()}{_sem_ctes()}{_fused_ctes()}{_mmr_ctes()}
    SELECT query_id, pick_step, doc_id, mmr_score FROM sel{_MMR_K}"""
    ),
)
def hybrid_mmr_rerank(spark, sf_dir):
    """Greedy MMR diversification of the fused pool: 5 picks per query
    at λ = 0.7 (score = 7·reln − 3·max-sim-to-selected, exact BIGINT).
    Pool = fused top-10 ∩ embedded docs; queries whose pool is smaller
    than 5 yield fewer picks — identically in both engines."""
    fused = _fused(_lex_arm_build(spark, sf_dir), _sem_arm_build(spark, sf_dir))
    qv = _quantized(load_table(spark, sf_dir, "embeddings"))
    pool0 = fused.join(
        qv.select(F.col("vec_id").alias("doc_id"), "qv"), "doc_id"
    ).select("query_id", "doc_id", "rrf_nano", "qv")
    pmax = pool0.groupBy("query_id").agg(F.max("rrf_nano").alias("m"))
    pool = (
        pool0.join(F.broadcast(pmax), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.lit(1e9)
                * (F.col("rrf_nano").cast("double") / F.col("m").cast("double"))
            )
            .cast("long")
            .alias("reln"),
            "qv",
        )
        # bounded |Q|*K_FUSED rows: materialize so the 5 greedy steps
        # below replan over this frame, not the corpus scans
        .localCheckpoint()
    )
    a = pool.select(
        "query_id", F.col("doc_id").alias("doc_a"), F.col("qv").alias("va")
    )
    b = pool.select(
        "query_id", F.col("doc_id").alias("doc_b"), F.col("qv").alias("vb")
    )
    psim0 = (
        a.join(b, "query_id")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            "query_id",
            "doc_a",
            "doc_b",
            F.expr(
                "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)),"
                " 0L, (a, v) -> a + v)"
            ).alias("d2"),
        )
    )
    dmax = psim0.groupBy("query_id").agg(F.max("d2").alias("md"))
    psim = (
        psim0.join(F.broadcast(dmax), "query_id")
        .select(
            "query_id",
            "doc_a",
            "doc_b",
            F.when(F.col("md") == 0, F.lit(1_000_000_000).cast("long"))
            .otherwise(
                F.round(
                    F.lit(1e9)
                    * (
                        (F.col("md") - F.col("d2")).cast("double")
                        / F.col("md").cast("double")
                    )
                )
                .cast("long")
            )
            .alias("simn"),
        )
    )
    pool = pool.drop("qv")
    # r15 optimization (guide §1.2 / §3.3): the greedy loop was
    # unrolled as _MMR_K-1 chained (anti-join → psim join → sel join →
    # groupBy → window) stages, each referencing every prior step's
    # plan — a ~711 KB physical plan with 722 Exchange nodes whose
    # PLANNING time dwarfed the 80-row data. The pool and its pairwise
    # sims are |Q|·K_FUSED-bounded by construction, so the whole greedy
    # runs as ONE aggregate() expression per query over the collected
    # candidate/sim arrays: identical arithmetic (7·reln − 3·max-sim,
    # argmax via struct array_min on (−score, doc_id)), identical
    # inner-join semantics (a candidate with no sim row to any selected
    # doc is excluded from scoring → s IS NULL filter), identical
    # fewer-picks-than-K behavior (empty candidate set appends nothing).
    cs_df = pool.groupBy("query_id").agg(
        F.collect_list(F.struct("doc_id", "reln")).alias("cs")
    )
    sims_df = psim.groupBy("query_id").agg(
        F.collect_list(F.struct("doc_a", "doc_b", "simn")).alias("sims")
    )
    g = cs_df.join(sims_df, "query_id", "left").select(
        "query_id",
        "cs",
        F.coalesce(
            "sims",
            F.expr(
                "cast(array() as"
                " array<struct<doc_a:bigint,doc_b:bigint,simn:bigint>>)"
            ),
        ).alias("sims"),
    )
    greedy = f"""
      aggregate(
        sequence(1, {_MMR_K}),
        cast(array() as array<struct<d: bigint, s: bigint, st: int>>),
        (acc, i) -> concat(acc,
          transform(
            filter(array(
              array_min(
                transform(
                  filter(
                    transform(
                      filter(cs, c -> NOT exists(acc, p -> p.d = c.doc_id)),
                      c -> struct(c.doc_id AS d,
                        CASE WHEN i = 1 THEN 7L * c.reln
                             ELSE 7L * c.reln - 3L * array_max(
                               transform(
                                 filter(sims, sp -> sp.doc_a = c.doc_id
                                          AND exists(acc,
                                                     p2 -> p2.d = sp.doc_b)),
                                 sp -> sp.simn))
                        END AS s)),
                    x -> x.s IS NOT NULL),
                  x -> struct(-x.s AS ns, x.d AS d, x.s AS s)))),
              y -> y IS NOT NULL),
            y -> struct(y.d AS d, y.s AS s, i AS st))))
    """
    return g.select(
        "query_id", F.explode(F.expr(greedy)).alias("p")
    ).select(
        "query_id",
        F.col("p.st").cast("long").alias("pick_step"),
        F.col("p.d").alias("doc_id"),
        F.col("p.s").alias("mmr_score"),
    )


@query(
    "hybrid_mrr_eval",
    materialize_ctes(
        f"""WITH {_lex_ctes()}{_sem_ctes()}{_fused_ctes()},
    lab AS (SELECT vec_id, label FROM embeddings),
    qlab AS (
      SELECT vec_id AS query_id, label AS qlabel FROM lab
      WHERE vec_id < {_NQ}
    ),
    rl AS (
      SELECT l.query_id, CAST(round(1e9 / min(l.r_lex)) AS BIGINT) AS rr
      FROM lex l
      JOIN lab ON lab.vec_id = l.doc_id
      JOIN qlab q ON q.query_id = l.query_id AND lab.label = q.qlabel
      WHERE l.r_lex <= {_K_FUSED} GROUP BY 1
    ),
    rs AS (
      SELECT s.query_id, CAST(round(1e9 / min(s.r_sem)) AS BIGINT) AS rr
      FROM sem s
      JOIN lab ON lab.vec_id = s.doc_id
      JOIN qlab q ON q.query_id = s.query_id AND lab.label = q.qlabel
      WHERE s.r_sem <= {_K_FUSED} GROUP BY 1
    ),
    rf AS (
      SELECT f.query_id,
             CAST(round(1e9 / min(f.fused_rank)) AS BIGINT) AS rr
      FROM fused f
      JOIN lab ON lab.vec_id = f.doc_id
      JOIN qlab q ON q.query_id = f.query_id AND lab.label = q.qlabel
      WHERE f.fused_rank <= {_K_FUSED} GROUP BY 1
    )
    SELECT q.query_id,
           coalesce(rl.rr, 0) AS rr_lex_nano,
           coalesce(rs.rr, 0) AS rr_sem_nano,
           coalesce(rf.rr, 0) AS rr_rrf_nano
    FROM qlab q
    LEFT JOIN rl ON rl.query_id = q.query_id
    LEFT JOIN rs ON rs.query_id = q.query_id
    LEFT JOIN rf ON rf.query_id = q.query_id"""
    ),
)
def hybrid_mrr_eval(spark, sf_dir):
    """Reciprocal rank of the FIRST relevant result (label-match, @10)
    for each arm and the fused list, nano-scaled (0 = no relevant in
    window) — with hits@10 (hybrid_fusion_gain) this completes the
    IR-eval pair the serving path is tuned by."""
    qlab, rel = _relevant_ranks(spark, sf_dir)
    rr = rel.groupBy("query_id").agg(
        *(
            F.round(F.lit(1e9) / F.min(F.when(_in_window(c), F.col(c))))
            .cast("long")
            .alias(f"rr_{n}_nano")
            for c, n in _EVAL_LISTS
        )
    )
    z = F.lit(0).cast("long")
    return qlab.select("query_id").join(rr, "query_id", "left").select(
        "query_id",
        *(F.coalesce(f"rr_{n}_nano", z).alias(f"rr_{n}_nano") for _, n in _EVAL_LISTS),
    )
