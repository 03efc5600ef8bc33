"""In-engine trained document-quality classifier (VERDICT r9 task #5;
SURVEY.md §2.9 curation family) — the standard corpus-filtering stage
(GPT-3 §2.2 / CCNet-style: train a linear classifier on hashed n-gram
features against a reference domain, score every document, gate at a
threshold), composed entirely from machinery this engine already
oracle-pins:

- **features**: hashed word bigrams into NB={DSIR_NB} buckets — the
  queries/dsir.py bucket trick; both class LMs are ≤ NB rows at ANY
  corpus size, so the per-doc score join is against a bounded table;
- **per-bucket evidence**: the exact-integer smoothed frequency ratio
  s(f) = ((c_pos(f)+1)·SCALE) // (c_neg(f)+1) (the dsir statistic
  with the negative class as the denominator — a Naive-Bayes-style
  likelihood ratio, fasttext's linear-classifier analog);
- **per-doc raw score**: mean bucket evidence, then the BIT-LENGTH
  log-scale feature x = length(bin(1 + weight)) — bounded (≤ ~45),
  exact in both engines, and exactly the log-odds-ish scalar a
  calibration layer wants;
- **calibration**: {N_STEPS} unrolled exact Newton steps of a
  2-parameter logistic fit of label y = (lang = '{POS_LANG}') on x —
  the queries/logistic.py nano-unit trajectory, SHARED-TEXT between
  engines (the per-step CTEs are generated by the same functions);
- **gate**: per-doc probability p_nano from the logistic.py PORTABLE
  SIGMOID GRID (z quantized to deci units, σ precomputed once in
  Python with exact rational arithmetic and injected into both
  engines as literals — NO engine evaluates exp(); VERDICT r11 task
  #1), kept iff p_nano ≥ {KEEP_THRESHOLD_NANO} (0.5).

Everything after the corpus-linear bigram explode runs on bounded
tables (NB-row LMs, doc-level score table, 2-integer model state).
A python trajectory replay cross-checks the whole train+gate chain
in tests/test_quality_clf.py.

Reference parity: none — §2.9 training-data mandate (the learned
upgrade of the heuristic text_quality gate in queries/text.py).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_mp_transactions_spark.queries.dsir import DSIR_NB, DSIR_SCALE
from etl_mp_transactions_spark.queries.ivfpq_q import materialize_ctes
from etl_mp_transactions_spark.queries.logistic import (
    N_STEPS,
    _score_sql,
    _train_cte_chain,
    newton_train,
    sig_spark_df,
    with_p_nano,
)
from etl_mp_transactions_spark.registry import query
from etl_mp_transactions_spark.sources.tables import load_table

POS_LANG = "en"
KEEP_THRESHOLD_NANO = 500_000_000  # p >= 0.5 keeps the doc
DEPLOY_MARGIN_BP = 500  # eval must beat majority base rate by 5 points


_FEATURE_CTES = f"""toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    ),
    w AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 8))::BIGINT
              % {DSIR_NB}) AS f
      FROM toks, unnest(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ),
    poslm AS (
      SELECT f, CAST(count(*) AS BIGINT) AS cp FROM w
      WHERE lang = '{POS_LANG}' GROUP BY f
    ),
    neglm AS (
      SELECT f, CAST(count(*) AS BIGINT) AS cn FROM w
      WHERE lang <> '{POS_LANG}' GROUP BY f
    ),
    lm AS (
      SELECT a.f,
             ((coalesce(p.cp, 0) + 1) * {DSIR_SCALE})
               // (coalesce(n.cn, 0) + 1) AS s
      FROM (SELECT DISTINCT f FROM w) a
      LEFT JOIN poslm p ON p.f = a.f
      LEFT JOIN neglm n ON n.f = a.f
    ),
    docx AS (
      SELECT w.doc_id, min(w.lang) AS lang,
             CAST(length(bin(1 + (sum(lm.s) * {DSIR_SCALE}) // count(*)))
                  AS BIGINT) AS x,
             CASE WHEN min(w.lang) = '{POS_LANG}' THEN 1 ELSE 0 END AS y
      FROM w JOIN lm ON lm.f = w.f
      GROUP BY w.doc_id
    ),
    rows AS (SELECT x, y FROM docx)"""


def _train_ctes_sql() -> str:
    return ",".join([_FEATURE_CTES, *_train_cte_chain()])


# scoring the doc table against the final params: the sig-grid join
# (logistic.py portable-sigmoid contract — no engine evaluates exp)
_SCORE_JOIN, _SCORE_PN = _score_sql(f"p{N_STEPS}", "d.x")


def _lm_fused(w, pos_cond, count_pred: str | None = None):
    """(f, s): the smoothed class-evidence table in ONE grouped
    aggregate over the bigram frame (r16, guide §2.3/§2.4): the
    former poslm/neglm groupBys + DISTINCT-domain + two left joins
    re-materialized the bigram frame four times and shuffled it three
    times; conditional sums over one groupBy produce the identical
    counts (``sum(CASE ...)`` is 0 where the filtered groupBys had no
    row, exactly the old ``coalesce(c, 0)``), and the domain is every
    ``f`` in ``w`` — what the DISTINCT computed. ``pos_cond`` is the
    positive-class predicate; ``count_pred`` restricts which rows are
    COUNTED (the held-out-eval leak guard) while the domain stays all
    of ``w``."""
    in_slice = (
        F.lit(True) if count_pred is None else F.expr(count_pred)
    )
    cp = F.sum(
        F.when(in_slice & pos_cond, 1).otherwise(0)
    ).cast("bigint")
    cn = F.sum(
        F.when(in_slice & ~pos_cond, 1).otherwise(0)
    ).cast("bigint")
    return (
        w.groupBy("f")
        .agg(cp.alias("cp"), cn.alias("cn"))
        .select(
            "f",
            F.expr(
                f"div((cp + 1) * {DSIR_SCALE}, cn + 1)"
            ).alias("s"),
        )
    )


def _features_df(spark, sf_dir, lm_pred: str | None = None):
    """(doc_id, lang, x, y): the bounded doc-level feature table,
    checkpointed once per CALL (the Newton passes and the gate each
    rescan it; every invocation recomputes from parquet — the r15
    cross-query memo is removed per VERDICT r15 task #2). With
    ``lm_pred``, the class LMs count only the matching docs' bigrams
    (the held-out-eval leak guard); buckets outside the slice get the
    neutral 1:1 evidence via the +1 smoothing in ``_lm_fused``.

    Pass structure (r16): the bigram explode+md5 frame ``w`` is
    persisted for the duration of this call so the corpus is
    tokenized/hashed ONCE — the LM aggregate and the doc-level score
    join both read the cached frame (the former shape re-derived it
    4×); the LM (≤ {DSIR_NB} rows) broadcasts into the score join, so
    the only corpus shuffle left is the final groupBy(doc_id)."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.select("doc_id", "lang", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) >= 2 THEN "
                    "filter(transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS a, ws[i + 1] AS b)),"
                    " p -> p.a <> '' AND p.b <> '') "
                    "ELSE array() END"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            "lang",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", "bg.a", "bg.b")), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
                % DSIR_NB
            ).alias("f"),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    lm = _lm_fused(w, F.col("lang") == POS_LANG, lm_pred)
    docx = (
        w.join(F.broadcast(lm), "f")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.length(
                F.bin(
                    F.expr(f"1 + div(sum(s) * {DSIR_SCALE}, count(*))")
                )
            )
            .cast("bigint")
            .alias("x"),
            F.when(F.min("lang") == POS_LANG, 1).otherwise(0).alias("y"),
        )
    )
    out = docx.localCheckpoint(eager=True)
    w.unpersist()
    return out


def _trained_params(spark, docx):
    """(b0, b1) nano-unit model state after N_STEPS exact Newton
    steps — the queries/logistic.py grid-sigmoid kernel over the
    (x, y)-grouped doc feature table (one pass over the
    already-checkpointed docx, then bounded-table iterations).
    Trains fresh on EVERY call (the r15 cross-session _PARAMS_MEMO
    is removed per VERDICT r15 task #2 — each declared query computes
    its model from the parquet inputs inside its own timed region)."""
    params, _ = newton_train(spark, docx.select("x", "y"))
    return params


@query(
    "quality_classifier_train",
    materialize_ctes(f"""
    WITH {_train_ctes_sql()},
    pred AS (
      SELECT d.doc_id, d.y, {_SCORE_PN} AS p_nano
      FROM docx d CROSS JOIN p{N_STEPS} {_SCORE_JOIN}
    )
    SELECT CAST(p{N_STEPS}.b0 AS VARCHAR) AS b0_nano,
           CAST(p{N_STEPS}.b1 AS VARCHAR) AS b1_nano,
           (SELECT CAST(sum(CASE WHEN y = 1
                        AND p_nano >= {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS tp,
           (SELECT CAST(sum(CASE WHEN y = 0
                        AND p_nano >= {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS fp,
           (SELECT CAST(sum(CASE WHEN y = 0
                        AND p_nano < {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS tn,
           (SELECT CAST(sum(CASE WHEN y = 1
                        AND p_nano < {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS fn
    FROM p{N_STEPS}
    """),
)
def quality_classifier_train(spark, sf_dir):
    """Train the quality classifier (module docstring) and report the
    nano-unit model plus its training-set confusion matrix at the 0.5
    gate — the fit-quality evidence a curation pipeline records
    before deploying the filter. Trajectory is exact: both engines
    land on identical (b0, b1) and identical confusion counts."""
    docx = _features_df(spark, sf_dir)
    params = _trained_params(spark, docx)
    pred = with_p_nano(docx, params, sig_spark_df(spark)).select(
        "y", F.col("pn").alias("p_nano")
    )
    keep = F.col("p_nano") >= KEEP_THRESHOLD_NANO
    conf = pred.agg(
        F.sum(F.when((F.col("y") == 1) & keep, 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("y") == 0) & keep, 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("y") == 0) & ~keep, 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
        F.sum(F.when((F.col("y") == 1) & ~keep, 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
    )
    return params.crossJoin(conf).select(
        F.col("b0").cast("string").alias("b0_nano"),
        F.col("b1").cast("string").alias("b1_nano"),
        "tp",
        "fp",
        "tn",
        "fn",
    )


@query(
    "quality_classifier_gate",
    materialize_ctes(f"""
    WITH {_train_ctes_sql()}
    SELECT d.doc_id, d.lang, d.x,
           {_SCORE_PN} AS p_nano,
           {_SCORE_PN} >= {KEEP_THRESHOLD_NANO} AS keep
    FROM docx d CROSS JOIN p{N_STEPS} {_SCORE_JOIN}
    ORDER BY d.doc_id
    """),
)
def quality_classifier_gate(spark, sf_dir):
    """Score EVERY document through the trained classifier and emit
    the gate table (doc_id, lang, log-scale feature, nano-unit
    probability, keep flag) — the corpus-filtering verdict list the
    downstream pipeline consumes. One broadcast of the 2-integer
    model; the scan is corpus-linear."""
    docx = _features_df(spark, sf_dir)
    params = _trained_params(spark, docx)
    return (
        with_p_nano(docx, params, sig_spark_df(spark))
        .select(
            "doc_id",
            "lang",
            "x",
            F.col("pn").alias("p_nano"),
            (F.col("pn") >= KEEP_THRESHOLD_NANO).alias("keep"),
        )
        .orderBy("doc_id")
    )


# held-out evaluation split: train on even doc_ids, score odd ones —
# the generalization evidence the training-set confusion above cannot
# give (a memorizing featurizer would ace train and fail eval)
_TRAIN_PRED = "doc_id % 2 = 0"
_EVAL_PRED = "doc_id % 2 = 1"


def _eval_ctes_sql() -> str:
    ctes = [
        _FEATURE_CTES.replace(
            "rows AS (SELECT x, y FROM docx)",
            f"rows AS (SELECT x, y FROM docx WHERE {_TRAIN_PRED})",
        )
        # no label leakage: the class LMs count TRAIN-slice bigrams
        # only; an eval-only bucket gets the neutral 1:1 evidence
        # ((0+1)*SCALE)//(0+1) via the coalesces already in `lm`
        .replace(
            f"FROM w\n      WHERE lang = '{POS_LANG}' GROUP BY f",
            f"FROM w\n      WHERE lang = '{POS_LANG}'"
            f" AND {_TRAIN_PRED} GROUP BY f",
        )
        .replace(
            f"FROM w\n      WHERE lang <> '{POS_LANG}' GROUP BY f",
            f"FROM w\n      WHERE lang <> '{POS_LANG}'"
            f" AND {_TRAIN_PRED} GROUP BY f",
        ),
        *_train_cte_chain(),
    ]
    return ",".join(ctes)


@query(
    "quality_classifier_eval",
    materialize_ctes(f"""
    WITH {_eval_ctes_sql()},
    pred AS (
      SELECT d.doc_id, d.y, {_SCORE_PN} AS p_nano
      FROM docx d CROSS JOIN p{N_STEPS} {_SCORE_JOIN}
      WHERE {_EVAL_PRED}
    )
    SELECT CAST(p{N_STEPS}.b0 AS VARCHAR) AS b0_nano,
           CAST(p{N_STEPS}.b1 AS VARCHAR) AS b1_nano,
           (SELECT CAST(sum(CASE WHEN y = 1
                        AND p_nano >= {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS tp,
           (SELECT CAST(sum(CASE WHEN y = 0
                        AND p_nano >= {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS fp,
           (SELECT CAST(sum(CASE WHEN y = 0
                        AND p_nano < {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS tn,
           (SELECT CAST(sum(CASE WHEN y = 1
                        AND p_nano < {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS fn,
           (SELECT ((sum(CASE WHEN (y = 1) = (p_nano >= {KEEP_THRESHOLD_NANO})
                         THEN 1 ELSE 0 END)) * 10000) // count(*)
            FROM pred) AS accuracy_bp,
           (SELECT (greatest(sum(y), count(*) - sum(y)) * 10000)
                   // count(*) FROM pred) AS base_bp,
           (SELECT ((sum(CASE WHEN (y = 1) = (p_nano >= {KEEP_THRESHOLD_NANO})
                         THEN 1 ELSE 0 END)) * 10000) // count(*)
            FROM pred)
             >= (SELECT (greatest(sum(y), count(*) - sum(y)) * 10000)
                        // count(*) FROM pred) + {DEPLOY_MARGIN_BP}
             AS deployable
    FROM p{N_STEPS}
    """),
)
def quality_classifier_eval(spark, sf_dir):
    """HELD-OUT evaluation of the quality classifier — the deployment
    GATE a curation pipeline runs before trusting a filter: train on
    {_TRAIN_PRED} docs only (class LMs count TRAIN-slice bigrams
    only; eval-only buckets fall back to neutral 1:1 evidence; the
    logistic fit sees train rows only — no leakage anywhere), score
    the disjoint {_EVAL_PRED} docs, and report the eval confusion
    matrix, exact basis-point accuracy, the majority base rate, and
    the ``deployable`` verdict (accuracy ≥ base + {DEPLOY_MARGIN_BP}
    bp).

    On THIS corpus the verdict is FALSE — and that is the point: the
    synthetic ``lang`` label is drawn independently of the shared
    word vocabulary (every language samples the same tokens), so the
    transductive fit of quality_classifier_train (85% accuracy)
    cannot transfer out-of-sample; the eval stage exposes the
    memorization and correctly REJECTS the filter before deployment
    (asserted in tests/test_quality_clf.py). Trajectory and verdicts
    are exact in both engines."""
    docx = _features_df(spark, sf_dir, lm_pred=_TRAIN_PRED)
    params = _trained_params(
        spark, docx.filter(F.expr(_TRAIN_PRED))
    )
    pred = with_p_nano(
        docx.filter(F.expr(_EVAL_PRED)), params, sig_spark_df(spark)
    ).select("y", F.col("pn").alias("p_nano"))
    keep = F.col("p_nano") >= KEEP_THRESHOLD_NANO
    conf = pred.agg(
        F.sum(F.when((F.col("y") == 1) & keep, 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("y") == 0) & keep, 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("y") == 0) & ~keep, 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
        F.sum(F.when((F.col("y") == 1) & ~keep, 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.expr(
            "div(sum(CASE WHEN (y = 1) = "
            f"(p_nano >= {KEEP_THRESHOLD_NANO})"
            " THEN 1 ELSE 0 END) * 10000, count(*))"
        ).alias("accuracy_bp"),
        F.expr(
            "div(greatest(sum(y), count(*) - sum(y)) * 10000, count(*))"
        ).alias("base_bp"),
    )
    return params.crossJoin(conf).select(
        F.col("b0").cast("string").alias("b0_nano"),
        F.col("b1").cast("string").alias("b1_nano"),
        "tp",
        "fp",
        "tn",
        "fn",
        "accuracy_bp",
        "base_bp",
        (
            F.col("accuracy_bp")
            >= F.col("base_bp") + F.lit(DEPLOY_MARGIN_BP)
        ).alias("deployable"),
    )


# ---------------------------------------------------------------------
# Streaming twin (r20): the deployed life of the classifier — model
# and feature LMs are FITTED ON THE BASE CORPUS and FROZEN; arriving
# document batches score against them. Frozen state makes every doc's
# verdict independent of its batch, so the stream is replay-safe with
# the r19 no-ledger construction and must equal the batch oracle bit
# for bit.

_STREAM_BASE_PRED = "doc_id % 5 <> 0"
_STREAM_ARRIVING_PRED = "doc_id % 5 = 0"
# neutral evidence for buckets the frozen LM never saw:
# ((0+1)*SCALE)//(0+1)
_NEUTRAL_S = DSIR_SCALE


def _bigrams_df(docs):
    """(doc_id, lang, f): hashed-bigram bucket occurrences."""
    return (
        docs.select("doc_id", "lang", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) >= 2 THEN "
                    "filter(transform(sequence(0, size(ws) - 2),"
                    " i -> struct(ws[i] AS a, ws[i + 1] AS b)),"
                    " p -> p.a <> '' AND p.b <> '') "
                    "ELSE array() END"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            "lang",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", "bg.a", "bg.b")), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
                % DSIR_NB
            ).alias("f"),
        )
    )


def _lm_from(w):
    """(f, s): frozen evidence table — domain and counts from ``w``
    alone (≤ NB rows; one grouped aggregate — _lm_fused)."""
    return _lm_fused(w, F.col("lang") == POS_LANG)


def _docx_against(w, lm):
    """(doc_id, lang, x, y) of the docs in ``w`` scored against a
    FROZEN lm: unseen buckets take the neutral 1:1 evidence."""
    return (
        w.join(F.broadcast(lm), "f", "left")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.length(
                F.bin(
                    F.expr(
                        "1 + div(sum(coalesce(s,"
                        f" {_NEUTRAL_S})) * {DSIR_SCALE}, count(*))"
                    )
                )
            )
            .cast("bigint")
            .alias("x"),
            F.when(F.min("lang") == POS_LANG, 1).otherwise(0).alias("y"),
        )
    )


def score_against(docs, lm, params):
    """(doc_id, lang, x, p_nano, keep): gate verdicts for ``docs``
    against frozen (lm, params) — the per-batch scoring kernel the
    streaming runner applies (per-doc independent by construction;
    sigmoid via the logistic.py grid, no engine transcendental)."""
    docx = _docx_against(_bigrams_df(docs), lm)
    sig = sig_spark_df(docs.sparkSession)
    return with_p_nano(docx, params, sig).select(
        "doc_id",
        "lang",
        "x",
        F.col("pn").alias("p_nano"),
        (F.col("pn") >= KEEP_THRESHOLD_NANO).alias("keep"),
    )


def _stream_oracle_sql() -> str:
    base, arriving = _STREAM_BASE_PRED, _STREAM_ARRIVING_PRED
    ctes = [
        _FEATURE_CTES.split(",\n    poslm")[0],  # toks + w only
        f"""wb AS (SELECT * FROM w WHERE {base}),
    poslm AS (
      SELECT f, CAST(count(*) AS BIGINT) AS cp FROM wb
      WHERE lang = '{POS_LANG}' GROUP BY f
    ),
    neglm AS (
      SELECT f, CAST(count(*) AS BIGINT) AS cn FROM wb
      WHERE lang <> '{POS_LANG}' GROUP BY f
    ),
    lm AS (
      SELECT a.f,
             ((coalesce(p.cp, 0) + 1) * {DSIR_SCALE})
               // (coalesce(n.cn, 0) + 1) AS s
      FROM (SELECT DISTINCT f FROM wb) a
      LEFT JOIN poslm p ON p.f = a.f
      LEFT JOIN neglm n ON n.f = a.f
    ),
    docx AS (
      SELECT w.doc_id, min(w.lang) AS lang,
             CAST(length(bin(1 + (sum(coalesce(lm.s, {_NEUTRAL_S}))
                                  * {DSIR_SCALE}) // count(*)))
                  AS BIGINT) AS x,
             CASE WHEN min(w.lang) = '{POS_LANG}' THEN 1 ELSE 0 END AS y
      FROM w LEFT JOIN lm ON lm.f = w.f
      GROUP BY w.doc_id
    ),
    rows AS (SELECT x, y FROM docx WHERE {base})""",
        *_train_cte_chain(),
    ]
    return materialize_ctes(f"""
    WITH {",".join(ctes)}
    SELECT d.doc_id, d.lang, d.x,
           {_SCORE_PN} AS p_nano,
           {_SCORE_PN} >= {KEEP_THRESHOLD_NANO} AS keep
    FROM docx d CROSS JOIN p{N_STEPS} {_SCORE_JOIN}
    WHERE {arriving}
    ORDER BY d.doc_id
    """)


@query("r20_stream_quality_gate", _stream_oracle_sql())
def r20_stream_quality_gate(spark, sf_dir):
    """Streaming quality gate (15th stream==batch pin;
    streaming/filesource.stream_quality_gate_run): the classifier's
    feature LM and logistic model are fitted on the base slice
    ({_STREAM_BASE_PRED}) and FROZEN; the arriving slice streams in
    as four mtime-ordered files — one micro-batch each — plus a
    replay of the first file that must contribute zero (frozen state
    ⇒ per-doc verdict independence ⇒ the r19 no-ledger
    partition-overwrite + already-scored-skip construction). The
    final verdict table must equal the batch oracle (train on base,
    score arrivals) bit for bit."""
    from etl_mp_transactions_spark.streaming import filesource
    from etl_mp_transactions_spark.workdirs import run_dir

    docs = load_table(spark, sf_dir, "documents")
    work = run_dir("r20_qgate")
    arriving = docs.filter(F.expr(_STREAM_ARRIVING_PRED)).withColumn(
        "g", F.expr("(doc_id div 5) % 4")
    )
    stage = filesource.stage_arrivals(arriving, os.path.join(work, "in"))
    base = docs.filter(F.expr(_STREAM_BASE_PRED))
    wb = _bigrams_df(base)
    lm = _lm_from(wb).localCheckpoint(eager=True)
    base_docx = _docx_against(wb, lm).localCheckpoint(eager=True)
    params = _trained_params(spark, base_docx)
    out = filesource.stream_quality_gate_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "verdicts"),
        lm,
        params,
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------
# POSITIVE control for the deployment gate (VERDICT r10 task #2).
# quality_classifier_eval correctly REJECTS the lang-label filter
# (labels independent of the shared vocabulary ⇒ transductive
# memorization) — that stays as the pinned negative control. This
# variant derives the label from a REAL text feature the synthetic
# corpus does carry: per-doc marker-stopword density
# (operators/textstats.STOPWORDS — the lang-ID marker union), so
# bigram evidence genuinely transfers to held-out docs and the gate
# must PASS (deployable=TRUE): train → held-out eval → deploy, the
# full lifecycle demonstrated end-to-end.

from etl_mp_transactions_spark.operators.textstats import STOPWORDS

POSCTRL_THRESH_BP = 600  # ≈ the corpus median density: balanced label
_PC_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS)

# exact basis-point stopword density, shared-text in both engines:
# non-negative ints so truncating division == floor division
_PC_Y_SPARK = (
    "CASE WHEN (cast(size(filter(ws, t -> array_contains(array("
    f"{_PC_STOPS}), t))) as bigint) * 10000)"
    " div greatest(size(filter(ws, t -> t <> '')), 1)"
    f" >= {POSCTRL_THRESH_BP} THEN 1 ELSE 0 END"
)
_PC_Y_SQL = (
    "CASE WHEN (CAST(len(list_filter(ws, t -> list_contains(["
    f"{_PC_STOPS}], t))) AS BIGINT) * 10000)"
    " // greatest(len(list_filter(ws, t -> t <> '')), 1)"
    f" >= {POSCTRL_THRESH_BP} THEN 1 ELSE 0 END"
)


def _posctrl_ctes() -> list[str]:
    """Shared CTE prefix of the positive-control chain: labeled
    hashed-bigram features with train-only LMs, then the N_STEPS
    Newton trajectory — reused by the eval-gate and calibration
    queries."""
    ctes = [f"""toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    lab AS (
      SELECT doc_id, {_PC_Y_SQL} AS y FROM toks
    ),
    w AS (
      SELECT t.doc_id, l.y,
             (('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 8))::BIGINT
              % {DSIR_NB}) AS f
      FROM toks t JOIN lab l USING (doc_id),
           unnest(generate_series(1, len(ws) - 1)) AS u(i)
      WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ),
    wtr AS (SELECT * FROM w WHERE {_TRAIN_PRED}),
    poslm AS (
      SELECT f, CAST(count(*) AS BIGINT) AS cp FROM wtr
      WHERE y = 1 GROUP BY f
    ),
    neglm AS (
      SELECT f, CAST(count(*) AS BIGINT) AS cn FROM wtr
      WHERE y = 0 GROUP BY f
    ),
    lm AS (
      SELECT a.f,
             ((coalesce(p.cp, 0) + 1) * {DSIR_SCALE})
               // (coalesce(n.cn, 0) + 1) AS s
      FROM (SELECT DISTINCT f FROM w) a
      LEFT JOIN poslm p ON p.f = a.f
      LEFT JOIN neglm n ON n.f = a.f
    ),
    docx AS (
      SELECT w.doc_id, min(w.y) AS y,
             CAST(length(bin(1 + (sum(lm.s) * {DSIR_SCALE}) // count(*)))
                  AS BIGINT) AS x
      FROM w JOIN lm ON lm.f = w.f
      GROUP BY w.doc_id
    ),
    rows AS (SELECT x, y FROM docx WHERE {_TRAIN_PRED})""",
        *_train_cte_chain(),
    ]
    return ctes


def _posctrl_sql() -> str:
    return f"""
    WITH {",".join(_posctrl_ctes())},
    pred AS (
      SELECT d.doc_id, d.y, {_SCORE_PN} AS p_nano
      FROM docx d CROSS JOIN p{N_STEPS} {_SCORE_JOIN}
      WHERE {_EVAL_PRED}
    )
    SELECT CAST(p{N_STEPS}.b0 AS VARCHAR) AS b0_nano,
           CAST(p{N_STEPS}.b1 AS VARCHAR) AS b1_nano,
           (SELECT CAST(sum(CASE WHEN y = 1
                        AND p_nano >= {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS tp,
           (SELECT CAST(sum(CASE WHEN y = 0
                        AND p_nano >= {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS fp,
           (SELECT CAST(sum(CASE WHEN y = 0
                        AND p_nano < {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS tn,
           (SELECT CAST(sum(CASE WHEN y = 1
                        AND p_nano < {KEEP_THRESHOLD_NANO}
                        THEN 1 ELSE 0 END) AS BIGINT) FROM pred) AS fn,
           (SELECT ((sum(CASE WHEN (y = 1) = (p_nano >= {KEEP_THRESHOLD_NANO})
                         THEN 1 ELSE 0 END)) * 10000) // count(*)
            FROM pred) AS accuracy_bp,
           (SELECT (greatest(sum(y), count(*) - sum(y)) * 10000)
                   // count(*) FROM pred) AS base_bp,
           (SELECT ((sum(CASE WHEN (y = 1) = (p_nano >= {KEEP_THRESHOLD_NANO})
                         THEN 1 ELSE 0 END)) * 10000) // count(*)
            FROM pred)
             >= (SELECT (greatest(sum(y), count(*) - sum(y)) * 10000)
                        // count(*) FROM pred) + {DEPLOY_MARGIN_BP}
             AS deployable
    FROM p{N_STEPS}
    """


def _posctrl_docx(spark, sf_dir):
    """(doc_id, x, y) for the stopword-density label: class LMs count
    TRAIN-slice bigrams only (the same leak guard as the eval query);
    eval-only buckets fall back to the neutral 1:1 evidence via the
    +1 smoothing. Checkpointed once per CALL; every invocation
    recomputes from parquet (the r15 cross-query _DOCX_MEMO is
    removed per VERDICT r15 task #2). Same r16 pass structure as
    ``_features_df``: the labeled bigram frame persists for this call
    so tokenize+md5 runs once, the fused LM broadcasts, and the only
    corpus shuffle is the final groupBy(doc_id)."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ws"))
    lab = toks.select("doc_id", F.expr(_PC_Y_SPARK).alias("y"))
    w = (
        _bigrams_df(docs)
        .drop("lang")
        .join(lab, "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lm = _lm_fused(w, F.col("y") == 1, _TRAIN_PRED)
    docx = (
        w.join(F.broadcast(lm), "f")
        .groupBy("doc_id")
        .agg(
            F.min("y").alias("y"),
            F.length(
                F.bin(
                    F.expr(f"1 + div(sum(s) * {DSIR_SCALE}, count(*))")
                )
            )
            .cast("bigint")
            .alias("x"),
        )
    )
    out = docx.localCheckpoint(eager=True)
    w.unpersist()
    return out


@query("quality_classifier_poscontrol", materialize_ctes(_posctrl_sql()))
def quality_classifier_poscontrol(spark, sf_dir):
    """POSITIVE-control deployment gate (VERDICT r10 task #2): same
    train-on-{_TRAIN_PRED} / score-{_EVAL_PRED} protocol and leak
    guards as quality_classifier_eval, but with the label derived
    from a real text feature (marker-stopword density ≥
    {POSCTRL_THRESH_BP} bp) instead of the vocabulary-independent
    ``lang`` draw. Bigram evidence now genuinely carries the label
    signal, so the held-out accuracy beats the majority base rate by
    well over the {DEPLOY_MARGIN_BP} bp margin at every SF and the
    verdict is deployable=TRUE — the end-to-end
    train→eval→deploy lifecycle the negative control (eval rejecting
    the memorizing filter) could not demonstrate. Exact trajectory in
    both engines; python replay in tests/test_quality_clf.py."""
    docx = _posctrl_docx(spark, sf_dir)
    params = _trained_params(spark, docx.filter(F.expr(_TRAIN_PRED)))
    pred = with_p_nano(
        docx.filter(F.expr(_EVAL_PRED)), params, sig_spark_df(spark)
    ).select("y", F.col("pn").alias("p_nano"))
    keep = F.col("p_nano") >= KEEP_THRESHOLD_NANO
    conf = pred.agg(
        F.sum(F.when((F.col("y") == 1) & keep, 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("y") == 0) & keep, 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("y") == 0) & ~keep, 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
        F.sum(F.when((F.col("y") == 1) & ~keep, 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.expr(
            "div(sum(CASE WHEN (y = 1) = "
            f"(p_nano >= {KEEP_THRESHOLD_NANO})"
            " THEN 1 ELSE 0 END) * 10000, count(*))"
        ).alias("accuracy_bp"),
        F.expr(
            "div(greatest(sum(y), count(*) - sum(y)) * 10000, count(*))"
        ).alias("base_bp"),
    )
    return params.crossJoin(conf).select(
        F.col("b0").cast("string").alias("b0_nano"),
        F.col("b1").cast("string").alias("b1_nano"),
        "tp",
        "fp",
        "tn",
        "fn",
        "accuracy_bp",
        "base_bp",
        (
            F.col("accuracy_bp")
            >= F.col("base_bp") + F.lit(DEPLOY_MARGIN_BP)
        ).alias("deployable"),
    )


# calibration audit: 10 equal-width probability bins over [0, 1)
CAL_BINS = 10


@query(
    "quality_classifier_calibration",
    materialize_ctes(f"""
    WITH {",".join(_posctrl_ctes())},
    pred AS (
      SELECT d.doc_id, d.y, {_SCORE_PN} AS p_nano
      FROM docx d CROSS JOIN p{N_STEPS} {_SCORE_JOIN}
      WHERE {_EVAL_PRED}
    )
    SELECT least(p_nano * {CAL_BINS} // 1000000000,
                 {CAL_BINS - 1}) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(p_nano) // count(*) AS BIGINT) AS mean_p_nano,
           CAST(sum(y) * 10000 // count(*) AS BIGINT) AS obs_bp
    FROM pred
    GROUP BY 1
    ORDER BY bin
    """),
)
def quality_classifier_calibration(spark, sf_dir):
    """Reliability diagram of the POSITIVE-control classifier on the
    held-out slice — the calibration evidence a deployment records
    next to the accuracy gate: eval docs bucketed into {CAL_BINS}
    equal-width predicted-probability bins; per bin the exact count,
    the exact integer mean predicted probability (nano units,
    floor-div), and the exact observed positive rate (basis points).
    A well-calibrated filter has obs_bp tracking mean_p_nano/1e5 per
    bin; a monotone-in-bin observed rate is the weaker property a
    2-parameter logistic on a monotone feature guarantees, pinned in
    tests. Bounded output (≤{CAL_BINS} rows at any corpus size);
    everything after the corpus-linear feature pass runs on the
    doc-level table."""
    docx = _posctrl_docx(spark, sf_dir)
    params = _trained_params(spark, docx.filter(F.expr(_TRAIN_PRED)))
    pred = with_p_nano(
        docx.filter(F.expr(_EVAL_PRED)), params, sig_spark_df(spark)
    ).select("y", F.col("pn").alias("p_nano"))
    return (
        pred.groupBy(
            F.expr(
                f"least(p_nano * {CAL_BINS} div 1000000000,"
                f" {CAL_BINS - 1})"
            ).alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr("div(sum(p_nano), count(*))")
            .cast("bigint")
            .alias("mean_p_nano"),
            F.expr("div(sum(y) * 10000, count(*))")
            .cast("bigint")
            .alias("obs_bp"),
        )
        .orderBy("bin")
    )


# ------------------------------------------- score-drift PSI monitor
# The governance read a DEPLOYED quality filter runs next to the
# calibration table: population stability index of the model-score
# distribution between the training slice and the serving (eval)
# slice. PSI = sum over bins of (p_b - q_b) * ln(p_b / q_b) with
# add-1 smoothing over the CAL_BINS bins (zero-count bins
# participate). All-integer: shares quantized to MICRO units, the log
# ratio through the exactmath ln_nano kernel on integer arguments
# (a*(E+B) vs b*(T+B) — both < 2^50 at any gated corpus), and since
# (p - q) and ln(p/q) always share a sign, each term is
# abs*abs — non-negative, so truncating division is floor in both
# engines and the bin terms sum order-free. Conventional thresholds
# (0.1 watch / 0.2 drift) carried as the verdict columns.
PSI_MICRO = 1_000_000
PSI_DRIFT_NANO = 200_000_000  # PSI > 0.2 -> distribution shifted
_PSI_GUARD_MSG = (
    "'psi log-ratio argument exceeds the ln_nano 2^50 domain:"
    " rescale the bin counts before the drift monitor'"
)


def _psi_sql() -> str:
    from etl_mp_transactions_spark.functions.exactmath import ln_nano_sql

    lnp = ln_nano_sql("m.arg_p", "duck")
    lnq = ln_nano_sql("m.arg_q", "duck")
    return materialize_ctes(f"""
    WITH {",".join(_posctrl_ctes())},
    pred AS (
      SELECT d.doc_id, {_SCORE_PN} AS p_nano
      FROM docx d CROSS JOIN p{N_STEPS} {_SCORE_JOIN}
    ),
    binned AS (
      SELECT doc_id,
             least(p_nano * {CAL_BINS} // 1000000000,
                   {CAL_BINS - 1}) AS bin
      FROM pred
    ),
    bins AS (SELECT CAST(g.g AS BIGINT) AS bin
             FROM generate_series(0, {CAL_BINS - 1}) g(g)),
    cnt AS (
      SELECT b.bin,
             CAST(coalesce(sum(CASE WHEN x.doc_id % 2 = 0
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn,
             CAST(coalesce(sum(CASE WHEN x.doc_id % 2 = 1
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS en
      FROM bins b LEFT JOIN binned x ON x.bin = b.bin
      GROUP BY b.bin
    ),
    tot AS (
      SELECT CAST(sum(tn) + {CAL_BINS} AS BIGINT) AS ta,
             CAST(sum(en) + {CAL_BINS} AS BIGINT) AS ea
      FROM cnt
    ),
    m AS (
      SELECT c.bin, c.tn, c.en,
             ((c.tn + 1) * {PSI_MICRO}) // t.ta AS p_micro,
             ((c.en + 1) * {PSI_MICRO}) // t.ea AS q_micro,
             (c.tn + 1) * t.ea
               + CASE WHEN (c.tn + 1) * t.ea >= {1 << 50}
                       OR (c.en + 1) * t.ta >= {1 << 50}
                      THEN CAST(error({_PSI_GUARD_MSG}) AS BIGINT)
                      ELSE 0 END AS arg_p,
             (c.en + 1) * t.ta AS arg_q
      FROM cnt c CROSS JOIN tot t
    ),
    terms AS (
      SELECT bin, tn, en, p_micro, q_micro,
             (abs(p_micro - q_micro)
              * abs({lnp} - {lnq})) // {PSI_MICRO} AS psi_term_nano
      FROM m
    ),
    total AS (SELECT CAST(sum(psi_term_nano) AS BIGINT) AS psi FROM terms)
    SELECT t.bin, t.tn AS train_n, t.en AS eval_n,
           t.p_micro, t.q_micro, t.psi_term_nano,
           tt.psi AS psi_total_nano,
           tt.psi > {PSI_DRIFT_NANO} AS drifted
    FROM terms t CROSS JOIN total tt
    ORDER BY t.bin
    """)


@query("quality_psi_drift", _psi_sql())
def quality_psi_drift(spark, sf_dir):
    """Score-drift PSI between the train and serving slices (section
    comment): one row per probability bin with smoothed counts,
    micro-unit shares, the exact-integer PSI contribution, the total,
    and the conventional 0.2 drift verdict. On this corpus the two
    slices are exchangeable halves, so the pinned expectation is NO
    drift — the monitor's negative control; a production pipeline
    points the eval slice at live traffic and alerts on the flag.
    Bounded output (CAL_BINS rows); one corpus pass (memoized docx) +
    bin aggregates."""
    from etl_mp_transactions_spark.functions.exactmath import ln_nano_sql

    docx = _posctrl_docx(spark, sf_dir)
    params = _trained_params(spark, docx.filter(F.expr(_TRAIN_PRED)))
    pred = with_p_nano(docx, params, sig_spark_df(spark)).select(
        "doc_id", F.col("pn").alias("p_nano")
    )
    binned = pred.select(
        "doc_id",
        F.expr(
            f"least(p_nano * {CAL_BINS} div 1000000000, {CAL_BINS - 1})"
        ).alias("bin"),
    )
    bins = spark.range(CAL_BINS).select(F.col("id").alias("bin"))
    cnt = (
        bins.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.sum(F.expr("CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END")),
                F.lit(0),
            )
            .cast("long")
            .alias("tn"),
            F.coalesce(
                F.sum(F.expr("CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END")),
                F.lit(0),
            )
            .cast("long")
            .alias("en"),
        )
    )
    tot = cnt.agg(
        (F.sum("tn") + F.lit(CAL_BINS)).cast("long").alias("ta"),
        (F.sum("en") + F.lit(CAL_BINS)).cast("long").alias("ea"),
    )
    m = cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        "tn",
        "en",
        F.expr(f"div((tn + 1) * {PSI_MICRO}, ta)").alias("p_micro"),
        F.expr(f"div((en + 1) * {PSI_MICRO}, ea)").alias("q_micro"),
        # loud ln_nano-domain guard (ADVICE r14 low): the log-ratio
        # arguments grow ~n², and past 2^50 the kernel would be
        # silently wrong — raise instead (the SUM_GUARD pattern)
        F.expr(
            f"(tn + 1) * ea"
            f" + CASE WHEN (tn + 1) * ea >= {1 << 50}"
            f"       OR (en + 1) * ta >= {1 << 50}"
            f"      THEN CAST(assert_true(false, {_PSI_GUARD_MSG})"
            f"           AS BIGINT)"
            f"      ELSE 0 END"
        ).alias("arg_p"),
        F.expr("(en + 1) * ta").alias("arg_q"),
    )
    lnp = ln_nano_sql("arg_p", "spark")
    lnq = ln_nano_sql("arg_q", "spark")
    terms = m.select(
        "bin",
        "tn",
        "en",
        "p_micro",
        "q_micro",
        F.expr(
            f"div(abs(p_micro - q_micro) * abs({lnp} - {lnq}),"
            f" {PSI_MICRO})"
        ).alias("psi_term_nano"),
    )
    total = terms.agg(
        F.sum("psi_term_nano").cast("long").alias("psi_total_nano")
    )
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            "bin",
            F.col("tn").alias("train_n"),
            F.col("en").alias("eval_n"),
            "p_micro",
            "q_micro",
            "psi_term_nano",
            "psi_total_nano",
            (F.col("psi_total_nano") > PSI_DRIFT_NANO).alias("drifted"),
        )
        .orderBy("bin")
    )
