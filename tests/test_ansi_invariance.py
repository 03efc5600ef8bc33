"""ANSI-mode invariance of the quality/logistic family (r14).

Spark 4 ships with ``spark.sql.ansi.enabled=true`` by DEFAULT; a
driver box running ANSI while this box runs non-ANSI is exactly the
class of environment difference that could keep a query red at the
driver and green locally for rounds (the VERDICT r13 hypothesis the
i64 Cramer rewrite targets: DECIMAL semantics are ANSI-sensitive,
int64 ops are not). This test runs the WHOLE family end to end under
BOTH settings and pins bit-identical results — not just the solve
kernel (tests/test_cramer_exact.py covers that) but the feature
pipeline, grid joins, sums, scoring and gating around it.
"""

import pytest

from etl_mp_transactions_spark.registry import queries

FAMILY = [
    "logistic_newton_steps",
    "quality_classifier_poscontrol",
    "quality_classifier_poscontrol_docx",
    "quality_classifier_poscontrol_trajectory",
    "quality_classifier_poscontrol_step1",
    "quality_classifier_poscontrol_step3",
    # r15 decisive probes — same invariance bar as the family
    "quality_classifier_poscontrol_predx",
    "quality_classifier_poscontrol_varchar",
    "quality_classifier_train",
    "quality_classifier_calibration",
    "cramer_probe",
    "sigmoid_grid_probe",
    # r15 float-purge representatives: one per bigratio kernel shape
    # (scaled_div ranking, isqrt+red stack, DECIMAL-product Cramer,
    # pow10 ladder, aligned-subtract OLS) — DECIMAL intermediates are
    # the one ANSI-sensitive surface these conversions touch, so the
    # whole stack must be bit-identical under both modes
    "stats_via_sums",
    "association_rules",
    "item_cooccurrence_topk",
    "als_user_half_step",
    "gini_best_split",
    "ols_multifeature",
    "conformal_prediction_interval",
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", FAMILY)
def test_family_is_ansi_invariant(spark, sf_dir, name):
    # every invocation builds from parquet (the r15 cross-query memos
    # are gone — r16), so both passes BUILD under their own ANSI mode
    q = queries()[name]
    old = spark.conf.get("spark.sql.ansi.enabled", "false")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        off = _rows(q(spark, sf_dir))
        spark.conf.set("spark.sql.ansi.enabled", "true")
        on = _rows(q(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert on == off and len(on) > 0
