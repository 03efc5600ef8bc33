"""Cramer solve chains on ADVERSARIAL operands across all engines.

Under test:
- the LIVE pure-int64 chain (functions/i128.py, VERDICT r13 task #3):
  exact 128-bit limb products + common floor-shift + base-1000 long
  division, NO 128-bit engine type anywhere — its semantics must be
  identical in DuckDB, Spark (under BOTH ANSI modes — the whole point
  is config-invariance), and the python twin, for ANY int64 operands;
- the Python twin of the retired 128-bit chain (logistic.py
  cramer_update_py), the exact-rational reference.

Operand sets cover exact-half remainders (the rounding boundary),
negative numerators, zero/negative/singular denominators, limb-size
boundaries (2^21, 2^42), clamp triggers (separable-data blowup), the
shift on/off boundary (bitlen(den) = 50/51), and near-int64 extremes.
"""

import random

import duckdb
import pytest
from fractions import Fraction

from etl_mp_transactions_spark.functions.i128 import (
    CLAMP,
    cramer_i64_stages,
    cramer_update_i64_py,
    delta_py,
)
from etl_mp_transactions_spark.queries.logistic import cramer_update_py

# (g0, g1, h00, h01, h11) for the Python twin (requires den > 0):
CASES = [
    # exact .5 remainder: num/den = 1/2e9 -> rounds away to 1
    (1, 0, 2_000_000_000, 0, 1),
    (-1, 0, 2_000_000_000, 0, 1),
    # zero update
    (0, 0, 7, 0, 13),
    # large operands near the BIGINT sums the real data produces
    (10**15, -(10**15) + 7, 3 * 10**14, 10**13, 2 * 10**17),
    (-(10**15), 10**14 + 3, 10**14, -(10**12), 10**17),
    # tiny den (ill-conditioned but positive), big step
    (999_999_937, -31, 3, 1, 17),
    # den dwarfs num: sub-nano updates round to 0 or +-1
    (3, -3, 10**9, 0, 10**9),
]

# (pb0, pb1, g0, g1, h00, h01, h11) for the LIVE i64 chain — the full
# int64 domain, including inputs the retired chain could not take:
I64_CASES = [
    (0, 0, 1, 0, 2_000_000_000, 0, 1),
    (0, 0, -1, 0, 2_000_000_000, 0, 1),
    (0, 0, 0, 0, 7, 0, 13),
    (0, 0, 999_999_937, -31, 3, 1, 17),
    (0, 0, 3, -3, 10**9, 0, 10**9),
    # singular Hessian (den = 0) and negative den -> no update
    (5, -5, 123, 456, 7, 7, 7),
    (0, 0, 10**18, -(10**18), 0, 0, 0),
    (0, 0, 2097151, 2097152, 4398046511103, 4398046511104, 2097153),
    # clamp: numerator >> denominator (separable-data Newton blowup)
    (0, 0, 2**61, 2**61, 1, 0, 1),
    (1, 2, -(2**61), 2**60, 1, 0, 1),
    # limb boundaries
    (0, 0, 2**21 - 1, 2**21, 2**42 - 1, 2**42, 2**21 + 1),
    (0, 0, 2**42, -(2**42), 2**21, 2**20, 2**63 - 1),
    # near int64 max everywhere
    (0, 0, 2**62, -(2**62), 2**62, -(2**62) + 1, 2**62),
    # shift boundary: bitlen(den) exactly 50 / 51
    (0, 0, 12345678, -87654321, 1, 0, 2**49 + 17),
    (0, 0, 12345678, -87654321, 1, 0, 2**50 + 17),
    (0, 0, 2**55, 2**54, 1, 0, 2**50 + 17),
]


def _i64_random_cases(n=300, seed=1409):
    rng = random.Random(seed)
    M = 2**62
    rows = []
    for _ in range(n):
        mode = rng.randrange(3)
        if mode == 0:
            rows.append(tuple(rng.randint(-M, M) for _ in range(7)))
        elif mode == 1:
            rows.append(
                tuple(
                    rng.choice(
                        [0, 1, -1, 2**21, 2**21 - 1, 2**42, -(2**42) + 1]
                    )
                    for _ in range(7)
                )
            )
        else:  # Newton-shaped: h00, h11 >= 0
            nn = rng.randint(1, 10**6)
            x = rng.randint(1, 64)
            rows.append(
                (
                    rng.randint(-(10**10), 10**10),
                    rng.randint(-(10**10), 10**10),
                    rng.randint(-nn * 10**9, nn * 10**9),
                    rng.randint(-nn * x * 10**9, nn * x * 10**9),
                    rng.randint(0, nn * 250_000_000),
                    rng.randint(
                        -nn * x * 250_000_000, nn * x * 250_000_000
                    ),
                    rng.randint(0, nn * x * x * 250_000_000),
                )
            )
    return rows


def test_python_twin_is_exact_rational_half_away():
    for g0, g1, h00, h01, h11 in CASES:
        den = h00 * h11 - h01 * h01
        for num in (g0 * h11 - g1 * h01, g1 * h00 - g0 * h01):
            got = cramer_update_py(num, den)
            want = Fraction(num * 10**9, den)
            assert abs(Fraction(got) - want) <= Fraction(1, 2)
            if abs(Fraction(got) - want) == Fraction(1, 2):
                assert abs(got) > abs(want)  # ties go AWAY from zero


def test_i64_twin_tracks_exact_rational_within_bound():
    """The documented quantization contract: delta_py equals the
    exact rational round-half-away within |delta|*2^-49 + 1 nano
    (and exactly when bitlen(den) <= 50), clamped at CLAMP."""
    for pb0, pb1, g0, g1, h00, h01, h11 in I64_CASES + _i64_random_cases(
        200, seed=7
    ):
        den = h00 * h11 - h01 * h01
        if den <= 0:
            assert delta_py(g0 * h11 - g1 * h01, den) == 0
            continue
        for num in (g0 * h11 - g1 * h01, g1 * h00 - g0 * h01):
            d = delta_py(num, den)
            exact = Fraction(num * 10**9, den)
            if abs(d) >= CLAMP:
                assert abs(exact) >= CLAMP - 1
                continue
            bound = Fraction(abs(d), 2**49) + 1
            assert abs(Fraction(d) - exact) <= bound
            if den.bit_length() <= 50:
                assert abs(Fraction(d) - exact) <= Fraction(1, 2)


def _duck_i64_batch(rows):
    stages = cramer_i64_stages("//")
    vals = ", ".join(
        f"({i}, {r[0]}::BIGINT, {r[1]}::BIGINT, {r[2]}::BIGINT,"
        f" {r[3]}::BIGINT, {r[4]}::BIGINT, {r[5]}::BIGINT,"
        f" {r[6]}::BIGINT)"
        for i, r in enumerate(rows)
    )
    sql = (
        f"WITH d0 AS (SELECT * FROM (VALUES {vals})"
        " v(rid, pb0, pb1, g0, g1, h00, h01, h11))"
    )
    src = "d0"
    for k, st in enumerate(stages[:-1]):
        sql += f", d{k + 1} AS (SELECT *, {', '.join(st)} FROM {src})"
        src = f"d{k + 1}"
    sql += f" SELECT rid, {', '.join(stages[-1])} FROM {src} ORDER BY rid"
    return [(int(r[1]), int(r[2])) for r in duckdb.sql(sql).fetchall()]


def test_i64_duckdb_chain_matches_python_twin():
    rows = I64_CASES + _i64_random_cases(400)
    got = _duck_i64_batch(rows)
    for row, g in zip(rows, got):
        assert g == cramer_update_i64_py(*row), row


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_i64_spark_chain_matches_python_twin_both_ansi(spark, ansi):
    """THE config-invariance pin: the identical stage text produces
    the identical integers whether or not the session runs ANSI —
    there is no session knob left that can move this chain."""
    rows = I64_CASES + _i64_random_cases(120, seed=42)
    stages = cramer_i64_stages("div")
    old = spark.conf.get("spark.sql.ansi.enabled", "false")
    try:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        df = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(rows)],
            "rid BIGINT, pb0 BIGINT, pb1 BIGINT, g0 BIGINT, g1 BIGINT,"
            " h00 BIGINT, h01 BIGINT, h11 BIGINT",
        )
        cur = df
        for st in stages[:-1]:
            cur = cur.selectExpr("*", *st)
        out = cur.selectExpr("rid", *stages[-1]).orderBy("rid").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    for row, r in zip(rows, out):
        assert (r["b0"], r["b1"]) == cramer_update_i64_py(*row), row


# hypothesis property sweep: ANY int64 operands — the twin must match
# DuckDB's chain integer-for-integer, and (when unclamped, den > 0)
# sit within the documented bound of the exact rational.
try:
    from hypothesis import given, settings, strategies as st

    _I64 = st.integers(min_value=-(2**62), max_value=2**62)

    @given(_I64, _I64, _I64, _I64, _I64, _I64, _I64)
    @settings(max_examples=120, deadline=None)
    def test_i64_chain_property_duckdb_vs_twin(
        pb0, pb1, g0, g1, h00, h01, h11
    ):
        row = (pb0, pb1, g0, g1, h00, h01, h11)
        assert _duck_i64_batch([row])[0] == cramer_update_i64_py(*row)

    @given(_I64, _I64, _I64, _I64, _I64)
    @settings(max_examples=300, deadline=None)
    def test_i64_twin_property_rational_bound(g0, g1, h00, h01, h11):
        den = h00 * h11 - h01 * h01
        num = g0 * h11 - g1 * h01
        d = delta_py(num, den)
        if den <= 0:
            assert d == 0
            return
        if abs(d) >= CLAMP:
            assert abs(Fraction(num * 10**9, den)) >= CLAMP - 1
            return
        exact = Fraction(num * 10**9, den)
        assert abs(Fraction(d) - exact) <= Fraction(abs(d), 2**49) + 1

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass
