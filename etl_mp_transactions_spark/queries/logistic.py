"""In-engine logistic regression (SURVEY.md §2.9 ML family): three
unrolled Newton/IRLS steps with exact integer state — the fifth
exact ITERATIVE oracle family (after pagerank, HITS, k-core, BFS),
and the first whose recurrence runs through a sigmoid nonlinearity.

PORTABLE SIGMOID (VERDICT r11 task #1). Earlier rounds evaluated
``exp()`` inside each engine; JVM ``Math.exp`` and DuckDB's libm
``exp`` are not bit-identical across builds, and a 1-ulp difference
at a nano rounding boundary flips one per-row contribution → shifts
the model state → value-hash divergence on a foreign box (the r11
driver's ``quality_classifier_poscontrol`` red cell). The repo's own
rule — "the portable float is the one neither engine computes" — is
applied here the strong way: NO engine evaluates a transcendental at
all.

- z is kept in exact nano units (``b0 + b1*x``, all BIGINT) and
  quantized to DECI units (0.1 resolution), clamped to [-20, 20]
  where σ saturates to within 2e-9 of {0, 1};
- σ at each of the 401 grid points is precomputed ONCE in Python
  with exact ``fractions.Fraction`` arithmetic (e^0.1 via a 40-term
  Taylor series — truncation error ~1e-50, far below the nano
  rounding), so the literals are identical on every machine and
  independent of any libm;
- both engines read the SAME 401-row literal table: DuckDB via a
  VALUES CTE, Spark via a broadcast-joined literal DataFrame; the
  Python replay in tests uses the same dict. Three engines, one
  grid, zero transcendentals.

Exactness: with p a table literal, EVERY per-row contribution is
pure BIGINT arithmetic — g = n·(y·1e9 − p_nano), h = n·⌊(p_nano·
(1e9−p_nano)+5e8)/1e9⌋ — so the sums are order-free exact integers
and the whole 3-step trajectory is deterministic and
oracle-checkable. The Newton solve per step is PURE-INT64 integer
arithmetic (VERDICT r13 task #3 — the 128-bit types removed from the
chain entirely): the 2x2 Cramer update Δ = round_half_away(1e9·num/
den) with num = g0·h11 − g1·h01 (resp. g1·h00 − g0·h01) and den =
h00·h11 − h01² runs through functions/i128.py — exact 128-bit cross
products via 21-bit limb schoolbook multiplication, an exact common
floor-shift of num/den to division-safe width (perturbs Δ by at most
|Δ|·2⁻⁴⁹ + 1 nano, deterministically), then base-1000 long division
with round-half-away. EVERY op is int64 +,−,×,%,truncating-div,abs,
CASE — semantics with NO session-config surface in Spark OR DuckDB
(the r12 solve used Spark DECIMAL(38,0)/DuckDB HUGEINT, and Spark
decimal semantics vary with spark.sql.ansi.enabled /
decimalOperations.allowPrecisionLoss — the one environment-dependent
piece left in the chain, and the prime suspect for the driver-red
``quality_classifier_poscontrol``; that 128-bit chain and its
``cramer_probe_decimal128`` diagnostic are retired, the HUGEINT cause
being fixed at registration and pinned by
tests/test_r16_attested_types.py). tests/test_cramer_exact.py drives
the int64 chain through all three engines on adversarial operands
under both ANSI modes.

Scale: rows are pre-grouped by (x, y) — the feature is an integer
band / bit-length with a bounded (≤ ~64-value) domain, so training
after ONE corpus scan runs on a ≤ 2·|domain|-row table: each Newton
step is a tiny broadcast join + reduce, not a corpus pass. At 100 TB
the scan happens once; the iterations are free.

Feature/target mirror gini_best_split: x = floor(acctbal/500) band,
y = (segment = BUILDING).
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import functions as F

from etl_mp_transactions_spark.functions.i128 import (
    PROBE_CASES,
    cramer_i64_stages,
    cramer_update_i64_py,
    delta_py,
)
from etl_mp_transactions_spark.registry import query
from etl_mp_transactions_spark.sources.tables import load_table
from etl_mp_transactions_spark.functions.literalframe import literal_frame

N_STEPS = 3
# loud headroom guard (ADVICE r13): the i64 solve is exact for ALL
# int64 inputs, so the one remaining overflow surface is the g/h SUM
# itself wrapping int64 upstream (silent in non-ANSI Spark). Sums are
# bounded by N·x²·1e9, so they cross 2^61 long before wrapping 2^63 on
# any gradual scale-up — failing loudly at 2^61 in BOTH engines turns
# the silent-wrong-answer path into an error naming the fix.
SUM_GUARD = 1 << 61
NANO = 1_000_000_000
SIG_LO, SIG_HI = -200, 200  # deci-z clamp: z in [-20.0, 20.0]
_DECI = 100_000_000  # nano units per deci-z grid step


def _build_sig_table() -> list[tuple[int, int]]:
    """(zd, p_nano) for zd in [SIG_LO, SIG_HI]: round(1e9·σ(zd/10))
    computed with exact rational arithmetic — environment-independent
    literals (module docstring)."""
    e01 = sum(
        Fraction(1, 10) ** k / math.factorial(k) for k in range(40)
    )  # e^0.1, truncation ~1e-50 relative
    powers = [Fraction(1)]
    for _ in range(SIG_HI):
        powers.append(powers[-1] * e01)  # e^(k/10)
    half = Fraction(1, 2)
    tbl = []
    for zd in range(SIG_LO, SIG_HI + 1):
        ek = powers[abs(zd)]
        sig = ek / (1 + ek) if zd >= 0 else 1 / (1 + ek)
        tbl.append((zd, int(sig * NANO + half)))
    return tbl


SIG_TABLE = _build_sig_table()
_SIG_PN = dict(SIG_TABLE)


def sig_pn_py(z_nano: int) -> int:
    """Python-replay twin of the in-engine lookup: nano-z → grid
    p_nano (round-half-up deci quantization, clamped)."""
    zd = (z_nano + _DECI // 2) // _DECI  # python // floors: exact
    return _SIG_PN[max(SIG_LO, min(SIG_HI, zd))]


def _zd_sql(b0: str, b1: str, x: str = "x", div: str = "//") -> str:
    """Clamped round-to-nearest deci-z from nano params — exact
    integer floor division via the adjusted-numerator shared pattern
    (truncation == floor on an exact multiple, so Spark ``div`` and
    DuckDB ``//`` agree for negative z too)."""
    s = f"({b0} + {b1} * {x} + {_DECI // 2})"
    fd = f"(({s} - ((({s}) % {_DECI}) + {_DECI}) % {_DECI}) {div} {_DECI})"
    return f"greatest({SIG_LO}, least({SIG_HI}, {fd}))"


def _h_sql(pn: str = "sig.pn", div: str = "//") -> str:
    """round(1e9·p·(1−p)) from the grid p_nano — numerator is
    non-negative so plain truncating division is floor."""
    return f"((({pn} * ({NANO} - {pn})) + {NANO // 2}) {div} {NANO})"


def _sig_cte() -> str:
    vals = ", ".join(f"({zd}, {pn})" for zd, pn in SIG_TABLE)
    return (
        "sig AS (SELECT CAST(zd AS BIGINT) AS zd,"
        " CAST(pn AS BIGINT) AS pn"
        f" FROM (VALUES {vals}) v(zd, pn))"
    )


_ROWS_G_CTE = (
    "rows_g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n"
    " FROM rows GROUP BY x, y)"
)


def cramer_update_py(num: int, den: int) -> int:
    """Exact round-half-away of 1e9·num/den (den > 0), the Python
    twin of the retired 128-bit chain — kept as the exact-rational
    reference of the cross-checks; the live twin is i128.delta_py."""
    q, r = divmod(abs(num) * 10**9, den)
    if 2 * r >= den:
        q += 1
    return -q if num < 0 else q


def _sum_guard_sql(errfn: str, p: str = "") -> str:
    """Loud int64-headroom guard on the g/h sums (ADVICE r13), as a
    0-or-raise term added to g0 so no optimizer can prune it.
    ``errfn`` is the engine's raise expression (DuckDB ``error(...)``,
    Spark ``assert_true(false, ...)``); ``p`` structurally qualifies
    the column references."""
    bad = (
        f"greatest(abs({p}g0), abs({p}g1), abs({p}h00),"
        f" abs({p}h01), abs({p}h11)) >= {SUM_GUARD}"
    )
    return f"CASE WHEN {bad} THEN {errfn} ELSE 0 END"


_GUARD_MSG = (
    "'newton g/h sums exceed int64 headroom (2^61):"
    " shard or rescale the training slice'"
)


def _newton_sql(prev: str, idx: int) -> str:
    """One Newton step as a CTE chain reading params from ``prev``:
    pure-BIGINT contribution sums over the grouped rows (joined to
    the sig grid on quantized z), a loud 2^61 headroom guard on the
    sums, then the config-invariant pure-int64 Cramer solve
    (functions/i128.py — zero floats, zero 128-bit types)."""
    zd = _zd_sql(f"{prev}.b0", f"{prev}.b1", x="g.x")
    h = _h_sql()
    stages = cramer_i64_stages("//")
    guard = _sum_guard_sql(
        f"CAST(error({_GUARD_MSG}) AS BIGINT)", p="s."
    )
    ctes = [
        f"""
    s{idx} AS (
      SELECT sum(g.n * (g.y * {NANO} - sig.pn)) AS g0,
             sum(g.n * (g.y * {NANO} - sig.pn) * g.x) AS g1,
             sum(g.n * {h}) AS h00,
             sum(g.n * {h} * g.x) AS h01,
             sum(g.n * {h} * g.x * g.x) AS h11
      FROM rows_g g CROSS JOIN {prev}
      JOIN sig ON sig.zd = {zd}
    ),
    d{idx} AS (
      SELECT pp.b0 AS pb0, pp.b1 AS pb1,
             s.g0 + {guard} AS g0, s.g1 AS g1,
             s.h00 AS h00, s.h01 AS h01, s.h11 AS h11
      FROM s{idx} s CROSS JOIN {prev} pp
    )"""
    ]
    src = f"d{idx}"
    for k, st in enumerate(stages[:-1], start=1):
        ctes.append(
            f"e{idx}_{k} AS (SELECT *, {', '.join(st)} FROM {src})"
        )
        src = f"e{idx}_{k}"
    ctes.append(
        f"p{idx} AS (SELECT {', '.join(stages[-1])} FROM {src})"
    )
    return ",".join(ctes)


def _train_cte_chain() -> list[str]:
    """sig + rows_g + p0 + the N_STEPS unrolled steps — append after
    a ``rows(x, y)`` CTE (shared by every family member)."""
    ctes = [
        _sig_cte(),
        _ROWS_G_CTE,
        f"p0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1)",
    ]
    for i in range(1, N_STEPS + 1):
        ctes.append(_newton_sql(f"p{i - 1}", i))
    return ctes


def _score_sql(prev: str, x: str) -> tuple[str, str]:
    """(join_clause, p_expr) scoring ``x`` against the ``prev``
    params via the sig grid — for the oracle's pred/gate selects."""
    zd = _zd_sql(f"{prev}.b0", f"{prev}.b1", x=x)
    return f"JOIN sig ON sig.zd = {zd}", "sig.pn"


# --------------------------------------------------------------- Spark


def sig_spark_df(spark):
    """The 401-row literal grid as a DataFrame (broadcast at every
    use site — parameter-bounded by construction)."""
    return literal_frame(spark, SIG_TABLE, "zd BIGINT, pn BIGINT")


def rows_grouped(rows):
    """Corpus rows(x, y) → bounded rows_g(x, y, n): the ONE corpus
    pass; everything after runs on ≤ 2·|x-domain| rows."""
    return rows.groupBy("x", "y").agg(
        F.count("*").cast("bigint").alias("n")
    )


def with_p_nano(df, params, sig, x: str = "x"):
    """Attach the grid ``pn`` to ``df`` (needs column ``x``) under
    frozen ``params`` — broadcast param cross-join + broadcast sig
    join on quantized z; no shuffle of ``df``."""
    zd = F.expr(_zd_sql("b0", "b1", x=x, div="div"))
    return (
        df.crossJoin(F.broadcast(params))
        .withColumn("zd", zd)
        .join(F.broadcast(sig), "zd")
        .drop("zd", "b0", "b1")
    )


def newton_steps(spark, rows, n_steps: int = N_STEPS) -> list:
    """All ``n_steps`` per-step frames (b0, b1, g0, g1, h00, h01,
    h11), in step order — the instrumentation surface (VERDICT r12
    task #1: the trajectory debug queries read every step, not just
    the last).

    r16 pass structure (guide §1.2; the pca/kmeans driver-fold
    pattern): ONE grouped collect of the (x, y, n) multiset — bounded
    by the integer-band feature domain (≤ ~64 x-values · 2 y-values),
    the documented parameter-bounded class — then the whole
    trajectory replays EXACTLY in Python ints: the grid lookup is
    ``sig_pn_py`` (same 401 literals), every contribution is the same
    BIGINT arithmetic (Python int ≡ exact), and the solve is
    ``cramer_update_i64_py`` — the twin tests/test_cramer_exact.py
    pins equal to BOTH engines' staged chains. The former shape ran
    one eager-checkpoint job per step (broadcast sig join + reduce);
    this runs zero — steps return as literal frames."""
    rows_g = [
        (int(r["x"]), int(r["y"]), int(r["n"]))
        for r in rows.groupBy("x", "y")
        .agg(F.count("*").cast("bigint").alias("n"))
        .collect()
    ]
    b0 = b1 = 0
    steps: list = []
    for _ in range(n_steps):
        g0 = g1 = h00 = h01 = h11 = 0
        for x, y, n in rows_g:
            pn = sig_pn_py(b0 + b1 * x)
            g = n * (y * NANO - pn)
            h = n * ((pn * (NANO - pn) + NANO // 2) // NANO)
            g0 += g
            g1 += g * x
            h00 += h
            h01 += h * x
            h11 += h * x * x
        if max(abs(g0), abs(g1), abs(h00), abs(h01), abs(h11)) >= SUM_GUARD:
            # same loud headroom failure as the in-engine guard
            raise ArithmeticError(_GUARD_MSG.strip("'"))
        b0, b1 = cramer_update_i64_py(b0, b1, g0, g1, h00, h01, h11)
        steps.append(
            literal_frame(
                spark,
                [(b0, b1, g0, g1, h00, h01, h11)],
                "b0 bigint, b1 bigint, g0 bigint, g1 bigint,"
                " h00 bigint, h01 bigint, h11 bigint",
            )
        )
    return steps


def newton_train(spark, rows, n_steps: int = N_STEPS):
    """(params_df, last_step_df) after ``n_steps`` exact Newton steps
    over rows(x, y) — the training entry point (``newton_steps`` is
    the per-step instrumentation surface)."""
    steps = newton_steps(spark, rows, n_steps)
    last = steps[-1]
    return last.select("b0", "b1"), last


def _oracle() -> str:
    ctes = [
        """rows AS (
      SELECT CAST(floor(c_acctbal / 500.0) AS BIGINT) AS x,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y
      FROM customer
    )""",
        *_train_cte_chain(),
    ]
    return f"""
    WITH {",".join(ctes)}
    SELECT b0 AS b0_nano, b1 AS b1_nano,
           g0 AS last_g0, g1 AS last_g1,
           h00 AS last_h00, h01 AS last_h01, h11 AS last_h11
    FROM p{N_STEPS}
    """


@query("logistic_newton_steps", _oracle())
def logistic_newton_steps(spark, sf_dir):
    """Three exact Newton steps of a 2-parameter logistic fit (module
    docstring): grid-sigmoid pure-BIGINT contributions over the
    (x, y)-grouped rows → exact order-free sums → shared-text Cramer
    solve → nano-integer model state; the full trajectory is
    deterministic, transcendental-free, and both engines land on the
    identical final (b0, b1)."""
    cust = load_table(spark, sf_dir, "customer")
    rows = cust.select(
        F.floor(F.col("c_acctbal") / F.lit(500.0)).cast("bigint").alias("x"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("y"),
    )
    _, last = newton_train(spark, rows)
    return last.select(
        F.col("b0").alias("b0_nano"),
        F.col("b1").alias("b1_nano"),
        F.col("g0").alias("last_g0"),
        F.col("g1").alias("last_g1"),
        F.col("h00").alias("last_h00"),
        F.col("h01").alias("last_h01"),
        F.col("h11").alias("last_h11"),
    )


# ---------------------------------------------------------------------
# Constant-literal driver probes (VERDICT r13 task #2): NO table scan —
# pure VALUES through the arithmetic chains. Data-independent by
# construction: a red cell at the driver on any of these proves an
# engine/environment arithmetic divergence reproducible from literals
# alone (and the failing operands are readable off the artifact); all
# green pushes the remaining poscontrol suspicion to driver-side data.
# All value columns are emitted CAST to STRING in both engines (r13
# task #3 insurance: rules out numeric type-canonicalization in the
# driver's value hash as a cause).

_PROBE_SCHEMA = (
    "rid BIGINT, pb0 BIGINT, pb1 BIGINT, g0 BIGINT, g1 BIGINT,"
    " h00 BIGINT, h01 BIGINT, h11 BIGINT"
)


def _probe_values_cte(cases) -> str:
    vals = ", ".join(
        f"({i}, {r[0]}, {r[1]}, {r[2]}, {r[3]}, {r[4]}, {r[5]}, {r[6]})"
        for i, r in enumerate(cases)
    )
    cols = ["rid", "pb0", "pb1", "g0", "g1", "h00", "h01", "h11"]
    sel = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in cols)
    return (
        f"d0 AS (SELECT {sel} FROM (VALUES {vals})"
        f" v({', '.join(cols)}))"
    )


def _probe_oracle(stages, cases) -> str:
    ctes = [_probe_values_cte(cases)]
    src = "d0"
    for k, st in enumerate(stages[:-1], start=1):
        ctes.append(f"d{k} AS (SELECT *, {', '.join(st)} FROM {src})")
        src = f"d{k}"
    return f"""
    WITH {','.join(ctes)},
    fin AS (SELECT rid, {', '.join(stages[-1])} FROM {src})
    SELECT rid, CAST(b0 AS VARCHAR) AS b0, CAST(b1 AS VARCHAR) AS b1
    FROM fin ORDER BY rid
    """


def _probe_spark(spark, stages, cases):
    cur = literal_frame(
        spark, [(i, *r) for i, r in enumerate(cases)], _PROBE_SCHEMA
    )
    for st in stages[:-1]:
        cur = cur.selectExpr("*", *st)
    return cur.selectExpr("rid", *stages[-1]).selectExpr(
        "rid", "CAST(b0 AS STRING) AS b0", "CAST(b1 AS STRING) AS b1"
    ).orderBy("rid")


@query(
    "cramer_probe",
    _probe_oracle(cramer_i64_stages("//"), PROBE_CASES),
)
def cramer_probe(spark, sf_dir):
    """LIVE-chain literal probe: the i128.py adversarial operand set
    (exact-half remainders, zero/negative dens, limb/shift/clamp
    boundaries, near-int64 extremes) pushed through the pure-int64
    Cramer chain as VALUES in both engines. Red here = the driver box
    disagrees on config-invariant int64 arithmetic (which would be
    extraordinary); green = the solve is attested engine-identical at
    the driver, independent of any data."""
    return _probe_spark(spark, cramer_i64_stages("div"), PROBE_CASES)


# deci-z quantization + grid-join probe: exact tie points at the
# round-half-up boundary, clamp edges, and plain interior values
Z_PROBES = [
    0, 1, -1,
    49_999_999, 50_000_000, 50_000_001,
    -49_999_999, -50_000_000, -50_000_001,
    149_999_999, 150_000_000, -150_000_000,
    19_999_999_999, 19_950_000_000, -19_950_000_000,
    20_049_999_999, 20_050_000_000, -20_050_000_000,
    -20_049_999_999, 123_456_789, -987_654_321,
    7_000_000_000, 10**15, -(10**15),
]


def _sigmoid_probe_oracle() -> str:
    vals = ", ".join(f"({i}, {z})" for i, z in enumerate(Z_PROBES))
    zd = _zd_sql("z.z_nano", "0", x="0")
    return f"""
    WITH {_sig_cte()},
    z AS (SELECT CAST(rid AS BIGINT) AS rid, CAST(z AS BIGINT) AS z_nano
          FROM (VALUES {vals}) v(rid, z))
    SELECT z.rid, CAST(z.z_nano AS VARCHAR) AS z_nano,
           CAST(sig.zd AS VARCHAR) AS zd, CAST(sig.pn AS VARCHAR) AS pn
    FROM z JOIN sig ON sig.zd = {zd}
    ORDER BY z.rid
    """


@query("sigmoid_grid_probe", _sigmoid_probe_oracle())
def sigmoid_grid_probe(spark, sf_dir):
    """Grid-lookup literal probe: fixed z_nano literals through the
    deci quantization (round-half-up at exact ties, the [-200, 200]
    clamp) and the 401-row Fraction-derived sigmoid grid join — the
    other arithmetic stage of the Newton chain, attested at the
    driver with zero data dependence. The python twin is
    ``sig_pn_py``; tests pin all three engines on these literals."""
    z = literal_frame(
        spark, list(enumerate(Z_PROBES)), "rid BIGINT, z_nano BIGINT"
    )
    zd = F.expr(_zd_sql("z_nano", "0", x="0", div="div"))
    return (
        z.withColumn("zd", zd)
        .join(F.broadcast(sig_spark_df(spark)), "zd")
        .selectExpr(
            "rid",
            "CAST(z_nano AS STRING) AS z_nano",
            "CAST(zd AS STRING) AS zd",
            "CAST(pn AS STRING) AS pn",
        )
        .orderBy("rid")
    )
