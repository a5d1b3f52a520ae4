"""Shared helpers for parity operators.

Cross-engine float determinism: a SUM over doubles is order-dependent, so
Spark (partition-parallel) and DuckDB (its own order) can differ in the
last ulps — enough to break a value-hash. Casting to DECIMAL(18,6) before
aggregating makes the sum exact and bit-identical in both engines, and —
just as important at 100 TB — makes results independent of partitioning.
The result is cast back to DOUBLE so schemas stay simple.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def dsum(col: str | Column, alias: str) -> Column:
    """Exact, order-independent SUM over a double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: str | Column, alias: str) -> Column:
    """Exact-numerator AVG: decimal SUM divided by COUNT, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def _grid_unscaled(c: Column) -> Column:
    """1e-6-grid double -> exact unscaled integer as decimal(18,0).

    floor(v*1e6 + 0.5) reproduces cast(v as decimal(18,6))'s HALF_UP
    unscaled value whenever v is the double nearest a 6dp decimal and
    |v| < 2^53/1e6 (~9.0e9), because then v*1e6 is within ~1e-9 of an
    exactly-representable integer and the +0.5/floor can't cross a
    boundary. Proven per-row (0 mismatches, null-skew 0) over every
    lineitem/orders/customer row at sf0.001/0.01/0.1 for all converted
    expressions (qty, price, disc, tax, price*(1-disc), *(1+tax),
    price*disc, price*qty, o_totalprice, c_acctbal; max |v| 5.25e6)."""
    return F.floor(c * 1000000.0 + F.lit(0.5)).cast("decimal(18,0)")


def _grid_back(s: Column) -> Column:
    """Rescale a summed unscaled decimal(28,0) back to double. The
    quotient terminates at 6 decimals, so the decimal division is
    exact, and decimal->double is correctly rounded on both the old
    (scale-6) and this (re-scaled) representation of the same value —
    q1 outputs proven tuple-identical to the dsum form at all SFs."""
    return (s.cast("decimal(38,6)") / F.lit(1000000)).cast("double")


def dsum_grid(col: str | Column, alias: str) -> Column:
    """Exact SUM fast path for doubles PROVEN to lie on the 1e-6 grid
    (TPC-H money/quantity columns and small products of them).

    Same result and order-independence as :func:`dsum`, ~1.2x cheaper
    per row: summing decimal(18,0) skips the per-row double->
    decimal(18,6) HALF_UP setScale and the scale bookkeeping in the
    accumulator hot loop (floor(v*1e6+0.5) codegens to two flops).
    The decimal(28,0) sum accumulator keeps the identical 10^22
    value-headroom of dsum's decimal(28,6), so overflow behaviour at
    100 TB is unchanged. Use ONLY with a per-site grid proof (see
    :func:`_grid_unscaled`); arbitrary doubles must keep dsum. The
    proof is tests/test_semantics.py::test_dsum_grid_identical_to_dsum:
    extend its case list with every expression converted to this
    path, since off-grid doubles round differently here."""
    c = F.col(col) if isinstance(col, str) else col
    return _grid_back(F.sum(_grid_unscaled(c))).alias(alias)


def davg_grid(col: str | Column, alias: str) -> Column:
    """Exact-numerator AVG twin of :func:`dsum_grid` (same proof
    obligations); result identical to :func:`davg`."""
    c = F.col(col) if isinstance(col, str) else col
    return (_grid_back(F.sum(_grid_unscaled(c))) / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB oracle twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    """DuckDB oracle twin of :func:`davg`."""
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def lit_array(values, element_type: str | None = None) -> Column:
    """Single-call literal array.

    ``F.array(*[F.lit(v) for v in vs])`` costs ~2n py4j round trips to
    build and n Literal plan nodes to analyze — measured at 2.3 s for a
    512-element array on this host, paid on EVERY plan build (bench.py
    re-builds each query per timed pass, and the driver's low-core PERF
    run pays it identically since plan build is single-threaded driver
    work). ``F.lit(list)`` is one round trip and ONE ArrayType Literal
    node with identical values and semantics. Optional ``element_type``
    normalizes the element type where the old form cast per element
    (e.g. ``"bigint"``)."""
    arr = F.lit(list(values))
    if element_type is not None:
        arr = arr.cast(f"array<{element_type}>")
    return arr


def dot_unrolled(a, b, n: int) -> Column:
    """Unrolled dot product over the first ``n`` array elements,
    numerically IDENTICAL to the
    ``aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, acc+v)`` HOF form
    it replaces: the same left-to-right double fold from 0.0
    (((0+a1*b1)+a2*b2)+...). The difference is execution: Catalyst
    evaluates higher-order-function lambdas INTERPRETED per element,
    outside whole-stage codegen (the OPTIMIZATION_r13 Theil-Sen
    lesson), while this flat arithmetic compiles — on a pair join
    that computes one 64-dim cosine per candidate row that is an
    interpreted 64-step fold vs straight-line JIT'd code."""
    acc = F.lit(0.0)
    for i in range(1, n + 1):
        acc = acc + F.element_at(a, i) * F.element_at(b, i)
    return acc


def sqdist_unrolled(a, b, n: int) -> Column:
    """Unrolled sum of squared differences over the first ``n`` array
    elements — the ``(x-y)*(x-y)`` twin of :func:`dot_unrolled`, with
    the identical fold-order-preservation argument."""
    acc = F.lit(0.0)
    for i in range(1, n + 1):
        t = F.element_at(a, i) - F.element_at(b, i)
        acc = acc + t * t
    return acc


def sql_double(x: float) -> str:
    """Exact SQL double literal: repr() is the shortest decimal that
    round-trips to the same IEEE double, and Spark's parser reads the
    ``...D`` suffix back to that exact double — so formatting a
    data-derived model parameter into SQL text loses nothing."""
    return repr(float(x)) + "D"


def sql_double_array(values) -> str:
    """SQL text for a literal array<double> — for F.expr-built plan
    literals, which cost ONE py4j round trip + one JVM parse instead of
    per-element lit() calls (see lit_array's cost note; at 64x64 the
    difference is ~2.5 s of plan build per call)."""
    return "array(" + ",".join(sql_double(v) for v in values) + ")"


# ---------------------------------------------------------------------------
# Experimentation (A/B) idioms. Every A/B key splits users into two arms
# by one salted hash and reduces an arm-labelled frame (an ``is_a``
# column beside ``value`` or ``converted``) to per-arm counts and sums;
# the statistics read those sums by name. These are the one Spark-side
# spelling of each idiom; the DuckDB oracles spell the same steps in SQL.
# ---------------------------------------------------------------------------

# Power sums are exact at this scale on both engines, so the two-arm
# sufficient statistics are bit-identical across engines and partitionings.
POWER_DEC = "decimal(28,6)"


def ab_arm(salt: str | Column) -> Column:
    """True for arm A of the salted ~50/50 user split: the first hex
    digit of md5(user_id || salt) is below '8'. ``salt`` is a literal
    or a column of salts. Oracle twin:
    ``substr(md5(CAST(user_id AS VARCHAR) || salt), 1, 1) < '8'``."""
    salt = F.lit(salt) if isinstance(salt, str) else salt
    key = F.concat(F.col("user_id").cast("string"), salt).cast("binary")
    return F.substring(F.md5(key), 1, 1) < "8"


def converted_flag() -> Column:
    """Per-user conversion bit ``converted`` for an aggregate grouped by
    user: 1 when more than a fifth of the user's events are purchases
    (an integer-exact ratio test, never a float compare)."""
    purchases = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    return (
        F.when(5 * purchases > F.count("*"), 1)
        .otherwise(0)
        .alias("converted")
    )


def arm_counts() -> list[Column]:
    """``n_a``, ``n_b``: the rows in each arm of an ``is_a`` frame."""
    is_a = F.col("is_a")
    return [
        F.count(F.when(is_a, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(~is_a, 1)).cast("bigint").alias("n_b"),
    ]


def arm_power_sums() -> list[Column]:
    """:func:`arm_counts` plus each arm's sum ``s_a``/``s_b`` and sum of
    squares ``q_a``/``q_b`` of ``value``, summed at :data:`POWER_DEC`."""
    is_a, v = F.col("is_a"), F.col("value")

    def arm_sum(arm: Column, x: Column) -> Column:
        return F.sum(F.when(arm, x.cast(POWER_DEC))).cast("double")

    return arm_counts() + [
        arm_sum(is_a, v).alias("s_a"),
        arm_sum(~is_a, v).alias("s_b"),
        arm_sum(is_a, v * v).alias("q_a"),
        arm_sum(~is_a, v * v).alias("q_b"),
    ]


def arm_conversions() -> list[Column]:
    """:func:`arm_counts` plus the converted users ``conv_a``/``conv_b``
    of each arm of an ``is_a``/``converted`` user frame."""
    is_a, c = F.col("is_a"), F.col("converted")
    return arm_counts() + [
        F.sum(F.when(is_a, c).otherwise(0)).cast("bigint").alias("conv_a"),
        F.sum(F.when(~is_a, c).otherwise(0)).cast("bigint").alias("conv_b"),
    ]


def _arm_ss(arm: str) -> Column:
    """Sum of squared deviations ``q - s*s/n`` of arm ``"a"`` or ``"b"``,
    from the :func:`arm_power_sums` columns."""
    s = F.col(f"s_{arm}")
    return F.col(f"q_{arm}") - s * s / F.col(f"n_{arm}")


def arm_moments() -> tuple[Column, Column, Column, Column]:
    """``(mean_a, mean_b, var_a, var_b)`` from the :func:`arm_power_sums`
    columns; the variances are the unbiased (n - 1) sample variances."""
    n_a, n_b = F.col("n_a"), F.col("n_b")
    return (
        F.col("s_a") / n_a,
        F.col("s_b") / n_b,
        _arm_ss("a") / (n_a - 1),
        _arm_ss("b") / (n_b - 1),
    )


def pooled_var() -> Column:
    """Pooled (equal-variance) sample variance of the two arms."""
    n = F.col("n_a") + F.col("n_b")
    return (_arm_ss("a") + _arm_ss("b")) / (n - 2)


def welch_se2() -> Column:
    """Squared standard error var_a/n_a + var_b/n_b of the mean
    difference under unequal variances."""
    _, _, var_a, var_b = arm_moments()
    return var_a / F.col("n_a") + var_b / F.col("n_b")


def welch_t() -> Column:
    """Welch's t, (mean_b - mean_a) / sqrt(:func:`welch_se2`)."""
    mean_a, mean_b, _, _ = arm_moments()
    return (mean_b - mean_a) / F.sqrt(welch_se2())


def welch_satterthwaite_df() -> Column:
    """Welch-Satterthwaite effective degrees of freedom from the
    :func:`arm_power_sums` columns:
    (v_a/n_a + v_b/n_b)^2 / ((v_a/n_a)^2/(n_a-1) + (v_b/n_b)^2/(n_b-1)).

    The ONE DataFrame-side definition shared by stats_welch_ttest,
    stats_tost_equivalence, and pipeline_experiment_e2e (ADVICE r8:
    the composite previously re-derived it inline, so a future edit
    could silently diverge from the component's small-df verdict
    guard). The SQL twin is analytics._W_DF, which the same three
    oracles share by import."""
    _, _, var_a, var_b = arm_moments()
    n_a, n_b = F.col("n_a"), F.col("n_b")
    se2 = welch_se2()
    return (se2 * se2) / (
        (var_a / n_a) * (var_a / n_a) / (n_a - 1)
        + (var_b / n_b) * (var_b / n_b) / (n_b - 1)
    )


def sql_jround(expr: str, n: int) -> str:
    """DuckDB replay of Spark's round(double, n).

    Spark's round is half-up on the double's SHORTEST DECIMAL
    REPRESENTATION (BigDecimal.valueOf -> Double.toString), so a value
    whose true decimal terminates exactly on a half boundary (common
    with 2dp money inputs and decimal coefficients) rounds UP when the
    double is the nearest representation of that decimal, but DOWN
    when accumulated float error nudged it below ("...49999999"
    shortest repr). DuckDB's numeric round() and fixed-scale decimal
    casts each get one of those cases wrong; its VARCHAR cast is also
    shortest-roundtrip, so string -> DECIMAL(38,18) -> round replays
    Spark digit-for-digit. Use for rounded DOUBLE expressions whose
    true value can terminate (ratios/folds of low-dp data); plain
    round() is fine for genuinely continuous values."""
    return (
        f"CAST(round(CAST(CAST(({expr}) AS VARCHAR)"
        f" AS DECIMAL(38,18)), {n}) AS DOUBLE)"
    )
