"""Round-13 statistics widening: robust regression, location-scale and
ordered-alternative rank tests, robust slope estimation, ordinal
association, epidemiological 2x2 effect measures, rate comparison, and
population estimation.

Extensions beyond the reference (SURVEY.md §2.B.11 — PowerSQL's surface
is whatever its backend executes, reference src/execute.rs:101; these
keys are the Spark-native statistical toolbox a warehouse user runs on
that backend), ranked AFTER every banked key in the driver window per
the README r13 tranche plan.

House discipline (same as stats_more.py / stats_more2.py): decimal-exact
or integer-exact sufficient statistics wherever the data allows
(order-independent, therefore partition-count-independent — the
cluster-determinism property); libm terms (ln/sqrt of data-dependent
values) rounded to 8dp before any cross-engine decimal combination;
pure-double closed forms share an IDENTICAL expression tree with the
DuckDB oracle so both engines perform the same IEEE roundings;
deterministic tie-breaks; division guards on every ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powersql_spark.operators.common import (
    ab_arm,
    arm_moments,
    arm_power_sums,
    pooled_var,
    sql_jround,
)
from powersql_spark.registry import query

# ---------------------------------------------------------------------------
# Shared construction 1: the per-type daily revenue series with a
# 0-based day index t — the regression grain for the robust-fit keys
# (the timeseries family's _TSD_CTE with an index column).
# ---------------------------------------------------------------------------

_TDAY_CTE = """
    daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    AS DECIMAL(18,6)) AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    tday AS (
        SELECT event_type,
               day - MIN(day) OVER (PARTITION BY event_type) AS t,
               y
        FROM daily
    )
"""


def _tday(spark: SparkSession) -> DataFrame:
    """Spark twin of ``_TDAY_CTE``: (event_type, t, y) with t the
    0-based day offset from the type's first day and y the exact
    DECIMAL(18,6) daily sum."""
    daily = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("y")
        )
    )
    w = Window.partitionBy("event_type")
    return daily.select(
        "event_type",
        F.datediff("day", F.min("day").over(w)).alias("t"),
        "y",
    )


# ---------------------------------------------------------------------------
# Shared construction 2: value-level midrank cells for the two-sample
# rank tests ('view' vs 'click' event values). Midranks are encoded
# DOUBLED (r2 = 2*midrank, an exact BIGINT) so every rank sum and rank
# square below is integer arithmetic — ties cost no float drift.
# ---------------------------------------------------------------------------

_VC_CELLS_CTE = """
    vc AS (
        SELECT value AS v,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                    AS BIGINT) AS cv,
               CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                    AS BIGINT) AS cc
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('view', 'click')
        GROUP BY value
    ),
    rk AS (
        SELECT v, cv, cc, cv + cc AS ct,
               2 * COALESCE(SUM(cv + cc) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0)
                 + (cv + cc) + 1 AS r2,
               SUM(cv + cc) OVER () AS n_all
        FROM vc
    )
"""


def _vc_rank_cells(spark: SparkSession) -> DataFrame:
    """Spark twin of ``_VC_CELLS_CTE``: (v, cv, cc, ct, r2, n_all)
    where r2 = 2 * (midrank of value v in the combined sample).

    Scale shape: the corpus collapses to distinct-value cells FIRST;
    the rank window orders the cell table (distinct values), never raw
    rows."""
    e = spark.table("events").where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("view", "click")
    )
    vc = e.groupBy(F.col("value").alias("v")).agg(
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("bigint")
        .alias("cv"),
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("cc"),
    )
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.partitionBy(F.lit(1))
    return vc.select(
        "v",
        "cv",
        "cc",
        (F.col("cv") + F.col("cc")).alias("ct"),
        (
            2 * F.coalesce(
                F.sum(F.col("cv") + F.col("cc")).over(wcum), F.lit(0)
            )
            + (F.col("cv") + F.col("cc"))
            + 1
        ).alias("r2"),
        F.sum(F.col("cv") + F.col("cc")).over(wall).alias("n_all"),
    )


# ---------------------------------------------------------------------------
# Huber robust regression via bounded IRLS (ADVICE r12 #6).
# ---------------------------------------------------------------------------

_HUBER_K = 1.345  # the classic 95%-efficiency Huber tuning constant


def _sql_wols(src: str, fit: str) -> str:
    """One weighted-least-squares reweighting round as a SQL CTE body:
    residuals against the previous fit, Huber weights w = min(1,
    k/|r|), and the weighted normal-equation sums (w terms 8dp-rounded,
    y-scaled terms 6dp-rounded, decimal-summed — the house libm/float
    discipline, since w is a data-dependent double ratio)."""
    return f"""
        SELECT event_type,
               CAST(SUM(CAST(round(w, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(w * t, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS swt,
               CAST(SUM(CAST(round(w * t * t, 8)
                    AS DECIMAL(38,8))) AS DOUBLE) AS swtt,
               CAST(SUM(CAST(round(w * yd, 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS swy,
               CAST(SUM(CAST(round(w * t * yd, 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS swty,
               CAST(SUM(CASE WHEN ar > k THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_down
        FROM (
            SELECT d.event_type, d.t, CAST(d.y AS DOUBLE) AS yd,
                   f.k,
                   abs(CAST(d.y AS DOUBLE) - f.alpha
                       - f.beta * d.t) AS ar,
                   CASE WHEN abs(CAST(d.y AS DOUBLE) - f.alpha
                                 - f.beta * d.t) <= f.k THEN 1.0
                        ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.alpha
                                       - f.beta * d.t) END AS w
            FROM {src} d JOIN {fit} f
              ON f.event_type = d.event_type
        )
        GROUP BY event_type
    """


@query(
    "stats_huber_irls",
    oracle=f"""
    WITH {_TDAY_CTE},
    s0 AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS st,
               CAST(SUM(t * t) AS BIGINT) AS stt,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(y AS DECIMAL(19,6)) * t) AS DOUBLE)
                   AS sty
        FROM tday GROUP BY event_type
    ),
    f0 AS (
        SELECT event_type, n,
               (n * sty - st * sy)
                   / (1e0 * n * stt - 1e0 * st * st) AS beta,
               (sy - (n * sty - st * sy)
                   / (1e0 * n * stt - 1e0 * st * st) * st) / n
                   AS alpha
        FROM s0 WHERE n > 2 AND n * stt - st * st > 0
    ),
    sc AS (
        SELECT d.event_type, f.n, f.alpha, f.beta,
               {_HUBER_K} * sqrt(
                   CAST(SUM(CAST(round(
                       (CAST(d.y AS DOUBLE) - f.alpha - f.beta * d.t)
                       * (CAST(d.y AS DOUBLE) - f.alpha
                          - f.beta * d.t), 8) AS DECIMAL(38,8)))
                       AS DOUBLE) / (f.n - 2)) AS k
        FROM tday d JOIN f0 f ON f.event_type = d.event_type
        GROUP BY d.event_type, f.n, f.alpha, f.beta
    ),
    w1 AS ({_sql_wols("tday", "sc")}),
    f1 AS (
        SELECT w.event_type, s.n, s.k,
               (w.sw * w.swty - w.swt * w.swy)
                   / (w.sw * w.swtt - w.swt * w.swt) AS beta,
               (w.swy - (w.sw * w.swty - w.swt * w.swy)
                   / (w.sw * w.swtt - w.swt * w.swt) * w.swt) / w.sw
                   AS alpha
        FROM w1 w JOIN sc s ON s.event_type = w.event_type
        WHERE w.sw * w.swtt - w.swt * w.swt > 0 AND w.sw > 0
    ),
    w2 AS ({_sql_wols("tday", "f1")}),
    f2 AS (
        SELECT w.event_type, f.n, f.k, w.n_down,
               (w.sw * w.swty - w.swt * w.swy)
                   / (w.sw * w.swtt - w.swt * w.swt) AS beta,
               (w.swy - (w.sw * w.swty - w.swt * w.swy)
                   / (w.sw * w.swtt - w.swt * w.swt) * w.swt) / w.sw
                   AS alpha
        FROM w2 w JOIN f1 f ON f.event_type = w.event_type
        WHERE w.sw * w.swtt - w.swt * w.swt > 0 AND w.sw > 0
    )
    SELECT f2.event_type, f2.n AS n_days,
           {sql_jround("f0.beta", 6)} AS ols_beta,
           {sql_jround("f2.beta", 6)} AS huber_beta,
           {sql_jround("f2.alpha", 4)} AS huber_alpha,
           f2.n_down AS n_downweighted
    FROM f2 JOIN f0 ON f0.event_type = f2.event_type
    ORDER BY f2.event_type
    """,
)
def stats_huber_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber robust regression of the per-type daily revenue on the
    day index via BOUNDED iteratively-reweighted least squares: an
    OLS seed fit, a fixed Huber scale k = 1.345 * RMSE(seed), then
    two unrolled reweighting rounds (w = min(1, k/|r|)) — the
    outlier-resistant trend line that a single anomalous day cannot
    lever the way it levers OLS (ADVICE r13 candidate; the
    lineage-bounded unroll discipline of graph_pagerank applied to a
    regression). n_downweighted counts points the final fit treats as
    outliers (|r| > k).

    Numerics: the SEED fit's normal equations are exact (y decimal,
    t integer); every weighted sum rounds its data-dependent double
    terms (8dp weight-scale, 6dp y-scale) before decimal summation,
    so both engines accumulate identical quantities in any partition
    order; each round's closed forms share one expression tree with
    the oracle. The scale k is deliberately FROZEN after the seed fit
    (standard one-step scale practice) so the unroll needs no
    re-sorting of residuals per round.

    Scale shape: one corpus collapse to the daily table; each IRLS
    round is one equi-join of the 150-row daily table against a
    5-row fit table (broadcast) plus one 5-group aggregation — three
    bounded rounds, no driver-side loop, no checkpointing needed at
    this state size."""
    tday = _tday(spark)
    from powersql_spark.catalog import track_persist

    tday = track_persist(tday)
    yd = F.col("y").cast("double")
    s0 = tday.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y").cast("decimal(19,6)") * F.col("t"))
        .cast("double")
        .alias("sty"),
    )
    n, st, stt = F.col("n"), F.col("st"), F.col("stt")
    sy, sty = F.col("sy"), F.col("sty")
    beta0 = (n * sty - st * sy) / (1.0 * n * stt - 1.0 * st * st)
    f0 = (
        s0.where((n > 2) & (n * stt - st * st > 0))
        .select(
            "event_type",
            "n",
            beta0.alias("beta"),
            ((sy - beta0 * st) / n).alias("alpha"),
        )
    )

    def resid(df):
        return yd - F.col("alpha") - F.col("beta") * F.col("t")

    r0 = tday.join(F.broadcast(f0), "event_type")
    sc = r0.groupBy("event_type", "n", "alpha", "beta").agg(
        (
            F.lit(_HUBER_K)
            * F.sqrt(
                F.sum(
                    F.round(resid(r0) * resid(r0), 8).cast(
                        "decimal(38,8)"
                    )
                ).cast("double")
                / (F.col("n") - 2)
            )
        ).alias("k")
    )

    def wols_round(fit):
        j = tday.join(F.broadcast(fit), "event_type")
        r = yd - F.col("alpha") - F.col("beta") * F.col("t")
        w = F.when(F.abs(r) <= F.col("k"), F.lit(1.0)).otherwise(
            F.col("k") / F.abs(r)
        )
        jw = j.select(
            "event_type", "t", "y", w.alias("w"), F.abs(r).alias("ar"),
            "k",
        )
        return jw.groupBy("event_type").agg(
            F.sum(F.round(F.col("w"), 8).cast("decimal(38,8)"))
            .cast("double")
            .alias("sw"),
            F.sum(
                F.round(F.col("w") * F.col("t"), 8).cast(
                    "decimal(38,8)"
                )
            )
            .cast("double")
            .alias("swt"),
            F.sum(
                F.round(F.col("w") * F.col("t") * F.col("t"), 8).cast(
                    "decimal(38,8)"
                )
            )
            .cast("double")
            .alias("swtt"),
            F.sum(
                F.round(F.col("w") * yd, 6).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("swy"),
            F.sum(
                F.round(F.col("w") * F.col("t") * yd, 6).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("swty"),
            F.sum(
                F.when(F.col("ar") > F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_down"),
        )

    def wfit(wsums, carry):
        sw, swt = F.col("sw"), F.col("swt")
        swtt, swy, swty = F.col("swtt"), F.col("swy"), F.col("swty")
        betaw = (sw * swty - swt * swy) / (sw * swtt - swt * swt)
        return (
            wsums.join(
                F.broadcast(carry.select("event_type", "n", "k")),
                "event_type",
            )
            .where((sw * swtt - swt * swt > 0) & (sw > 0))
            .select(
                "event_type",
                "n",
                "k",
                F.col("n_down"),
                betaw.alias("beta"),
                ((swy - betaw * swt) / sw).alias("alpha"),
            )
        )

    # Truncate the per-round LOGICAL lineage with eager checkpoints
    # (the graph-op discipline), not persist: caching dedupes
    # execution but Catalyst still re-ANALYZES the full logical tree,
    # and each round references its predecessor twice (weighted sums +
    # carry), so the plan — whose leaves are the corpus collapse and
    # whose nodes are the wide decimal-round expressions — doubled per
    # round. Measured cold: 32.6 s build / 16.5 s exec with persist;
    # 1-2 s total with the <= 5-row fit states checkpointed.
    from powersql_spark.catalog import track_checkpoint

    sc = track_checkpoint(sc.coalesce(1))
    f1 = track_checkpoint(wfit(wols_round(sc), sc).coalesce(1))
    f2 = wfit(wols_round(f1), f1)
    return (
        f2.join(
            F.broadcast(
                f0.select(
                    "event_type", F.col("beta").alias("ols_beta")
                )
            ),
            "event_type",
        )
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round("ols_beta", 6).alias("ols_beta"),
            F.round("beta", 6).alias("huber_beta"),
            F.round("alpha", 4).alias("huber_alpha"),
            F.col("n_down").alias("n_downweighted"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Cucconi location-scale rank test (view vs click values).
# ---------------------------------------------------------------------------


@query(
    "stats_cucconi_test",
    oracle=f"""
    WITH {_VC_CELLS_CTE},
    rk2 AS (
        -- materialize the contrary doubled-rank before aggregating
        -- (no window calls inside aggregate args — engine rule)
        SELECT cv, cc, r2, n_all,
               2 * (n_all + 1) - r2 AS r2c
        FROM rk
    ),
    s AS (
        SELECT CAST(SUM(cv) AS BIGINT) AS m,
               CAST(SUM(cc) AS BIGINT) AS n,
               CAST(MAX(n_all) AS BIGINT) AS nn,
               CAST(SUM(cc * r2 * r2) AS BIGINT) AS sr2sq,
               CAST(SUM(cc * r2c * r2c) AS BIGINT) AS sc2sq
        FROM rk2
    ),
    uv AS (
        SELECT m, n, nn,
               (1.5 * sr2sq - 1e0 * n * (nn + 1) * (2 * nn + 1))
                   / sqrt(1e0 * m * n * (nn + 1) * (2 * nn + 1)
                          * (8 * nn + 11) / 5) AS u,
               (1.5 * sc2sq - 1e0 * n * (nn + 1) * (2 * nn + 1))
                   / sqrt(1e0 * m * n * (nn + 1) * (2 * nn + 1)
                          * (8 * nn + 11) / 5) AS v,
               2.0 * (1e0 * nn * nn - 4)
                   / ((2 * nn + 1) * (8 * nn + 11)) - 1 AS rho
        FROM s WHERE m > 0 AND n > 0 AND nn > 1
    )
    SELECT m AS n_view, n AS n_click,
           {sql_jround("u", 4)} AS u,
           {sql_jround("v", 4)} AS v,
           {sql_jround(
               "(u * u + v * v - 2 * rho * u * v)"
               " / (2 * (1 - rho * rho))", 4)} AS c_stat,
           (u * u + v * v - 2 * rho * u * v)
               / (2 * (1 - rho * rho)) > ln(20.0) AS reject_5pct
    FROM uv WHERE rho * rho < 1
    """,
)
def stats_cucconi_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi (1968) combined location-scale rank test between the
    'view' and 'click' event-value samples: U from squared midranks,
    V from squared CONTRARY midranks (N+1-R), combined through their
    known correlation rho into C = (U^2+V^2-2 rho UV)/(2(1-rho^2)) —
    one test that catches a shift in EITHER mean or spread, where
    Wilcoxon (location only) or a variance test (scale only) each
    miss half the alternatives. Rejection at 5% uses the asymptotic
    P(C > c) = exp(-c) tail, i.e. c > ln 20. Midranks handle ties
    (the standard practical adaptation, documented).

    Numerics: midranks are encoded doubled (r2 = 2*midrank), so every
    rank sum/square is EXACT BIGINT arithmetic up to the final closed
    form — sums stay far below 2^53 at any realistic SF of this
    events table (bound documented in the module header pattern), and
    the closed form shares one double expression tree with the
    oracle.

    Scale shape: one corpus collapse to distinct-value cells; the
    rank window runs over the CELL table; the statistic is a one-row
    aggregate."""
    rk = _vc_rank_cells(spark)
    wall = Window.partitionBy(F.lit(1))
    nn_w = F.max("n_all").over(wall)
    prep = rk.select(
        "cv",
        "cc",
        "r2",
        "n_all",
        (
            F.col("cc")
            * (2 * (nn_w + 1) - F.col("r2"))
            * (2 * (nn_w + 1) - F.col("r2"))
        ).alias("c2sq_term"),
    )
    s = prep.agg(
        F.sum("cv").cast("bigint").alias("m"),
        F.sum("cc").cast("bigint").alias("n"),
        F.max("n_all").cast("bigint").alias("nn"),
        F.sum(F.col("cc") * F.col("r2") * F.col("r2"))
        .cast("bigint")
        .alias("sr2sq"),
        F.sum("c2sq_term").cast("bigint").alias("sc2sq"),
    )
    m, n, nn = F.col("m"), F.col("n"), F.col("nn")
    denom = F.sqrt(
        1.0 * m * n * (nn + 1) * (2 * nn + 1) * (8 * nn + 11) / 5
    )
    u = (1.5 * F.col("sr2sq") - 1.0 * n * (nn + 1) * (2 * nn + 1)) / denom
    v = (1.5 * F.col("sc2sq") - 1.0 * n * (nn + 1) * (2 * nn + 1)) / denom
    rho = 2.0 * (1.0 * nn * nn - 4) / ((2 * nn + 1) * (8 * nn + 11)) - 1
    uv = (
        s.where((m > 0) & (n > 0) & (nn > 1))
        .select(
            m.alias("m"),
            n.alias("n"),
            u.alias("u"),
            v.alias("v"),
            rho.alias("rho"),
        )
    )
    c = (
        F.col("u") * F.col("u")
        + F.col("v") * F.col("v")
        - 2 * F.col("rho") * F.col("u") * F.col("v")
    ) / (2 * (1 - F.col("rho") * F.col("rho")))
    return (
        uv.where(F.col("rho") * F.col("rho") < 1)
        .select(
            F.col("m").alias("n_view"),
            F.col("n").alias("n_click"),
            F.round("u", 4).alias("u"),
            F.round("v", 4).alias("v"),
            F.round(c, 4).alias("c_stat"),
            (c > F.log(F.lit(20.0))).alias("reject_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative trend test.
# ---------------------------------------------------------------------------

_JT_CELLS_CTE = """
    cells AS (
        SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INTEGER) AS g,
               CAST(l.l_quantity AS INTEGER) AS v,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    )
"""


def _jt_cells(spark: SparkSession) -> DataFrame:
    """Spark twin of ``_JT_CELLS_CTE``: the (priority-rank, quantity)
    contingency cells — at most 5 x 50 rows at any SF."""
    return (
        spark.table("lineitem")
        .join(
            spark.table("orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.substring("o_orderpriority", 1, 1)
            .cast("int")
            .alias("g"),
            F.col("l_quantity").cast("int").alias("v"),
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


@query(
    "stats_jonckheere_terpstra",
    oracle=f"""
    WITH {_JT_CELLS_CTE},
    jt AS (
        SELECT CAST(SUM(CASE WHEN a.v < b.v THEN 2 * a.cnt * b.cnt
                             WHEN a.v = b.v THEN a.cnt * b.cnt
                             ELSE 0 END) AS BIGINT) AS jt2
        FROM cells a JOIN cells b ON a.g < b.g
    ),
    marg AS (
        SELECT CAST(SUM(ni) AS BIGINT) AS nn,
               CAST(SUM(ni * ni) AS BIGINT) AS sn2,
               CAST(SUM(ni * (ni - 1) * (2 * ni + 5)) AS BIGINT)
                   AS sn25,
               CAST(SUM(ni * (ni - 1) * (ni - 2)) AS BIGINT) AS sn3,
               CAST(SUM(ni * (ni - 1)) AS BIGINT) AS sn1
        FROM (SELECT g, SUM(cnt) AS ni FROM cells GROUP BY g)
    ),
    tmarg AS (
        SELECT CAST(SUM(tv * (tv - 1) * (2 * tv + 5)) AS BIGINT)
                   AS st25,
               CAST(SUM(tv * (tv - 1) * (tv - 2)) AS BIGINT) AS st3,
               CAST(SUM(tv * (tv - 1)) AS BIGINT) AS st1
        FROM (SELECT v, SUM(cnt) AS tv FROM cells GROUP BY v)
    ),
    z AS (
        SELECT m.nn, j.jt2 / 2.0 AS jt,
               (1e0 * m.nn * m.nn - m.sn2) / 4.0 AS mu,
               (1e0 * m.nn * (m.nn - 1) * (2 * m.nn + 5)
                - m.sn25 - t.st25) / 72.0
               + CAST(m.sn3 AS DOUBLE) * CAST(t.st3 AS DOUBLE)
                 / (36.0 * m.nn * (m.nn - 1) * (m.nn - 2))
               + CAST(m.sn1 AS DOUBLE) * CAST(t.st1 AS DOUBLE)
                 / (8.0 * m.nn * (m.nn - 1)) AS var
        FROM jt j, marg m, tmarg t
        WHERE m.nn > 2
    )
    SELECT nn AS n, jt, {sql_jround("mu", 1)} AS jt_mean,
           {sql_jround("(jt - mu) / sqrt(var)", 4)} AS z,
           abs((jt - mu) / sqrt(var)) > 1.96 AS trend_5pct
    FROM z WHERE var > 0
    """,
)
def stats_jonckheere_terpstra(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED trend in lineitem
    quantity across the five order-priority levels (urgent -> low):
    JT sums, over every pair of groups in priority order, the
    Mann-Whitney count of quantity pairs that rise with priority
    (ties at half weight). Against the tie-corrected normal
    approximation this detects a monotone dose-response that a plain
    Kruskal-Wallis (unordered alternatives) dilutes — the classic
    ordered-alternative upgrade (ADVICE r13 candidate family).

    Numerics: the test is INTEGER-EXACT end to end — JT is
    accumulated doubled (ties count 1, strict pairs 2), and every
    moment term (Sum n_i^2, the three tie-correction sums) is bigint
    arithmetic on cell counts; the only doubles are the final
    mean/variance closed form, which shares its expression tree with
    the oracle (the two cross-products of cubic sums cast to DOUBLE
    before multiplying — their bigint product could overflow at
    extreme SF, the documented reason for the cast placement).

    Scale shape: the fact-fact lineitem-orders join is the standard
    TPC-H equi-join; the corpus then collapses to <= 250 contingency
    cells, and the pairwise JT accumulation joins that cell table to
    itself — metadata-sized work regardless of corpus volume."""
    cells = _jt_cells(spark)
    from powersql_spark.catalog import track_persist

    cells = track_persist(cells)
    a, b = cells.alias("a"), cells.alias("b")
    # The <=250-row cell table broadcasts: the non-equi pair join
    # plans as a bounded BroadcastNestedLoopJoin, never a
    # CartesianProduct exchange (plan_audit discipline).
    jt = a.join(F.broadcast(b), F.col("a.g") < F.col("b.g")).agg(
        F.sum(
            F.when(
                F.col("a.v") < F.col("b.v"),
                2 * F.col("a.cnt") * F.col("b.cnt"),
            )
            .when(
                F.col("a.v") == F.col("b.v"),
                F.col("a.cnt") * F.col("b.cnt"),
            )
            .otherwise(0)
        )
        .cast("bigint")
        .alias("jt2")
    )
    gm = cells.groupBy("g").agg(F.sum("cnt").alias("ni"))
    ni = F.col("ni")
    marg = gm.agg(
        F.sum("ni").cast("bigint").alias("nn"),
        F.sum(ni * ni).cast("bigint").alias("sn2"),
        F.sum(ni * (ni - 1) * (2 * ni + 5)).cast("bigint").alias("sn25"),
        F.sum(ni * (ni - 1) * (ni - 2)).cast("bigint").alias("sn3"),
        F.sum(ni * (ni - 1)).cast("bigint").alias("sn1"),
    )
    vm = cells.groupBy("v").agg(F.sum("cnt").alias("tv"))
    tv = F.col("tv")
    tmarg = vm.agg(
        F.sum(tv * (tv - 1) * (2 * tv + 5)).cast("bigint").alias("st25"),
        F.sum(tv * (tv - 1) * (tv - 2)).cast("bigint").alias("st3"),
        F.sum(tv * (tv - 1)).cast("bigint").alias("st1"),
    )
    j = (
        jt.crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(tmarg))
        .where(F.col("nn") > 2)
    )
    nn = F.col("nn")
    jt_v = F.col("jt2") / 2.0
    mu = (1.0 * nn * nn - F.col("sn2")) / 4.0
    var = (
        (
            1.0 * nn * (nn - 1) * (2 * nn + 5)
            - F.col("sn25")
            - F.col("st25")
        )
        / 72.0
        + F.col("sn3").cast("double")
        * F.col("st3").cast("double")
        / (36.0 * nn * (nn - 1) * (nn - 2))
        + F.col("sn1").cast("double")
        * F.col("st1").cast("double")
        / (8.0 * nn * (nn - 1))
    )
    zc = (jt_v - mu) / F.sqrt(var)
    return (
        j.select(
            nn.alias("n"),
            jt_v.alias("jt"),
            F.round(mu, 1).alias("jt_mean"),
            var.alias("var"),
            F.round(zc, 4).alias("z"),
            (F.abs(zc) > 1.96).alias("trend_5pct"),
        )
        .where(F.col("var") > 0)
        .drop("var")
    )


# ---------------------------------------------------------------------------
# Siegel repeated-median slope (the breakdown-0.5 robust trend).
# ---------------------------------------------------------------------------


@query(
    "stats_siegel_slopes",
    oracle=f"""
    WITH {_TDAY_CTE},
    slopes AS (
        SELECT a.event_type, a.t AS tj,
               (CAST(a.y AS DOUBLE) - CAST(b.y AS DOUBLE))
                   / (a.t - b.t) AS s
        FROM tday a JOIN tday b
          ON b.event_type = a.event_type AND b.t <> a.t
    ),
    medj AS (
        SELECT event_type, tj, s AS med_s
        FROM (
            SELECT event_type, tj, s,
                   ROW_NUMBER() OVER (PARTITION BY event_type, tj
                                      ORDER BY s, tj) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type, tj) AS c
            FROM slopes
        ) WHERE rn = (c - 1) // 2 + 1
    ),
    slope AS (
        SELECT event_type, med_s AS siegel_slope
        FROM (
            SELECT event_type, med_s,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY med_s, tj) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS c
            FROM medj
        ) WHERE rn = (c - 1) // 2 + 1
    ),
    icepts AS (
        SELECT d.event_type, s.siegel_slope,
               CAST(d.y AS DOUBLE) - s.siegel_slope * d.t AS ic,
               d.t
        FROM tday d JOIN slope s ON s.event_type = d.event_type
    ),
    fit AS (
        SELECT event_type, siegel_slope, ic AS siegel_icept
        FROM (
            SELECT event_type, siegel_slope, ic, t,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY ic, t) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS c
            FROM icepts
        ) WHERE rn = (c - 1) // 2 + 1
    )
    SELECT event_type,
           {sql_jround("siegel_slope", 6)} AS siegel_slope,
           {sql_jround("siegel_icept", 4)} AS siegel_icept
    FROM fit ORDER BY event_type
    """,
)
def stats_siegel_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-median slope per event-type daily series: for
    each point j take the LOWER MEDIAN of its pairwise slopes to every
    other point, then the lower median of those per-point medians (and
    the matching repeated-median intercept). Breakdown point 50% —
    twice Theil-Sen's (ts_theilsen_slope), surviving even a majority
    of leverage-free outliers; the robust-trend ladder's top rung.

    Numerics: slopes are exact-decimal differences over integer day
    gaps, compared and RANK-PICKED (row_number with deterministic
    tie-breaks) rather than interpolated — a selected data value
    replays exactly in the oracle, the same discipline as the curation
    median; rounding happens only on output.

    Scale shape: the corpus collapses to the daily table first; the
    pairwise slope join is (days x days) per type — metadata-sized —
    and both median picks are windows over that bounded grid."""
    tday = _tday(spark)
    from powersql_spark.catalog import track_persist

    tday = track_persist(tday)
    a, b = tday.alias("a"), tday.alias("b")
    slopes = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.t") != F.col("a.t")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.t").alias("tj"),
        (
            (F.col("a.y").cast("double") - F.col("b.y").cast("double"))
            / (F.col("a.t") - F.col("b.t"))
        ).alias("s"),
    )
    wj = Window.partitionBy("event_type", "tj").orderBy("s", "tj")
    wjc = Window.partitionBy("event_type", "tj")
    medj = (
        slopes.select(
            "event_type",
            "tj",
            "s",
            F.row_number().over(wj).alias("rn"),
            F.count("*").over(wjc).alias("c"),
        )
        .where(F.col("rn") == F.floor((F.col("c") - 1) / 2) + 1)
        .select("event_type", "tj", F.col("s").alias("med_s"))
    )
    wt = Window.partitionBy("event_type").orderBy("med_s", "tj")
    wtc = Window.partitionBy("event_type")
    slope = (
        medj.select(
            "event_type",
            "med_s",
            F.row_number().over(wt).alias("rn"),
            F.count("*").over(wtc).alias("c"),
        )
        .where(F.col("rn") == F.floor((F.col("c") - 1) / 2) + 1)
        .select("event_type", F.col("med_s").alias("siegel_slope"))
    )
    icepts = tday.join(F.broadcast(slope), "event_type").select(
        "event_type",
        "siegel_slope",
        (
            F.col("y").cast("double")
            - F.col("siegel_slope") * F.col("t")
        ).alias("ic"),
        "t",
    )
    wi = Window.partitionBy("event_type").orderBy("ic", "t")
    fit = (
        icepts.select(
            "event_type",
            "siegel_slope",
            "ic",
            F.row_number().over(wi).alias("rn"),
            F.count("*").over(wtc).alias("c"),
        )
        .where(F.col("rn") == F.floor((F.col("c") - 1) / 2) + 1)
    )
    return fit.select(
        "event_type",
        F.round("siegel_slope", 6).alias("siegel_slope"),
        F.round("ic", 4).alias("siegel_icept"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Cox-Stuart sign test for monotone trend.
# ---------------------------------------------------------------------------


@query(
    "stats_cox_stuart",
    oracle=f"""
    WITH {_TDAY_CTE},
    idx AS (
        SELECT event_type, y,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY t) AS i,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM tday
    ),
    pairs AS (
        SELECT a.event_type,
               CASE WHEN CAST(b.y AS DOUBLE) > CAST(a.y AS DOUBLE)
                    THEN 1 ELSE 0 END AS plus,
               CASE WHEN CAST(b.y AS DOUBLE) < CAST(a.y AS DOUBLE)
                    THEN 1 ELSE 0 END AS minus
        FROM idx a JOIN idx b
          ON b.event_type = a.event_type
         AND b.i = a.i + (a.n + 1) // 2
        WHERE a.i <= a.n // 2
    ),
    s AS (
        SELECT event_type,
               CAST(SUM(plus) AS BIGINT) AS n_plus,
               CAST(SUM(minus) AS BIGINT) AS n_minus
        FROM pairs GROUP BY event_type
    )
    SELECT event_type, n_plus, n_minus,
           {sql_jround(
               "(GREATEST(n_plus, n_minus) - 0.5"
               " - (n_plus + n_minus) / 2.0)"
               " / sqrt((n_plus + n_minus) / 4.0)", 4)} AS z,
           CASE WHEN (GREATEST(n_plus, n_minus) - 0.5
                      - (n_plus + n_minus) / 2.0)
                     / sqrt((n_plus + n_minus) / 4.0) <= 1.96
                THEN 'none'
                WHEN n_plus > n_minus THEN 'increasing'
                ELSE 'decreasing' END AS trend
    FROM s WHERE n_plus + n_minus > 0
    ORDER BY event_type
    """,
)
def stats_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test per event-type daily series: pair each
    day in the first half with its opposite in the second half, count
    rises vs falls (ties dropped), and test the sign counts against
    Binomial(n', 1/2) with the continuity-corrected normal
    approximation. The assumption-light pre-check beside
    ts_mann_kendall: no distributional model, one comparison per
    pair, robust to any monotone transformation of the series.

    Numerics: integer-exact counts end to end (exact-decimal y values
    compared directly); the z closed form is the only double and
    shares its expression tree with the oracle.

    Scale shape: one corpus collapse to the daily table; the pairing
    is a self-equi-join on (type, index offset) over metadata-sized
    rows."""
    tday = _tday(spark)
    w = Window.partitionBy("event_type").orderBy("t")
    wc = Window.partitionBy("event_type")
    idx = tday.select(
        "event_type",
        "y",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wc).alias("n"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (
            F.col("b.i")
            == F.col("a.i") + F.floor((F.col("a.n") + 1) / 2)
        ),
    ).where(
        F.col("a.i") <= F.floor(F.col("a.n") / 2)
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(
            F.col("b.y").cast("double") > F.col("a.y").cast("double"),
            1,
        )
        .otherwise(0)
        .alias("plus"),
        F.when(
            F.col("b.y").cast("double") < F.col("a.y").cast("double"),
            1,
        )
        .otherwise(0)
        .alias("minus"),
    )
    s = pairs.groupBy("event_type").agg(
        F.sum("plus").cast("bigint").alias("n_plus"),
        F.sum("minus").cast("bigint").alias("n_minus"),
    )
    np, nm = F.col("n_plus"), F.col("n_minus")
    z = (F.greatest(np, nm) - 0.5 - (np + nm) / 2.0) / F.sqrt(
        (np + nm) / 4.0
    )
    return (
        s.where(np + nm > 0)
        .select(
            "event_type",
            "n_plus",
            "n_minus",
            F.round(z, 4).alias("z"),
            F.when(z <= 1.96, "none")
            .when(np > nm, "increasing")
            .otherwise("decreasing")
            .alias("trend"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Rank-biserial correlation (Mann-Whitney effect size).
# ---------------------------------------------------------------------------


@query(
    "stats_rank_biserial",
    oracle=f"""
    WITH {_VC_CELLS_CTE},
    s AS (
        SELECT CAST(SUM(cv) AS BIGINT) AS n1,
               CAST(SUM(cc) AS BIGINT) AS n2,
               CAST(SUM(cv * r2) AS BIGINT) AS sr2v
        FROM rk
    )
    SELECT n1 AS n_view, n2 AS n_click,
           CAST(sr2v / 2.0 - n1 * (n1 + 1) / 2.0 AS DOUBLE) AS u_view,
           {sql_jround(
               "1.0 - (sr2v / 2.0 - n1 * (n1 + 1) / 2.0)"
               " / (0.5 * n1 * n2)", 6)} AS rank_biserial
    FROM s WHERE n1 > 0 AND n2 > 0
    """,
)
def stats_rank_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biserial correlation between the 'view' and 'click' value
    samples: r = 1 - 2U/(n1 n2), the effect-size companion to the
    Mann-Whitney test (what fraction of cross-group pairs favor one
    group, mapped to [-1, 1]) — the practical-significance readout a
    bare U p-value hides at 100 TB row counts.

    Numerics: midranks are doubled-integer (r2), so the rank sum and
    U are EXACT (U is a half-integer, emitted as its exact double);
    the correlation is one guarded ratio sharing its tree with the
    oracle.

    Scale shape: the corpus collapses to distinct-value cells; the
    rank window runs on the cell table; the statistic is a one-row
    aggregate."""
    rk = _vc_rank_cells(spark)
    s = rk.agg(
        F.sum("cv").cast("bigint").alias("n1"),
        F.sum("cc").cast("bigint").alias("n2"),
        F.sum(F.col("cv") * F.col("r2")).cast("bigint").alias("sr2v"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u = F.col("sr2v") / 2.0 - n1 * (n1 + 1) / 2.0
    return (
        s.where((n1 > 0) & (n2 > 0))
        .select(
            n1.alias("n_view"),
            n2.alias("n_click"),
            u.cast("double").alias("u_view"),
            F.round(1.0 - u / (0.5 * n1 * n2), 6).alias(
                "rank_biserial"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Somers' d and Goodman-Kruskal gamma (ordinal association).
# ---------------------------------------------------------------------------

_CONCORDANCE_CTE = f"""
    {_JT_CELLS_CTE},
    cd AS (
        SELECT
            CAST(SUM(CASE WHEN a.g < b.g AND a.v < b.v
                          THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT)
                AS c,
            CAST(SUM(CASE WHEN a.g < b.g AND a.v > b.v
                          THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT)
                AS d,
            CAST(SUM(CASE WHEN a.g = b.g AND a.v < b.v
                          THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT)
                AS tx,
            CAST(SUM(CASE WHEN a.v = b.v AND a.g < b.g
                          THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT)
                AS ty
        FROM cells a JOIN cells b
          ON a.g < b.g OR (a.g = b.g AND a.v < b.v)
    )
"""


def _concordance(spark: SparkSession) -> DataFrame:
    """(c, d, tx, ty): concordant / discordant / tied-on-X-only /
    tied-on-Y-only pair counts over the (priority, quantity) cells —
    each unordered observation pair counted exactly once via the
    (g, v)-lexicographic cell-pair join."""
    cells = _jt_cells(spark)
    from powersql_spark.catalog import track_persist

    cells = track_persist(cells)
    a, b = cells.alias("a"), cells.alias("b")
    # Broadcast the <=250-row cell side: bounded BNLJ, never a
    # CartesianProduct exchange (plan_audit discipline).
    pair = a.join(
        F.broadcast(b),
        (F.col("a.g") < F.col("b.g"))
        | (
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.v") < F.col("b.v"))
        ),
    )
    prod = F.col("a.cnt") * F.col("b.cnt")
    return pair.agg(
        F.sum(
            F.when(
                (F.col("a.g") < F.col("b.g"))
                & (F.col("a.v") < F.col("b.v")),
                prod,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            F.when(
                (F.col("a.g") < F.col("b.g"))
                & (F.col("a.v") > F.col("b.v")),
                prod,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("d"),
        F.sum(
            F.when(
                (F.col("a.g") == F.col("b.g"))
                & (F.col("a.v") < F.col("b.v")),
                prod,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tx"),
        F.sum(
            F.when(
                (F.col("a.v") == F.col("b.v"))
                & (F.col("a.g") < F.col("b.g")),
                prod,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ty"),
    )


@query(
    "stats_somers_d",
    oracle=f"""
    WITH {_CONCORDANCE_CTE}
    SELECT c AS concordant, d AS discordant,
           tx AS ties_x_only, ty AS ties_y_only,
           {sql_jround("(1e0 * c - d) / (c + d + ty)", 6)} AS d_yx,
           {sql_jround("(1e0 * c - d) / (c + d + tx)", 6)} AS d_xy
    FROM cd WHERE c + d + ty > 0 AND c + d + tx > 0
    """,
)
def stats_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' d between order priority (X, ordinal urgent->low) and
    lineitem quantity (Y): the ASYMMETRIC ordinal association — d_yx
    = (C-D)/(C+D+T_Y) treats quantity as the dependent variable
    (ties on the dependent count against the association), d_xy the
    reverse. The directional refinement of Kendall's tau for
    predictor->outcome reads (the statistic under every ROC Gini:
    d_yx of score vs outcome = 2 AUC - 1).

    Numerics: pair counts are INTEGER-EXACT bigint products over the
    <= 250 contingency cells (each unordered pair counted once via
    the lexicographic cell-pair join); the two ratios are the only
    doubles.

    Scale shape: one fact-fact equi-join (lineitem x orders), one
    collapse to the cell grid, one metadata-sized cell-pair join."""
    cd = _concordance(spark)
    c, d = F.col("c"), F.col("d")
    tx, ty = F.col("tx"), F.col("ty")
    return (
        cd.where((c + d + ty > 0) & (c + d + tx > 0))
        .select(
            c.alias("concordant"),
            d.alias("discordant"),
            tx.alias("ties_x_only"),
            ty.alias("ties_y_only"),
            F.round((1.0 * c - d) / (c + d + ty), 6).alias("d_yx"),
            F.round((1.0 * c - d) / (c + d + tx), 6).alias("d_xy"),
        )
    )


@query(
    "stats_gk_gamma",
    oracle=f"""
    WITH {_CONCORDANCE_CTE}
    SELECT c AS concordant, d AS discordant,
           {sql_jround("(1e0 * c - d) / (c + d)", 6)} AS gamma,
           {sql_jround(
               "(1e0 * c - d) / (c + d)"
               " * sqrt((c + d) / (1e0 * c * d))"
               " * sqrt(1e0 * c * d) / sqrt(1e0 * c + d)", 6)}
               IS NOT NULL AS finite
    FROM cd WHERE c + d > 0
    """,
)
def stats_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between order priority and lineitem
    quantity: (C-D)/(C+D) — the tie-IGNORING ordinal association
    (only strictly concordant/discordant pairs vote). Reads higher
    than tau-b/Somers' d on heavily tied grids by construction;
    shipping all three from the same concordance counts lets a user
    see how much of the association is tie-structure.

    Numerics/scale: identical integer-exact concordance collapse as
    stats_somers_d (one cell-pair join; the ratio is the only
    double)."""
    cd = _concordance(spark)
    c, d = F.col("c"), F.col("d")
    gamma = (1.0 * c - d) / (c + d)
    finite = (
        gamma
        * F.sqrt((c + d) / (1.0 * c * d))
        * F.sqrt(1.0 * c * d)
        / F.sqrt(1.0 * c + d)
    ).isNotNull()
    return (
        cd.where(c + d > 0)
        .select(
            c.alias("concordant"),
            d.alias("discordant"),
            F.round(gamma, 6).alias("gamma"),
            finite.alias("finite"),
        )
    )


# ---------------------------------------------------------------------------
# 2x2 effect measures: odds ratio and risk ratio with Wald CIs.
# ---------------------------------------------------------------------------

_TWOBYTWO_CTE = """
    tab AS (
        SELECT
            CAST(SUM(CASE WHEN l_discount > 0.05
                          AND l_returnflag = 'R'
                     THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(SUM(CASE WHEN l_discount > 0.05
                          AND l_returnflag <> 'R'
                     THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(SUM(CASE WHEN l_discount <= 0.05
                          AND l_returnflag = 'R'
                     THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(SUM(CASE WHEN l_discount <= 0.05
                          AND l_returnflag <> 'R'
                     THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM lineitem
    ),
    adj AS (
        -- Haldane-Anscombe: +0.5 to every cell iff any cell is empty
        SELECT a, b, c, d,
               CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                    THEN 0.5 ELSE 0.0 END AS h
        FROM tab
    )
"""


def _two_by_two(spark: SparkSession) -> DataFrame:
    """Spark twin of ``_TWOBYTWO_CTE``: the (deep-discount exposure x
    returned outcome) 2x2 counts plus the Haldane-Anscombe 0.5
    correction flag (applied only when a cell is empty, so the
    common case stays integer-exact)."""
    exp_ = F.col("l_discount") > 0.05
    out_ = F.col("l_returnflag") == "R"
    tab = spark.table("lineitem").agg(
        F.sum(F.when(exp_ & out_, 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(exp_ & ~out_, 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(~exp_ & out_, 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(~exp_ & ~out_, 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    h = F.when(
        (F.col("a") == 0)
        | (F.col("b") == 0)
        | (F.col("c") == 0)
        | (F.col("d") == 0),
        0.5,
    ).otherwise(0.0)
    return tab.select("a", "b", "c", "d", h.alias("h"))


@query(
    "stats_odds_ratio",
    oracle=f"""
    WITH {_TWOBYTWO_CTE}
    SELECT a, b, c, d,
           {sql_jround(
               "((a + h) * (d + h)) / ((b + h) * (c + h))", 6)}
               AS odds_ratio,
           {sql_jround(
               "exp(ln(((a + h) * (d + h)) / ((b + h) * (c + h)))"
               " - 1.96 * sqrt(1 / (a + h) + 1 / (b + h)"
               " + 1 / (c + h) + 1 / (d + h)))", 6)} AS ci_lo,
           {sql_jround(
               "exp(ln(((a + h) * (d + h)) / ((b + h) * (c + h)))"
               " + 1.96 * sqrt(1 / (a + h) + 1 / (b + h)"
               " + 1 / (c + h) + 1 / (d + h)))", 6)} AS ci_hi
    FROM adj WHERE a + h > 0 AND b + h > 0 AND c + h > 0 AND d + h > 0
    """,
)
def stats_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of a lineitem being RETURNED given a deep discount
    (> 5%), with the Woolf log-normal 95% CI and the
    Haldane-Anscombe +0.5 correction applied only when a cell is
    empty — the 2x2 effect measure for case-control-style reads
    (symmetric in rows/columns, unlike the risk ratio twin).

    Numerics: cell counts are integer-exact from one scan; OR and the
    CI bounds are one closed-form double expression shared with the
    oracle (ln/exp both computed on the same corrected cells).

    Scale shape: ONE partial-aggregated scan to four numbers; all
    arithmetic is on the one-row table."""
    adj = _two_by_two(spark)
    a, b = F.col("a") + F.col("h"), F.col("b") + F.col("h")
    c, d = F.col("c") + F.col("h"), F.col("d") + F.col("h")
    or_ = (a * d) / (b * c)
    se = F.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    return (
        adj.where((a > 0) & (b > 0) & (c > 0) & (d > 0))
        .select(
            "a",
            "b",
            "c",
            "d",
            F.round(or_, 6).alias("odds_ratio"),
            F.round(F.exp(F.log(or_) - 1.96 * se), 6).alias("ci_lo"),
            F.round(F.exp(F.log(or_) + 1.96 * se), 6).alias("ci_hi"),
        )
    )


@query(
    "stats_risk_ratio",
    oracle=f"""
    WITH {_TWOBYTWO_CTE}
    SELECT a, b, c, d,
           {sql_jround(
               "((a + h) / (a + b + 2 * h))"
               " / ((c + h) / (c + d + 2 * h))", 6)} AS risk_ratio,
           {sql_jround(
               "exp(ln(((a + h) / (a + b + 2 * h))"
               " / ((c + h) / (c + d + 2 * h)))"
               " - 1.96 * sqrt(1 / (a + h) - 1 / (a + b + 2 * h)"
               " + 1 / (c + h) - 1 / (c + d + 2 * h)))", 6)}
               AS ci_lo,
           {sql_jround(
               "exp(ln(((a + h) / (a + b + 2 * h))"
               " / ((c + h) / (c + d + 2 * h)))"
               " + 1.96 * sqrt(1 / (a + h) - 1 / (a + b + 2 * h)"
               " + 1 / (c + h) - 1 / (c + d + 2 * h)))", 6)}
               AS ci_hi
    FROM adj WHERE a + h > 0 AND c + h > 0
    """,
)
def stats_risk_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk ratio (relative risk) of return given a deep discount,
    with the Katz log-normal 95% CI — the cohort-read twin of
    stats_odds_ratio (directly interpretable as 'X times as likely',
    which the OR only approximates when the outcome is rare). Shares
    the 2x2 collapse and Haldane-Anscombe discipline.

    Scale shape: ONE partial-aggregated scan to four numbers."""
    adj = _two_by_two(spark)
    a = F.col("a") + F.col("h")
    c = F.col("c") + F.col("h")
    n1 = F.col("a") + F.col("b") + 2 * F.col("h")
    n0 = F.col("c") + F.col("d") + 2 * F.col("h")
    rr = (a / n1) / (c / n0)
    se = F.sqrt(1 / a - 1 / n1 + 1 / c - 1 / n0)
    return (
        adj.where((a > 0) & (c > 0))
        .select(
            "a",
            "b",
            "c",
            "d",
            F.round(rr, 6).alias("risk_ratio"),
            F.round(F.exp(F.log(rr) - 1.96 * se), 6).alias("ci_lo"),
            F.round(F.exp(F.log(rr) + 1.96 * se), 6).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Poisson rate comparison (purchase rate, first vs second
# half of the observation window).
# ---------------------------------------------------------------------------


@query(
    "stats_poisson_two_rate",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) AS mn,
               CAST(epoch_us(MAX(ts)) AS BIGINT) AS mx,
               (CAST(epoch_us(MIN(ts)) AS BIGINT)
                + CAST(epoch_us(MAX(ts)) AS BIGINT)) // 2 AS mid
        FROM events
    ),
    k AS (
        SELECT CAST(SUM(CASE WHEN CAST(epoch_us(e.ts) AS BIGINT)
                                  <= b.mid
                        THEN 1 ELSE 0 END) AS BIGINT) AS k1,
               CAST(SUM(CASE WHEN CAST(epoch_us(e.ts) AS BIGINT)
                                  > b.mid
                        THEN 1 ELSE 0 END) AS BIGINT) AS k2,
               CAST(MAX(b.mid - b.mn) AS BIGINT) AS t1,
               CAST(MAX(b.mx - b.mid) AS BIGINT) AS t2
        FROM events e, bounds b
        WHERE e.event_type = 'purchase'
    )
    SELECT k1, k2,
           {sql_jround(
               "(1e0 * k1 / t1) / (1e0 * k2 / t2)", 6)}
               AS rate_ratio,
           {sql_jround(
               "(k1 - (k1 + k2) * (1e0 * t1 / (t1 + t2)))"
               " / sqrt((k1 + k2) * (1e0 * t1 / (t1 + t2))"
               " * (1e0 * t2 / (t1 + t2)))", 4)} AS z,
           abs((k1 - (k1 + k2) * (1e0 * t1 / (t1 + t2)))
               / sqrt((k1 + k2) * (1e0 * t1 / (t1 + t2))
               * (1e0 * t2 / (t1 + t2)))) > 1.96 AS rate_changed_5pct
    FROM k WHERE k1 + k2 > 0 AND t1 > 0 AND t2 > 0 AND k2 > 0
    """,
)
def stats_poisson_two_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Poisson rate test on purchase events: split the
    observation window at its exact midpoint (integer microseconds)
    and test whether the purchase RATE differs between halves via the
    conditional binomial normal approximation (k1 ~ Bin(k1+k2,
    t1/(t1+t2)) under equal rates) — the arrival-rate drift check
    that complements the value-drift keys (KS/PSI).

    Numerics: the midpoint and both exposures are exact bigint
    microsecond arithmetic (identical integer division on both
    engines); counts are exact; the z and rate ratio are one shared
    double tree.

    Scale shape: one aggregate for bounds, one filtered
    partial-aggregated scan for the two counts."""
    e = spark.table("events")
    bounds = e.agg(
        F.unix_micros(F.min("ts")).alias("mn"),
        F.unix_micros(F.max("ts")).alias("mx"),
    ).select(
        "mn",
        "mx",
        F.expr("(mn + mx) div 2").alias("mid"),
    )
    k = (
        e.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(bounds))
        .agg(
            F.sum(
                F.when(F.unix_micros("ts") <= F.col("mid"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k1"),
            F.sum(
                F.when(F.unix_micros("ts") > F.col("mid"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k2"),
            F.max(F.col("mid") - F.col("mn")).cast("bigint").alias("t1"),
            F.max(F.col("mx") - F.col("mid")).cast("bigint").alias("t2"),
        )
    )
    k1, k2 = F.col("k1"), F.col("k2")
    t1, t2 = F.col("t1"), F.col("t2")
    p = 1.0 * t1 / (t1 + t2)
    z = (k1 - (k1 + k2) * p) / F.sqrt(
        (k1 + k2) * p * (1.0 * t2 / (t1 + t2))
    )
    return (
        k.where((k1 + k2 > 0) & (t1 > 0) & (t2 > 0) & (k2 > 0))
        .select(
            "k1",
            "k2",
            F.round((1.0 * k1 / t1) / (1.0 * k2 / t2), 6).alias(
                "rate_ratio"
            ),
            F.round(z, 4).alias("z"),
            (F.abs(z) > 1.96).alias("rate_changed_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Capture-recapture population estimation (Chapman).
# ---------------------------------------------------------------------------


@query(
    "stats_capture_recapture",
    oracle=f"""
    WITH caps AS (
        SELECT
            CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
                       THEN user_id END) AS BIGINT) AS na,
            CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
                       THEN user_id END) AS BIGINT) AS nb,
            CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_seen
        FROM events WHERE event_type IN ('view', 'click')
    ),
    m AS (
        SELECT na, nb, na + nb - n_seen AS both_caps FROM caps
    )
    SELECT na AS n_capture_a, nb AS n_capture_b,
           both_caps AS n_recaptured,
           {sql_jround(
               "(na + 1.0) * (nb + 1.0) / (both_caps + 1.0) - 1",
               4)} AS chapman_estimate,
           {sql_jround(
               "sqrt((na + 1.0) * (nb + 1.0) * (1e0 * na - both_caps)"
               " * (1e0 * nb - both_caps)"
               " / ((both_caps + 1.0) * (both_caps + 1.0)"
               " * (both_caps + 2.0)))", 4)} AS se
    FROM m
    """,
)
def stats_capture_recapture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chapman capture-recapture estimate of the active user
    population from two 'captures' — users seen viewing vs users seen
    clicking: N-hat = (nA+1)(nB+1)/(m+1) - 1 with its standard error,
    where m is the overlap. The ecology estimator re-purposed for the
    warehouse question 'how many users exist beyond the ones any one
    event stream observes?' (same inferential shape as dedup
    undercount estimation). The Chapman +1 form is defined even at
    zero overlap — no extra guard needed.

    Numerics: the overlap is computed by inclusion-exclusion over
    three exact distinct counts (one pass, no user-level join); the
    estimate is one shared double tree.

    Scale shape: one scan, three COUNT(DISTINCT) aggregates (Spark
    expands via partial distinct aggregation), one-row arithmetic."""
    caps = (
        spark.table("events")
        .where(F.col("event_type").isin("view", "click"))
        .agg(
            F.countDistinct(
                F.when(F.col("event_type") == "view", F.col("user_id"))
            )
            .cast("bigint")
            .alias("na"),
            F.countDistinct(
                F.when(F.col("event_type") == "click", F.col("user_id"))
            )
            .cast("bigint")
            .alias("nb"),
            F.countDistinct("user_id").cast("bigint").alias("n_seen"),
        )
    )
    m = caps.select(
        "na",
        "nb",
        (F.col("na") + F.col("nb") - F.col("n_seen")).alias("both_caps"),
    )
    na, nb, bc = F.col("na"), F.col("nb"), F.col("both_caps")
    est = (na + 1.0) * (nb + 1.0) / (bc + 1.0) - 1
    se = F.sqrt(
        (na + 1.0)
        * (nb + 1.0)
        * (1.0 * na - bc)
        * (1.0 * nb - bc)
        / ((bc + 1.0) * (bc + 1.0) * (bc + 2.0))
    )
    return m.select(
        na.alias("n_capture_a"),
        nb.alias("n_capture_b"),
        bc.alias("n_recaptured"),
        F.round(est, 4).alias("chapman_estimate"),
        F.round(se, 4).alias("se"),
    )


# ---------------------------------------------------------------------------
# Hedges' g (small-sample-corrected standardized effect).
# ---------------------------------------------------------------------------


@query(
    "stats_hedges_g",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
            CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS n_a,
            CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS n_b,
            CAST(SUM(CASE WHEN is_a
                     THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE)
                AS s_a,
            CAST(SUM(CASE WHEN NOT is_a
                     THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE)
                AS s_b,
            CAST(SUM(CASE WHEN is_a
                     THEN CAST(value * value AS DECIMAL(28,6)) END)
                 AS DOUBLE) AS q_a,
            CAST(SUM(CASE WHEN NOT is_a
                     THEN CAST(value * value AS DECIMAL(28,6)) END)
                 AS DOUBLE) AS q_b
        FROM (SELECT event_type, value,
                     substr(md5(CAST(user_id AS VARCHAR) || ':hedg'),
                            1, 1) < '8' AS is_a
              FROM events WHERE value IS NOT NULL)
        GROUP BY event_type
    ),
    eff AS (
        SELECT event_type, n_a, n_b,
               s_a / n_a AS mu_a, s_b / n_b AS mu_b,
               ((q_a - s_a * s_a / n_a) + (q_b - s_b * s_b / n_b))
                   / (n_a + n_b - 2) AS sp2
        FROM s WHERE n_a >= 2 AND n_b >= 2
    )
    SELECT event_type, n_a, n_b,
           CASE WHEN sp2 > 0 THEN
               {sql_jround("(mu_b - mu_a) / sqrt(sp2)", 4)} END
               AS cohens_d,
           {sql_jround(
               "1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)", 6)}
               AS correction_j,
           CASE WHEN sp2 > 0 THEN
               {sql_jround(
                   "(mu_b - mu_a) / sqrt(sp2)"
                   " * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0))",
                   4)} END AS hedges_g
    FROM eff
    ORDER BY event_type
    """,
)
def stats_hedges_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hedges' g per event segment: Cohen's d scaled by the
    small-sample bias correction J = 1 - 3/(4N - 9) — the estimator
    meta-analyses pool, because raw d overstates the population
    effect at small per-arm counts. Runs on its OWN md5 split
    (':hedg' salt) so it is an independent experiment from
    stats_cohens_d rather than a re-read of the same arms.

    Numerics: identical decimal-exact sufficient-statistics collapse
    as the d key; J is a rational in the counts; degenerate segments
    emit NULL.

    Scale shape: six decimal-exact numbers per segment from ONE scan;
    everything after is scalar arithmetic."""
    e = spark.table("events").where(F.col("value").isNotNull())
    s = (
        e.select("event_type", "value", ab_arm(":hedg").alias("is_a"))
        .groupBy("event_type")
        .agg(*arm_power_sums())
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    mu_a, mu_b, _, _ = arm_moments()
    sp2 = pooled_var()
    d = (mu_b - mu_a) / F.sqrt(sp2)
    jcorr = 1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)
    return (
        s.where((n_a >= 2) & (n_b >= 2))
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.when(sp2 > 0, F.round(d, 4)).alias("cohens_d"),
            F.round(jcorr, 6).alias("correction_j"),
            F.when(sp2 > 0, F.round(d * jcorr, 4)).alias("hedges_g"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Theil's uncertainty coefficient (categorical association, directed).
# ---------------------------------------------------------------------------


@query(
    "stats_uncertainty_coeff",
    oracle=f"""
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source
    ),
    m AS (
        SELECT lang, source, c,
               SUM(c) OVER () AS n,
               SUM(c) OVER (PARTITION BY lang) AS c_lang,
               SUM(c) OVER (PARTITION BY source) AS c_src
        FROM cells
    ),
    mi AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE) * n
                        / (1e0 * c_lang * c_src)), 8)
                    AS DECIMAL(38,8))) AS DOUBLE) / MAX(n) AS mi_nats
        FROM m
    ),
    hh AS (
        SELECT
            (SELECT -CAST(SUM(cl * CAST(round(ln(CAST(cl AS DOUBLE)
                     / nn), 8) AS DECIMAL(38,8))) AS DOUBLE) / MAX(nn)
             FROM (SELECT CAST(SUM(c) AS BIGINT) AS cl,
                          (SELECT SUM(c) FROM cells) AS nn
                   FROM cells GROUP BY lang)) AS h_lang,
            (SELECT -CAST(SUM(cs * CAST(round(ln(CAST(cs AS DOUBLE)
                     / nn), 8) AS DECIMAL(38,8))) AS DOUBLE) / MAX(nn)
             FROM (SELECT CAST(SUM(c) AS BIGINT) AS cs,
                          (SELECT SUM(c) FROM cells) AS nn
                   FROM cells GROUP BY source)) AS h_src
    )
    SELECT mi.n,
           {sql_jround("mi.mi_nats / hh.h_lang", 6)} AS u_lang_given_src,
           {sql_jround("mi.mi_nats / hh.h_src", 6)} AS u_src_given_lang,
           {sql_jround(
               "2 * mi.mi_nats / (hh.h_lang + hh.h_src)", 6)}
               AS u_symmetric
    FROM mi, hh
    WHERE hh.h_lang > 0 AND hh.h_src > 0
    """,
)
def stats_uncertainty_coeff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil's uncertainty coefficient between documents.lang and
    documents.source: U(lang|source) = MI / H(lang) — the fraction of
    lang's entropy that knowing the source removes — plus the reverse
    direction and the symmetric average. The DIRECTED, [0,1]-scaled
    reading of the same cells profile_mutual_information reports in
    raw nats: an ETL reviewer asks 'can source predict lang' and U
    answers it directly where MI's scale does not.

    Numerics: same discipline as the MI key — integer cell counts,
    8dp-rounded ln terms, decimal sums; the three ratios are the only
    free doubles.

    Scale shape: one scan collapses to the (lang x source) grid;
    marginal entropies aggregate that grid."""
    cells = spark.table("documents").groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("c")
    )
    from powersql_spark.catalog import track_persist

    cells = track_persist(cells)
    w_all = Window.partitionBy(F.lit(1))
    w_lang = Window.partitionBy("lang")
    w_src = Window.partitionBy("source")
    m = cells.select(
        "c",
        F.sum("c").over(w_all).alias("n"),
        F.sum("c").over(w_lang).alias("c_lang"),
        F.sum("c").over(w_src).alias("c_src"),
    )
    mi = m.agg(
        F.max("n").cast("bigint").alias("n"),
        (
            F.sum(
                F.col("c")
                * F.round(
                    F.log(
                        F.col("c").cast("double")
                        * F.col("n")
                        / (1.0 * F.col("c_lang") * F.col("c_src"))
                    ),
                    8,
                ).cast("decimal(38,8)")
            ).cast("double")
            / F.max("n")
        ).alias("mi_nats"),
    )

    def marg_entropy(key: str, alias: str) -> DataFrame:
        marg = cells.groupBy(key).agg(
            F.sum("c").cast("bigint").alias("ck")
        )
        tot = marg.agg(F.sum("ck").alias("nn"))
        return (
            marg.crossJoin(F.broadcast(tot))
            .agg(
                (
                    -F.sum(
                        F.col("ck")
                        * F.round(
                            F.log(
                                F.col("ck").cast("double") / F.col("nn")
                            ),
                            8,
                        ).cast("decimal(38,8)")
                    ).cast("double")
                    / F.max("nn")
                ).alias(alias)
            )
        )

    hh = marg_entropy("lang", "h_lang").crossJoin(
        F.broadcast(marg_entropy("source", "h_src"))
    )
    j = mi.crossJoin(F.broadcast(hh))
    return (
        j.where((F.col("h_lang") > 0) & (F.col("h_src") > 0))
        .select(
            "n",
            F.round(F.col("mi_nats") / F.col("h_lang"), 6).alias(
                "u_lang_given_src"
            ),
            F.round(F.col("mi_nats") / F.col("h_src"), 6).alias(
                "u_src_given_lang"
            ),
            F.round(
                2 * F.col("mi_nats")
                / (F.col("h_lang") + F.col("h_src")),
                6,
            ).alias("u_symmetric"),
        )
    )


# ---------------------------------------------------------------------------
# Cochran's Q (k related binary outcomes).
# ---------------------------------------------------------------------------


@query(
    "stats_cochran_q",
    oracle=f"""
    WITH grid AS (
        SELECT user_id, event_type, 1 AS x
        FROM events GROUP BY user_id, event_type
    ),
    cols AS (
        SELECT event_type, CAST(SUM(x) AS BIGINT) AS cj
        FROM grid GROUP BY event_type
    ),
    rows_ AS (
        SELECT user_id, CAST(SUM(x) AS BIGINT) AS ru
        FROM grid GROUP BY user_id
    ),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM cols),
    s AS (
        SELECT CAST(SUM(cj) AS BIGINT) AS nn,
               CAST(SUM(cj * cj) AS BIGINT) AS scj2
        FROM cols
    ),
    r AS (
        SELECT CAST(SUM(ru) AS BIGINT) AS sru,
               CAST(SUM(ru * ru) AS BIGINT) AS sru2,
               CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM rows_
    )
    SELECT k.k AS k_treatments, r.n_blocks, s.nn AS n_ones,
           {sql_jround(
               "(k.k - 1) * (k.k * s.scj2 - 1e0 * s.nn * s.nn)"
               " / (1e0 * k.k * r.sru - r.sru2)", 4)} AS cochran_q,
           (k.k - 1) * (k.k * s.scj2 - 1e0 * s.nn * s.nn)
               / (1e0 * k.k * r.sru - r.sru2) > 9.488
               AS differs_5pct
    FROM k, s, r
    WHERE k.k * r.sru - r.sru2 > 0 AND k.k > 1
    """,
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over the user x event-type PARTICIPATION grid: did
    the k = 5 event types reach different fractions of the user base,
    treating each user as their own matched block (the
    repeated-measures binary ANOVA — McNemar's k-treatment
    generalization)? Q = (k-1)(k Sum Cj^2 - N^2)/(k Sum Ru - Sum
    Ru^2) against chi-square(k-1); the 5% flag uses the df=4 critical
    9.488 (k is structurally 5 here; the statistic itself is emitted
    for any other df). Non-informative blocks (all-0/all-1 rows)
    cancel identically in numerator and denominator, so no exclusion
    pass is needed — documented instead of filtered.

    Numerics: INTEGER-EXACT end to end (presence grid, row/column
    totals, their squares); the final ratio is one shared double
    tree.

    Scale shape: one distinct-collapse to the (user, type) grid, then
    two metadata-bounded marginal aggregations."""
    grid = (
        spark.table("events")
        .groupBy("user_id", "event_type")
        .agg(F.lit(1).alias("x"))
    )
    from powersql_spark.catalog import track_persist

    grid = track_persist(grid)
    cols = grid.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("cj")
    )
    rows_ = grid.groupBy("user_id").agg(
        F.sum("x").cast("bigint").alias("ru")
    )
    k = cols.agg(F.count("*").cast("bigint").alias("k"))
    s = cols.agg(
        F.sum("cj").cast("bigint").alias("nn"),
        F.sum(F.col("cj") * F.col("cj")).cast("bigint").alias("scj2"),
    )
    r = rows_.agg(
        F.sum("ru").cast("bigint").alias("sru"),
        F.sum(F.col("ru") * F.col("ru")).cast("bigint").alias("sru2"),
        F.count("*").cast("bigint").alias("n_blocks"),
    )
    j = (
        k.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(r))
    )
    kk = F.col("k")
    q = (
        (kk - 1)
        * (kk * F.col("scj2") - 1.0 * F.col("nn") * F.col("nn"))
        / (1.0 * kk * F.col("sru") - F.col("sru2"))
    )
    return (
        j.where((kk * F.col("sru") - F.col("sru2") > 0) & (kk > 1))
        .select(
            kk.alias("k_treatments"),
            F.col("n_blocks"),
            F.col("nn").alias("n_ones"),
            F.round(q, 4).alias("cochran_q"),
            (q > 9.488).alias("differs_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Quade test (weighted rank ANOVA for complete blocks).
# ---------------------------------------------------------------------------


@query(
    "stats_quade_test",
    oracle=f"""
    WITH cell AS (
        SELECT user_id, event_type,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS v
        FROM events WHERE value IS NOT NULL
        GROUP BY user_id, event_type
    ),
    complete AS (
        SELECT user_id FROM cell GROUP BY user_id
        HAVING COUNT(*) = (SELECT COUNT(DISTINCT event_type)
                           FROM cell)
    ),
    cc AS (
        SELECT c.* FROM cell c JOIN complete b USING (user_id)
    ),
    rnk AS (
        SELECT user_id, event_type, v,
               2 * RANK() OVER (PARTITION BY user_id ORDER BY v)
                 + COUNT(*) OVER (PARTITION BY user_id, v) - 1 AS r2
        FROM cc
    ),
    blockrange AS (
        SELECT user_id, MAX(v) - MIN(v) AS rng FROM cc
        GROUP BY user_id
    ),
    qrank AS (
        SELECT user_id,
               2 * RANK() OVER (ORDER BY rng)
                 + COUNT(*) OVER (PARTITION BY rng) - 1 AS q2
        FROM blockrange
    ),
    kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
           FROM cc),
    sterm AS (
        SELECT r.event_type,
               -- S_uj scaled by 4: (2Q)(2r - (k+1)) stays integer
               CAST(SUM(q.q2 * (r.r2 - (kk.k + 1))) AS BIGINT) AS s4j,
               CAST(SUM(q.q2 * (r.r2 - (kk.k + 1))
                        * q.q2 * (r.r2 - (kk.k + 1))) AS BIGINT)
                   AS s16sq
        FROM rnk r JOIN qrank q USING (user_id), kk
        GROUP BY r.event_type, kk.k
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qrank),
    agg AS (
        SELECT CAST(SUM(s16sq) AS DOUBLE) / 16.0 AS a,
               CAST(SUM(CAST(s4j AS DOUBLE) * s4j) AS DOUBLE)
                   / (16.0 * MAX(nb.n)) AS b,
               MAX(nb.n) AS n, MAX(kk.k) AS k
        FROM sterm, nb, kk
    )
    SELECT k AS k_treatments, n AS n_blocks,
           {sql_jround("(n - 1) * b / (a - b)", 4)} AS quade_f,
           (n - 1) * b / (a - b) > 2.372 AS differs_5pct
    FROM agg WHERE a - b > 0 AND n > 1
    """,
)
def stats_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test over complete user blocks: do the event types carry
    different VALUE levels, with each user a matched block and users
    with larger value RANGES weighted more (the range-informed
    upgrade of stats_friedman_test, markedly more powerful at small
    k)? Within-block midranks r_uj weight by the block-range midrank
    Q_u; S_uj = Q_u (r_uj - (k+1)/2); F = (n-1)B/(A-B) against
    F(k-1, (n-1)(k-1)) — the 5% flag uses the large-denominator-df
    critical 2.372 for k = 5 (the statistic is emitted for any k).
    Only complete blocks (all k types observed) enter, per the
    test's definition.

    Numerics: ALL ranks are doubled midranks (exact integers, the
    r13 rank-cell discipline), so every S term scaled by 4 is an
    exact bigint and A and B are exact integer sums divided once by
    16 — the F ratio is the only free double. Cell means are
    decimal-exact sums over counts (identical doubles both engines)
    before any ranking.

    Scale shape: one collapse to (user, type) cells; within-block
    ranks ride a (user) window over k-row partitions; block ranges
    rank over user-cardinality rows; the statistic aggregates k
    rows."""
    cell = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(28,6)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("v")
        )
    )
    from powersql_spark.catalog import track_persist

    cell = track_persist(cell)
    k_total = cell.select("event_type").distinct().count()
    complete = (
        cell.groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") == k_total)
        .select("user_id")
    )
    cc = track_persist(cell.join(complete, "user_id"))
    wur = Window.partitionBy("user_id").orderBy("v")
    wut = Window.partitionBy("user_id", "v")
    rnk = cc.select(
        "user_id",
        "event_type",
        (
            2 * F.rank().over(wur) + F.count("*").over(wut) - 1
        ).alias("r2"),
    )
    br = cc.groupBy("user_id").agg(
        (F.max("v") - F.min("v")).alias("rng")
    )
    wbr = Window.orderBy("rng")
    wbt = Window.partitionBy("rng")
    qrank = br.select(
        "user_id",
        (2 * F.rank().over(wbr) + F.count("*").over(wbt) - 1).alias(
            "q2"
        ),
    )
    n_blocks = qrank.count()
    s4 = F.col("q2") * (F.col("r2") - (k_total + 1))
    sterm = (
        rnk.join(qrank, "user_id")
        .groupBy("event_type")
        .agg(
            F.sum(s4).cast("bigint").alias("s4j"),
            F.sum(s4 * s4).cast("bigint").alias("s16sq"),
        )
    )
    agg = sterm.agg(
        (F.sum("s16sq").cast("double") / 16.0).alias("a"),
        (
            F.sum(F.col("s4j").cast("double") * F.col("s4j")).cast(
                "double"
            )
            / (16.0 * n_blocks)
        ).alias("b"),
    )
    fstat = (n_blocks - 1) * F.col("b") / (F.col("a") - F.col("b"))
    return (
        agg.where((F.col("a") - F.col("b") > 0) & (F.lit(n_blocks) > 1))
        .select(
            F.lit(k_total).cast("bigint").alias("k_treatments"),
            F.lit(n_blocks).cast("bigint").alias("n_blocks"),
            F.round(fstat, 4).alias("quade_f"),
            (fstat > 2.372).alias("differs_5pct"),
        )
    )
