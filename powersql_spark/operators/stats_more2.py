"""Round-12 statistics widening: distributional diagnostics, variance
tests, proportion inference, reliability, and ordinal effect sizes.

Extensions beyond the reference (SURVEY.md §2.B.11 — PowerSQL's surface
is whatever its backend executes, reference src/execute.rs:101; these
keys are the Spark-native statistical toolbox a warehouse user runs on
that backend), ranked AFTER every banked key in the driver window per
the README r12 tranche plan.

House discipline throughout (same as stats_more.py): decimal-exact
sufficient statistics (order-independent, therefore
partition-count-independent — the cluster-determinism property),
libm terms (ln/asin/sqrt of data-dependent values) rounded to 8dp
before any cross-engine combination, deterministic tie-breaks, and a
DuckDB oracle twin sharing the identical formula template.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powersql_spark.operators.common import ab_arm, sql_jround
from powersql_spark.registry import query

# ---------------------------------------------------------------------------
# Jarque-Bera — moment-based normality per order-priority group.
# ---------------------------------------------------------------------------


@query(
    "stats_jarque_bera",
    oracle=f"""
    WITH s AS (
        SELECT o_orderpriority AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(v, 7) AS DECIMAL(38,7)))
                    AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(v * v, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS s2,
               CAST(SUM(CAST(round(v * v * v, 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS s3,
               CAST(SUM(CAST(round(v * v * v * v, 2)
                             AS DECIMAL(38,2))) AS DOUBLE) AS s4
        FROM (SELECT o_orderpriority,
                     CAST(o_totalprice AS DOUBLE) / 100000.0 AS v
              FROM orders)
        GROUP BY o_orderpriority
    ),
    m AS (
        SELECT grp, n,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3 * (s1 / n) * (s2 / n)
                      + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4 * (s1 / n) * (s3 / n)
                      + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                   AS m4
        FROM s
    )
    SELECT grp, n,
           {sql_jround("m3 / (m2 * sqrt(m2))", 6)} AS skewness,
           {sql_jround("m4 / (m2 * m2)", 6)} AS kurtosis,
           {sql_jround(
               "n / 6.0 * ((m3 / (m2 * sqrt(m2)))"
               "           * (m3 / (m2 * sqrt(m2)))"
               "   + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3)"
               "     / 4.0)", 4)} AS jb_stat,
           CASE WHEN n >= 2000 THEN
               n / 6.0 * ((m3 / (m2 * sqrt(m2)))
                          * (m3 / (m2 * sqrt(m2)))
                  + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3)
                    / 4.0) > 5.991
           END AS reject_normal_5pct
    FROM m
    ORDER BY grp
    """,
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per order-priority group on order
    totals: JB = n/6 (S^2 + (K-3)^2/4) from the sample skewness S and
    kurtosis K, against chi-square(2)'s 5.991 at 5% — the
    moment-based normality gate that tells you whether downstream
    z/t machinery can trust its tails. The verdict is withheld (NULL)
    below n = 2000 (JB's chi-square approximation converges slowly;
    the classic guidance is thousands of observations); JB itself
    stays reported.

    Values are pre-scaled by 1e5 so the 4th-power sums stay in a
    comfortable decimal range; skewness/kurtosis/JB are
    scale-invariant, so the statistic is unchanged.

    Scale shape: one corpus scan to four power sums per group
    (map-side partials; powers rounded then decimal-summed for
    order-independence); the moments and JB are closed-form
    arithmetic on the 5-row group table — identical expression trees
    on both engines."""
    v = F.col("o_totalprice").cast("double") / 100000.0
    s = (
        spark.table("orders")
        .select(F.col("o_orderpriority").alias("grp"), v.alias("v"))
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            # v = 2dp money / 1e5 terminates at 7dp, so rounding AT
            # the terminating scale recovers the exact decimal on
            # both engines (rounding below it would sit on real
            # half-boundaries where Spark's shortest-repr half-up
            # and DuckDB's binary round disagree).
            F.sum(F.round(F.col("v"), 7).cast("decimal(38,7)"))
            .cast("double")
            .alias("s1"),
            F.sum(
                F.round(F.col("v") * F.col("v"), 6).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("s2"),
            F.sum(
                F.round(
                    F.col("v") * F.col("v") * F.col("v"), 4
                ).cast("decimal(38,4)")
            )
            .cast("double")
            .alias("s3"),
            F.sum(
                F.round(
                    F.col("v") * F.col("v") * F.col("v") * F.col("v"),
                    2,
                ).cast("decimal(38,2)")
            )
            .cast("double")
            .alias("s4"),
        )
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2)
    jb = n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4.0)
    return s.select(
        "grp",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        F.when(n >= 2000, jb > 5.991).alias("reject_normal_5pct"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# Bartlett's test — variance homogeneity across market segments.
# ---------------------------------------------------------------------------


@query(
    "stats_bartlett_test",
    oracle=f"""
    WITH g AS (
        SELECT c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2)))
                    AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(c_acctbal * c_acctbal, 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS s2
        FROM customer GROUP BY c_mktsegment
    ),
    v AS (
        SELECT seg, n_i,
               (s2 - s1 * s1 / n_i) / (n_i - 1) AS var_i
        FROM g WHERE n_i >= 2
    ),
    tot AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(round((n_i - 1) * var_i, 6)
                             AS DECIMAL(38,6))) AS DOUBLE) AS pooled_ss,
               CAST(SUM(CAST(round((n_i - 1) * ln(var_i), 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS sum_ln,
               CAST(SUM(CAST(round(1.0 / (n_i - 1), 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS sum_inv
        FROM v
    )
    SELECT n, k,
           {sql_jround(
               "((n - k) * ln(pooled_ss / (n - k)) - sum_ln)"
               " / (1 + (sum_inv - 1.0 / (n - k)) / (3.0 * (k - 1)))",
               4)} AS bartlett_stat,
           CASE WHEN k = 5 AND n - k >= 500 THEN
               ((n - k) * ln(pooled_ss / (n - k)) - sum_ln)
               / (1 + (sum_inv - 1.0 / (n - k)) / (3.0 * (k - 1)))
               > 9.488
           END AS reject_equal_var_5pct
    FROM tot WHERE k > 1
    """,
)
def stats_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for equal variances of customer balance across
    the five market segments: T = ((N-k) ln s_p^2 - sum (n_i-1) ln
    s_i^2) / C against chi-square(k-1) — the LIKELIHOOD-ratio variance
    gate (most powerful under normality, where stats_levene /
    stats_brown_forsythe trade power for robustness; running both is
    the standard practice this family now supports). Verdict against
    chi-square(4)'s 9.488, withheld (NULL) unless exactly k = 5
    groups AND pooled df >= 500 (the literal encodes df = 4
    specifically). Groups with n_i < 2 are excluded on both engines
    (their variance is undefined).

    Scale shape: one scan to (n, sum, sum-of-squares) per segment;
    every cross-group combination (pooled SS, sum of ln-variances,
    sum of reciprocal dfs) is an 8dp-rounded decimal sum over the
    5-row group table, so the statistic is order- and
    partition-independent."""
    g = (
        spark.table("customer")
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").cast("bigint").alias("n_i"),
            F.sum(F.col("c_acctbal").cast("decimal(28,2)"))
            .cast("double")
            .alias("s1"),
            F.sum(
                F.round(
                    F.col("c_acctbal") * F.col("c_acctbal"), 4
                ).cast("decimal(38,4)")
            )
            .cast("double")
            .alias("s2"),
        )
    )
    v = g.where(F.col("n_i") >= 2).select(
        "seg",
        "n_i",
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_i"))
            / (F.col("n_i") - 1)
        ).alias("var_i"),
    )
    tot = v.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(
            F.round((F.col("n_i") - 1) * F.col("var_i"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("pooled_ss"),
        F.sum(
            F.round(
                (F.col("n_i") - 1) * F.log(F.col("var_i")), 8
            ).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("sum_ln"),
        F.sum(
            F.round(1.0 / (F.col("n_i") - 1), 8).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("sum_inv"),
    )
    n, k = F.col("n"), F.col("k")
    t_stat = (
        (n - k) * F.log(F.col("pooled_ss") / (n - k)) - F.col("sum_ln")
    ) / (1 + (F.col("sum_inv") - 1.0 / (n - k)) / (3.0 * (k - 1)))
    return tot.where(k > 1).select(
        "n",
        "k",
        F.round(t_stat, 4).alias("bartlett_stat"),
        F.when(
            (k == 5) & (n - k >= 500), t_stat > 9.488
        ).alias("reject_equal_var_5pct"),
    )


# ---------------------------------------------------------------------------
# Two-sample F test — variance ratio between two order-priority arms.
# ---------------------------------------------------------------------------


@query(
    "stats_f_test_variance",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2)))
                    AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(o_totalprice * o_totalprice, 4)
                             AS DECIMAL(38,4))) AS DOUBLE) AS s2
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        GROUP BY o_orderpriority
    ),
    v AS (
        SELECT grp, n, (s2 - s1 * s1 / n) / (n - 1) AS var_g FROM g
    ),
    wide AS (
        SELECT
            (SELECT n FROM v WHERE grp = '1-URGENT') AS n1,
            (SELECT n FROM v WHERE grp = '5-LOW') AS n2,
            (SELECT var_g FROM v WHERE grp = '1-URGENT') AS v1,
            (SELECT var_g FROM v WHERE grp = '5-LOW') AS v2
    )
    SELECT n1, n2,
           {sql_jround("v1", 4)} AS var_urgent,
           {sql_jround("v2", 4)} AS var_low,
           {sql_jround("v1 / v2", 6)} AS f_ratio,
           {sql_jround(
               "ln(v1 / v2) / sqrt(2.0 / (n1 - 1) + 2.0 / (n2 - 1))",
               4)} AS z_lnf,
           CASE WHEN LEAST(n1, n2) >= 100 THEN
               abs(ln(v1 / v2)
                   / sqrt(2.0 / (n1 - 1) + 2.0 / (n2 - 1))) > 1.96
           END AS unequal_var_5pct
    FROM wide WHERE n1 >= 2 AND n2 >= 2 AND v2 > 0
    """,
)
def stats_f_test_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample variance-ratio F test between the URGENT and LOW
    order-priority arms on order totals: F = s1^2/s2^2 with the
    large-sample normal approximation on ln F (se = sqrt(2/df1 +
    2/df2)), so no F-table is needed on either engine — the
    two-group special case that stats_bartlett_test generalizes, and
    the variance gate run before a pooled-variance two-sample t. The
    verdict is withheld below 100 observations per arm (the ln-F
    normal approximation is a large-sample device); F and z stay
    reported.

    Scale shape: one scan to two sufficient-statistic rows; the
    two-row pivot and the ratio are constant-sized arithmetic."""
    g = (
        spark.table("orders")
        .where(
            F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
        )
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("s1"),
            F.sum(
                F.round(
                    F.col("o_totalprice") * F.col("o_totalprice"), 4
                ).cast("decimal(38,4)")
            )
            .cast("double")
            .alias("s2"),
        )
    )
    v = g.select(
        "grp",
        "n",
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("var_g"),
    )
    wide = (
        v.groupBy()
        .pivot("grp", ["1-URGENT", "5-LOW"])
        .agg(
            F.first("n").alias("n"), F.first("var_g").alias("var")
        )
        .select(
            F.col("`1-URGENT_n`").alias("n1"),
            F.col("`5-LOW_n`").alias("n2"),
            F.col("`1-URGENT_var`").alias("v1"),
            F.col("`5-LOW_var`").alias("v2"),
        )
    )
    n1, n2 = F.col("n1"), F.col("n2")
    v1, v2 = F.col("v1"), F.col("v2")
    z = F.log(v1 / v2) / F.sqrt(2.0 / (n1 - 1) + 2.0 / (n2 - 1))
    return wide.where(
        (n1 >= 2) & (n2 >= 2) & (v2 > 0)
    ).select(
        "n1",
        "n2",
        F.round(v1, 4).alias("var_urgent"),
        F.round(v2, 4).alias("var_low"),
        F.round(v1 / v2, 6).alias("f_ratio"),
        F.round(z, 4).alias("z_lnf"),
        F.when(
            F.least(n1, n2) >= 100, F.abs(z) > 1.96
        ).alias("unequal_var_5pct"),
    )


# ---------------------------------------------------------------------------
# Wilson score interval — per-source English-rate proportion CI.
# ---------------------------------------------------------------------------

_WILSON_Z = 1.96


@query(
    "stats_wilson_ci",
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END)
                    AS BIGINT) AS x
        FROM documents GROUP BY source
    ),
    c AS (
        SELECT source, n, x,
               CAST(x AS DOUBLE) / n AS p,
               {_WILSON_Z} * {_WILSON_Z} AS z2
        FROM s
    )
    SELECT source, n, x, {sql_jround("p", 6)} AS p_hat,
           {sql_jround(
               "((p + z2 / (2 * n))"
               " - {z} * sqrt(p * (1 - p) / n + z2 / (4.0 * n * n)))"
               " / (1 + z2 / n)".replace("{z}", "1.96"), 6)}
               AS wilson_lo,
           {sql_jround(
               "((p + z2 / (2 * n))"
               " + {z} * sqrt(p * (1 - p) / n + z2 / (4.0 * n * n)))"
               " / (1 + z2 / n)".replace("{z}", "1.96"), 6)}
               AS wilson_hi,
           {sql_jround(
               "greatest(0.0, p - 1.96 * sqrt(p * (1 - p) / n))", 6)}
               AS wald_lo,
           {sql_jround(
               "least(1.0, p + 1.96 * sqrt(p * (1 - p) / n))", 6)}
               AS wald_hi
    FROM c
    ORDER BY source
    """,
)
def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for each source's
    English-document proportion, with the Wald interval alongside for
    contrast: Wilson stays inside [0,1] and keeps near-nominal
    coverage at the small n / extreme p where Wald collapses (the
    reason every proportion dashboard should use it) — visible here
    directly, since the fixture's per-source n is small. Closed-form
    doubles with identical expression trees on both engines; no
    special functions.

    Scale shape: one scan to (n, successes) per source; both
    intervals are per-row arithmetic on that metadata-sized table."""
    s = (
        spark.table("documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count(F.when(F.col("lang") == "en", 1))
            .cast("bigint")
            .alias("x"),
        )
    )
    n = F.col("n")
    p = F.col("x").cast("double") / n
    z = F.lit(_WILSON_Z)
    z2 = z * z
    denom = 1 + z2 / n
    center = p + z2 / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    wald_half = 1.96 * F.sqrt(p * (1 - p) / n)
    return s.select(
        "source",
        "n",
        "x",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
        F.round(F.greatest(F.lit(0.0), p - wald_half), 6).alias(
            "wald_lo"
        ),
        F.round(F.least(F.lit(1.0), p + wald_half), 6).alias(
            "wald_hi"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# KR-20 reliability — internal consistency of the binary quality gates.
# ---------------------------------------------------------------------------

# The four binary gate items scored per document (the quality-gate
# components the eval kappa/AC1 family also rates). Items are ordered;
# the total score is their integer sum 0..4.
_KR20_GATES_SQL = """
        SELECT len(t) BETWEEN 10 AND 1000 AS g1,
               CAST(len(list_filter(t, x -> x IN
                    ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it')))
                    AS DOUBLE) / len(t) BETWEEN 0.01 AND 0.5 AS g2,
               CAST(n_chars AS DOUBLE) / len(t) BETWEEN 3 AND 12 AS g3,
               n_chars BETWEEN 100 AND 5000 AS g4
        FROM (SELECT n_chars,
                     string_split_regex(trim(text), '\\s+') AS t
              FROM documents)
"""


@query(
    "stats_kr20_reliability",
    oracle=f"""
    WITH gates AS ({_KR20_GATES_SQL}),
    scored AS (
        SELECT CAST(g1 AS INTEGER) AS i1, CAST(g2 AS INTEGER) AS i2,
               CAST(g3 AS INTEGER) AS i3, CAST(g4 AS INTEGER) AS i4,
               CAST(g1 AS INTEGER) + CAST(g2 AS INTEGER)
             + CAST(g3 AS INTEGER) + CAST(g4 AS INTEGER) AS total
        FROM gates
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(i1) AS BIGINT) AS c1,
               CAST(SUM(i2) AS BIGINT) AS c2,
               CAST(SUM(i3) AS BIGINT) AS c3,
               CAST(SUM(i4) AS BIGINT) AS c4,
               CAST(SUM(total) AS BIGINT) AS st,
               CAST(SUM(total * total) AS BIGINT) AS stt
        FROM scored
    ),
    d AS (
        SELECT n, c1, c2, c3, c4,
               (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) / n
                   AS var_total,
               (CAST(c1 AS DOUBLE) / n) * (1 - CAST(c1 AS DOUBLE) / n)
             + (CAST(c2 AS DOUBLE) / n) * (1 - CAST(c2 AS DOUBLE) / n)
             + (CAST(c3 AS DOUBLE) / n) * (1 - CAST(c3 AS DOUBLE) / n)
             + (CAST(c4 AS DOUBLE) / n) * (1 - CAST(c4 AS DOUBLE) / n)
                   AS sum_pq
        FROM s
    )
    SELECT n, CAST(4 AS BIGINT) AS k_items,
           {sql_jround("CAST(c1 AS DOUBLE) / n", 6)} AS p1,
           {sql_jround("CAST(c2 AS DOUBLE) / n", 6)} AS p2,
           {sql_jround("CAST(c3 AS DOUBLE) / n", 6)} AS p3,
           {sql_jround("CAST(c4 AS DOUBLE) / n", 6)} AS p4,
           {sql_jround(
               "(4.0 / 3.0) * (1 - sum_pq / var_total)", 6)} AS kr20
    FROM d WHERE var_total > 0
    """,
)
def stats_kr20_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kuder-Richardson 20 (Cronbach's alpha for binary items)
    internal-consistency reliability of the four document quality
    gates: KR-20 = k/(k-1) (1 - sum p_j q_j / sigma^2_total) — the
    scale-reliability readout that says whether the gates measure one
    underlying "quality" construct (high alpha) or four unrelated
    things (low). Population-variance convention (divide by n) on
    both engines, documented here because the n/(n-1) choice shifts
    alpha.

    Scale shape: the items and total are integer-valued per document,
    so all sufficient statistics (item counts, total sum, total sum
    of squares) are EXACT integer aggregations of one scan — no float
    discipline needed until the final closed-form ratio."""
    t = F.split(F.trim(F.col("text")), r"\s+")
    d = spark.table("documents").select("n_chars", t.alias("t"))
    n_tok = F.size("t")
    sw = F.size(
        F.filter(
            "t",
            lambda x: x.isin(
                "the", "a", "and", "of", "to", "in", "is", "it"
            ),
        )
    )
    g1 = n_tok.between(10, 1000).cast("int")
    g2 = (sw.cast("double") / n_tok).between(0.01, 0.5).cast("int")
    g3 = (
        (F.col("n_chars").cast("double") / n_tok)
        .between(3, 12)
        .cast("int")
    )
    g4 = F.col("n_chars").between(100, 5000).cast("int")
    scored = d.select(
        g1.alias("i1"),
        g2.alias("i2"),
        g3.alias("i3"),
        g4.alias("i4"),
        (g1 + g2 + g3 + g4).alias("total"),
    )
    s = scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("i1").cast("bigint").alias("c1"),
        F.sum("i2").cast("bigint").alias("c2"),
        F.sum("i3").cast("bigint").alias("c3"),
        F.sum("i4").cast("bigint").alias("c4"),
        F.sum("total").cast("bigint").alias("st"),
        F.sum(F.col("total") * F.col("total"))
        .cast("bigint")
        .alias("stt"),
    )
    n = F.col("n")
    var_total = (
        F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st") / n
    ) / n
    ps = [F.col(f"c{j}").cast("double") / n for j in (1, 2, 3, 4)]
    sum_pq = sum(p * (1 - p) for p in ps)
    kr20 = (4.0 / 3.0) * (1 - sum_pq / var_total)
    return s.where(var_total > 0).select(
        "n",
        F.lit(4).cast("bigint").alias("k_items"),
        F.round(ps[0], 6).alias("p1"),
        F.round(ps[1], 6).alias("p2"),
        F.round(ps[2], 6).alias("p3"),
        F.round(ps[3], 6).alias("p4"),
        F.round(kr20, 6).alias("kr20"),
    )


# ---------------------------------------------------------------------------
# Cohen's h — arcsine effect size for each source's English rate vs the
# rest of the corpus.
# ---------------------------------------------------------------------------


@query(
    "stats_cohens_h",
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END)
                    AS BIGINT) AS x
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(x) AS BIGINT) AS xt
        FROM s
    ),
    phi AS (
        SELECT s.source, s.n, s.x,
               CAST(s.x AS DOUBLE) / s.n AS p_src,
               CAST(t.xt - s.x AS DOUBLE) / (t.nt - s.n) AS p_rest,
               round(2 * asin(sqrt(CAST(s.x AS DOUBLE) / s.n)), 8)
                   AS phi_src,
               round(2 * asin(sqrt(CAST(t.xt - s.x AS DOUBLE)
                                   / (t.nt - s.n))), 8) AS phi_rest
        FROM s, tot t
    )
    SELECT source, n, {sql_jround("p_src", 6)} AS p_src,
           {sql_jround("p_rest", 6)} AS p_rest,
           {sql_jround("phi_src - phi_rest", 6)} AS cohens_h,
           CASE WHEN abs(phi_src - phi_rest) < 0.2 THEN 'negligible'
                WHEN abs(phi_src - phi_rest) < 0.5 THEN 'small'
                WHEN abs(phi_src - phi_rest) < 0.8 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM phi
    ORDER BY source
    """,
)
def stats_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h effect size for each source's English-document rate
    against the pooled rest of the corpus: h = 2 asin(sqrt(p1)) -
    2 asin(sqrt(p2)), the variance-stabilized difference of
    proportions with Cohen's 0.2/0.5/0.8 magnitude bands — the
    PRACTICAL-significance companion to stats_proportion_ztest's
    statistical verdict (at corpus scale everything is significant;
    h says whether it matters).

    Each arcsine term is rounded to 8dp before the difference (the
    repo's cross-engine libm discipline — asin is evaluated by
    different math libraries).

    Scale shape: one scan to (n, successes) per source; the pooled
    complement comes from one broadcast total row, so every h is
    metadata-sized arithmetic."""
    s = (
        spark.table("documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count(F.when(F.col("lang") == "en", 1))
            .cast("bigint")
            .alias("x"),
        )
    )
    tot = s.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("x").cast("bigint").alias("xt"),
    )
    j = s.crossJoin(F.broadcast(tot))
    p_src = F.col("x").cast("double") / F.col("n")
    p_rest = (F.col("xt") - F.col("x")).cast("double") / (
        F.col("nt") - F.col("n")
    )
    phi_src = F.round(2 * F.asin(F.sqrt(p_src)), 8)
    phi_rest = F.round(2 * F.asin(F.sqrt(p_rest)), 8)
    h = phi_src - phi_rest
    return j.select(
        "source",
        "n",
        F.round(p_src, 6).alias("p_src"),
        F.round(p_rest, 6).alias("p_rest"),
        F.round(h, 6).alias("cohens_h"),
        F.when(F.abs(h) < 0.2, "negligible")
        .when(F.abs(h) < 0.5, "small")
        .when(F.abs(h) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Cliff's delta — ordinal effect size per event type over the salted
# user split, via the midrank Mann-Whitney identity (no pair
# enumeration).
# ---------------------------------------------------------------------------


@query(
    "stats_cliffs_delta",
    oracle=f"""
    WITH assigned AS (
        SELECT event_type, value,
               substr(md5(CAST(user_id AS VARCHAR) || ':mwu'), 1, 1)
                   < '8' AS is_a
        FROM events
        WHERE value IS NOT NULL
    ),
    vals AS (
        SELECT event_type, value,
               COUNT(*) AS cnt,
               COUNT(CASE WHEN is_a THEN 1 END) AS cnt_a
        FROM assigned GROUP BY event_type, value
    ),
    ranked AS (
        SELECT event_type, value, cnt, cnt_a,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
                              ROWS UNBOUNDED PRECEDING) - cnt AS cum_prev
        FROM vals
    ),
    s AS (
        SELECT event_type,
               CAST(SUM(cnt_a) AS BIGINT) AS n_a,
               CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
               CAST(SUM(CAST(cnt_a * (cum_prev + (cnt + 1) / 2.0)
                             AS DECIMAL(28,6))) AS DOUBLE)
                   AS rank_sum_a
        FROM ranked GROUP BY event_type
    ),
    d AS (
        SELECT event_type, n_a, n_b,
               2.0 * (rank_sum_a
                      - CAST(n_a AS DOUBLE) * (n_a + 1) / 2)
                   / (CAST(n_a AS DOUBLE) * n_b) - 1 AS delta
        FROM s WHERE n_a > 0 AND n_b > 0
    )
    SELECT event_type, n_a, n_b,
           {sql_jround("delta", 6)} AS cliffs_delta,
           CASE WHEN abs(delta) < 0.147 THEN 'negligible'
                WHEN abs(delta) < 0.33 THEN 'small'
                WHEN abs(delta) < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM d
    ORDER BY event_type
    """,
)
def stats_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size per event type between the
    salted 50/50 user arms: P(a > b) - P(a < b), computed WITHOUT
    enumerating pairs via the midrank Mann-Whitney identity
    delta = 2U/(n_a n_b) - 1 (midranks count ties as 1/2, exactly
    Cliff's convention) — the effect-size companion to
    stats_mann_whitney's significance verdict, with Romano's
    0.147/0.33/0.474 magnitude bands.

    Scale shape: identical to the MWU key — one collapse to
    (event_type, value) distinct granularity, one rank window on the
    collapsed table, rank sums half-integer exact and decimal-summed;
    the delta is closed-form per group. The pairwise definition never
    materializes any pair."""
    e = spark.table("events").where(F.col("value").isNotNull())
    vals = (
        e.select("event_type", "value", ab_arm(":mwu").alias("is_a"))
        .groupBy("event_type", "value")
        .agg(
            F.count("*").alias("cnt"),
            F.count(F.when(F.col("is_a"), 1)).alias("cnt_a"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = vals.withColumn(
        "cum_prev", F.sum("cnt").over(w) - F.col("cnt")
    )
    s = ranked.groupBy("event_type").agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a"))
        .cast("bigint")
        .alias("n_b"),
        F.sum(
            (
                F.col("cnt_a")
                * (F.col("cum_prev") + (F.col("cnt") + 1) / 2.0)
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("rank_sum_a"),
    )
    u_a = (
        F.col("rank_sum_a")
        - F.col("n_a").cast("double") * (F.col("n_a") + 1) / 2
    )
    delta = 2.0 * u_a / (F.col("n_a").cast("double") * F.col("n_b")) - 1
    return (
        s.where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.round(delta, 6).alias("cliffs_delta"),
            F.when(F.abs(delta) < 0.147, "negligible")
            .when(F.abs(delta) < 0.33, "small")
            .when(F.abs(delta) < 0.474, "medium")
            .otherwise("large")
            .alias("magnitude"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe — Levene's test with MEDIAN centers (the robust form).
# ---------------------------------------------------------------------------


@query(
    "stats_brown_forsythe",
    oracle=f"""
    WITH cells AS (  -- ONE corpus collapse: (group, value) grid
        SELECT l_returnflag AS g,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1, 2
    ),
    med AS (  -- lower median per group: smallest v with 2*cum >= N_g
        SELECT g, MIN(v) AS m FROM (
            SELECT g, v,
                   SUM(cnt) OVER (PARTITION BY g ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(cnt) OVER (PARTITION BY g) AS n_g
            FROM cells
        ) WHERE 2 * cum >= n_g GROUP BY g
    ),
    zg AS (
        -- deviations stay EXACT decimals: (v - m) is a 2dp decimal,
        -- its square a 4dp decimal, and the count factor is cast to
        -- a narrow decimal so the products never exceed precision 38
        -- on either engine (Spark decimal-overflow discipline)
        SELECT c.g,
               CAST(SUM(c.cnt) AS BIGINT) AS n_g,
               CAST(SUM(CAST(c.cnt AS DECIMAL(9,0))
                        * CAST(abs(c.v - m.m) AS DECIMAL(12,2)))
                    AS DOUBLE) AS sz,
               CAST(SUM(CAST(c.cnt AS DECIMAL(9,0))
                        * (CAST(c.v - m.m AS DECIMAL(12,2))
                           * CAST(c.v - m.m AS DECIMAL(12,2))))
                    AS DOUBLE) AS szz
        FROM cells c JOIN med m ON m.g = c.g
        GROUP BY c.g
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CAST(sz AS DECIMAL(38,6))) AS DOUBLE) AS stot,
               CAST(SUM(CAST(n_g * (sz / n_g) * (sz / n_g)
                             AS DECIMAL(38,6))) AS DOUBLE) AS between_ss,
               CAST(SUM(CAST(szz - sz * sz / n_g AS DECIMAL(38,6)))
                    AS DOUBLE) AS within_ss
        FROM zg
    )
    SELECT n, k,
           {sql_jround(
               "((between_ss - stot * stot / n) / (k - 1))"
               " / (within_ss / (n - k))", 4)} AS bf_stat,
           CASE WHEN k = 3 AND n - k >= 500 THEN
               ((between_ss - stot * stot / n) / (k - 1))
                   / (within_ss / (n - k)) > 2.9957
           END AS reject_05
    FROM tot
    WHERE k > 1 AND within_ss > 0
    """,
)
def stats_brown_forsythe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown-Forsythe test for variance homogeneity across the three
    return-flag groups: Levene's one-way ANOVA on deviations from the
    group MEDIAN instead of the mean — the robust recommendation when
    distributions are skewed or heavy-tailed (the mean-centered
    Levene loses control of its size there). Same F(2, inf) verdict
    envelope as stats_levene (2.9957, withheld unless k = 3 and
    within-df >= 500), so the two keys are directly comparable.

    Group medians use the lower-median convention computed from
    cumulative counts over the (group, value) grid — the
    stats_mood_median device — so both engines pick the identical
    exact decimal value; |v - median| deviations are then weighted by
    the grid counts, meaning the corpus is scanned ONCE (unlike the
    mean-centered Levene's two passes).

    Scale shape: one collapse to the (group, value) grid; the median
    window, deviation sums, and the F ratio all ride the grid (value
    cardinality), never the raw rows; cross-group sums decimal-cast
    for order independence."""
    from powersql_spark.catalog import track_persist

    li = spark.table("lineitem")
    # The grid feeds BOTH the median window and the deviation sums —
    # persist it so the corpus collapses exactly once (the
    # stats_mood_median lesson, gated in test_plans.py).
    cells = track_persist(
        li.groupBy(
            F.col("l_returnflag").alias("g"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
        ).agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("g")
    med = (
        cells.select(
            "g",
            "v",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("n_g"),
        )
        .where(2 * F.col("cum") >= F.col("n_g"))
        .groupBy("g")
        .agg(F.min("v").alias("m"))
    )
    zg = (
        cells.join(F.broadcast(med), "g")
        .groupBy("g")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_g"),
            # Exact decimal products with explicitly narrowed operand
            # types so Spark's decimal-multiply precision never
            # exceeds 38 (which would silently reduce scale).
            F.sum(
                F.col("cnt").cast("decimal(9,0)")
                * F.abs(F.col("v") - F.col("m")).cast("decimal(12,2)")
            )
            .cast("double")
            .alias("sz"),
            F.sum(
                F.col("cnt").cast("decimal(9,0)")
                * (
                    (F.col("v") - F.col("m")).cast("decimal(12,2)")
                    * (F.col("v") - F.col("m")).cast("decimal(12,2)")
                )
            )
            .cast("double")
            .alias("szz"),
        )
    )
    tot = zg.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("sz").cast("decimal(38,6)"))
        .cast("double")
        .alias("stot"),
        F.sum(
            (
                F.col("n_g")
                * (F.col("sz") / F.col("n_g"))
                * (F.col("sz") / F.col("n_g"))
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("between_ss"),
        F.sum(
            (
                F.col("szz") - F.col("sz") * F.col("sz") / F.col("n_g")
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("within_ss"),
    )
    bf = (
        (
            F.col("between_ss")
            - F.col("stot") * F.col("stot") / F.col("n")
        )
        / (F.col("k") - 1)
    ) / (F.col("within_ss") / (F.col("n") - F.col("k")))
    return (
        tot.where((F.col("k") > 1) & (F.col("within_ss") > 0))
        .select(
            "n",
            "k",
            F.round(bf, 4).alias("bf_stat"),
            F.when(
                (F.col("k") == 3) & (F.col("n") - F.col("k") >= 500),
                bf > 2.9957,
            ).alias("reject_05"),
        )
    )


# ---------------------------------------------------------------------------
# ICC(1,1) — one-way random-effects intraclass correlation on the
# nation x year revenue panel.
# ---------------------------------------------------------------------------


@query(
    "stats_icc_oneway",
    oracle=f"""
    WITH panel AS (  -- the stats_ttest_paired panel: 25 nations x 2 yrs
        SELECT c.c_nationkey AS nk, year(o.o_orderdate) AS yr,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(15,2)) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE year(o.o_orderdate) IN (1996, 1997)
        GROUP BY c.c_nationkey, year(o.o_orderdate)
    ),
    subj AS (  -- balanced subjects only; pair sums/diffs stay decimal
        SELECT nk,
               CAST(SUM(CASE WHEN yr = 1996 THEN x END)
                    AS DECIMAL(15,2)) AS x1,
               CAST(SUM(CASE WHEN yr = 1997 THEN x END)
                    AS DECIMAL(15,2)) AS x2
        FROM panel GROUP BY nk
        HAVING COUNT(*) = 2 AND SUM(CASE WHEN yr = 1996 THEN 1
                                         ELSE 0 END) = 1
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x1 + x2 AS DECIMAL(19,2))
                   * CAST(x1 + x2 AS DECIMAL(19,2))) AS a,
               CAST(SUM(CAST(x1 + x2 AS DECIMAL(17,2)))
                    AS DECIMAL(18,2)) AS g,
               SUM(CAST(x1 - x2 AS DECIMAL(19,2))
                   * CAST(x1 - x2 AS DECIMAL(19,2))) AS ssd
        FROM subj
    ),
    ms AS (  -- cancellation happens IN DECIMAL: n*A - g^2 and the
             -- pair-difference sum are exact before any double cast.
             -- The double cast routes through VARCHAR because
             -- DuckDB's wide-decimal -> DOUBLE cast is not correctly
             -- rounded past 2^53 (unscaled int128 / 10^scale), while
             -- Spark's BigDecimal cast is — the VARCHAR parse is
             -- correctly rounded on both engines.
        SELECT n,
               CAST(CAST(n * a - CAST(g AS DECIMAL(19,2))
                                 * CAST(g AS DECIMAL(19,2))
                         AS VARCHAR) AS DOUBLE)
                   / (2.0 * n * (n - 1)) AS msb,
               CAST(CAST(ssd AS VARCHAR) AS DOUBLE)
                   / (2.0 * n) AS msw
        FROM sums WHERE n > 1
    )
    SELECT n AS n_subjects, CAST(2 AS BIGINT) AS k_raters,
           -- no rounding on the mean squares: at ~1e13 magnitude a
           -- 4dp round is SUB-ULP (shortest-repr dependent, so the
           -- engines disagree); the doubles are already bit-identical
           -- via the exact-decimal numerators
           msb AS ms_between,
           msw AS ms_within,
           {sql_jround("(msb - msw) / (msb + msw)", 6)} AS icc_1_1
    FROM ms WHERE msb + msw > 0
    """,
)
def stats_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1,1) — the one-way random-effects intraclass correlation —
    on the nation x year revenue panel (each nation "rated" twice, by
    its 1996 and 1997 order revenue): ICC = (MSB - MSW)/(MSB +
    (k-1) MSW) with k = 2. The consistency-of-repeated-measurements
    readout: high ICC means nation identity explains revenue (stable
    panel), near 0 means the two years are as different as two
    random nations — the continuous counterpart of the agreement
    family (kappa/AC1 rate categorical raters; ICC rates numeric
    ones). Only nations observed in both years enter (balanced
    panel).

    Numerical discipline (found live at sf0.1): the textbook
    sum-of-squares form subtracts two ~1e18 doubles whose
    decimal->double casts can differ between engines by an ulp,
    which cancellation amplifies into the reported mean squares. The
    k = 2 identities avoid it: MSW = sum (x1-x2)^2 / 2n and
    MSB = (n sum s_i^2 - g^2) / (2n(n-1)) keep every subtraction in
    EXACT decimal arithmetic; doubles appear only after the
    cancellation.

    Scale shape: one fact-table collapse to the 50-cell panel; the
    balanced-subject pivot and both mean squares ride that
    metadata-sized frame."""
    o = spark.table("orders")
    c = F.broadcast(
        spark.table("customer").select("c_custkey", "c_nationkey")
    )
    panel = (
        o.where(F.year("o_orderdate").isin(1996, 1997))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(15,2)")
            .alias("x")
        )
    )
    subj = (
        panel.groupBy("nk")
        .agg(
            F.sum(F.when(F.col("yr") == 1996, F.col("x")))
            .cast("decimal(15,2)")
            .alias("x1"),
            F.sum(F.when(F.col("yr") == 1997, F.col("x")))
            .cast("decimal(15,2)")
            .alias("x2"),
            F.count("*").alias("k"),
            F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias(
                "k96"
            ),
        )
        .where((F.col("k") == 2) & (F.col("k96") == 1))
    )
    s19 = (F.col("x1") + F.col("x2")).cast("decimal(19,2)")
    d19 = (F.col("x1") - F.col("x2")).cast("decimal(19,2)")
    sums = subj.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(s19 * s19).alias("a"),
        F.sum((F.col("x1") + F.col("x2")).cast("decimal(17,2)"))
        .cast("decimal(18,2)")
        .alias("g"),
        F.sum(d19 * d19).alias("ssd"),
    )
    n = F.col("n")
    g19 = F.col("g").cast("decimal(19,2)")
    msb = (n * F.col("a") - g19 * g19).cast("double") / (
        2.0 * n * (n - 1)
    )
    msw = F.col("ssd").cast("double") / (2.0 * n)
    ms = sums.where(n > 1)
    # No rounding on the mean squares: at ~1e13 a 4dp round is
    # sub-ulp (shortest-repr dependent); the doubles are bit-identical
    # across engines already (exact decimal numerators, VARCHAR-routed
    # cast on the oracle side).
    return ms.where(msb + msw > 0).select(
        n.alias("n_subjects"),
        F.lit(2).cast("bigint").alias("k_raters"),
        msb.alias("ms_between"),
        msw.alias("ms_within"),
        F.round((msb - msw) / (msb + msw), 6).alias("icc_1_1"),
    )


# ---------------------------------------------------------------------------
# Mood's scale test — rank-based dispersion comparison (the scale
# sibling of the Mann-Whitney location test).
# ---------------------------------------------------------------------------


@query(
    "stats_mood_scale_test",
    oracle=f"""
    WITH assigned AS (
        SELECT event_type, value,
               substr(md5(CAST(user_id AS VARCHAR) || ':mwu'), 1, 1)
                   < '8' AS is_a
        FROM events
        WHERE value IS NOT NULL
    ),
    vals AS (
        SELECT event_type, value,
               COUNT(*) AS cnt,
               COUNT(CASE WHEN is_a THEN 1 END) AS cnt_a
        FROM assigned GROUP BY event_type, value
    ),
    ranked AS (
        SELECT event_type, cnt, cnt_a,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
                              ROWS UNBOUNDED PRECEDING)
                 - cnt + (cnt + 1) / 2.0 AS r,
               SUM(cnt) OVER (PARTITION BY event_type) AS n_tot
        FROM vals
    ),
    s AS (
        SELECT event_type,
               CAST(SUM(cnt_a) AS BIGINT) AS n_a,
               CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
               CAST(ANY_VALUE(n_tot) AS BIGINT) AS n,
               CAST(SUM(CAST(cnt_a * (r - (n_tot + 1) / 2.0)
                                   * (r - (n_tot + 1) / 2.0)
                             AS DECIMAL(38,4))) AS DOUBLE) AS t_stat
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           {sql_jround("t_stat", 4)} AS mood_t,
           {sql_jround(
               "(t_stat - n_a * (CAST(n AS DOUBLE) * n - 1) / 12.0)"
               " / sqrt(CAST(n_a AS DOUBLE) * n_b * (n + 1)"
               "        * (CAST(n AS DOUBLE) * n - 4) / 180.0)", 4)}
               AS z_stat,
           CASE WHEN LEAST(n_a, n_b) >= 20 THEN
               abs((t_stat - n_a * (CAST(n AS DOUBLE) * n - 1)
                             / 12.0)
                   / sqrt(CAST(n_a AS DOUBLE) * n_b * (n + 1)
                          * (CAST(n AS DOUBLE) * n - 4) / 180.0))
               > 1.96
           END AS unequal_scale_5pct
    FROM s WHERE n_a > 0 AND n_b > 0
    ORDER BY event_type
    """,
)
def stats_mood_scale_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mood's scale (dispersion) test per event type between the
    salted 50/50 user arms: T = sum over arm A of (r_i - (N+1)/2)^2
    — squared deviations of midranks from the central rank — with
    the normal approximation E[T] = n_a(N^2-1)/12, Var[T] =
    n_a n_b (N+1)(N^2-4)/180. The rank-based SCALE sibling of
    stats_mann_whitney's location test (same arms, same rank
    machinery): MWU asks whether one arm sits higher; this asks
    whether one arm is more SPREAD OUT, robustly. Midranks handle
    ties (the standard large-sample treatment, shared by both
    engines). Verdict withheld below 20 observations per arm.

    Scale shape: the MWU collapse — one (event_type, value) distinct
    grid, one rank window, quarter-integer-exact score sums
    decimal-cast; the statistic is closed-form per group."""
    e = spark.table("events").where(F.col("value").isNotNull())
    vals = (
        e.select("event_type", "value", ab_arm(":mwu").alias("is_a"))
        .groupBy("event_type", "value")
        .agg(
            F.count("*").alias("cnt"),
            F.count(F.when(F.col("is_a"), 1)).alias("cnt_a"),
        )
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    ranked = vals.select(
        "event_type",
        "cnt",
        "cnt_a",
        (
            F.sum("cnt").over(w_cum)
            - F.col("cnt")
            + (F.col("cnt") + 1) / 2.0
        ).alias("r"),
        F.sum("cnt").over(w_all).alias("n_tot"),
    )
    dev = F.col("r") - (F.col("n_tot") + 1) / 2.0
    s = ranked.groupBy("event_type").agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a"))
        .cast("bigint")
        .alias("n_b"),
        F.any_value("n_tot").cast("bigint").alias("n"),
        F.sum(
            (F.col("cnt_a") * dev * dev).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("t_stat"),
    )
    n, n_a, n_b = F.col("n"), F.col("n_a"), F.col("n_b")
    mu = n_a * (n.cast("double") * n - 1) / 12.0
    sig = F.sqrt(
        n_a.cast("double")
        * n_b
        * (n + 1)
        * (n.cast("double") * n - 4)
        / 180.0
    )
    z = (F.col("t_stat") - mu) / sig
    return (
        s.where((n_a > 0) & (n_b > 0))
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.round(F.col("t_stat"), 4).alias("mood_t"),
            F.round(z, 4).alias("z_stat"),
            F.when(
                F.least(n_a, n_b) >= 20, F.abs(z) > 1.96
            ).alias("unequal_scale_5pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# One-sample Kolmogorov-Smirnov against Uniform(0,1) — is the clipped
# quality score usable as a probability?
# ---------------------------------------------------------------------------


@query(
    "stats_ks_uniform",
    oracle=r"""
    WITH scored AS (
        SELECT least(1.0, greatest(0.0,
                   CAST(len(list_filter(t, x -> x IN
                        ('the', 'a', 'and', 'of', 'to', 'in', 'is',
                         'it'))) AS DOUBLE) / len(t)
                   + CAST(len(t) AS DOUBLE) / 2000.0)) AS p
        FROM (SELECT string_split_regex(trim(text), '\s+') AS t
              FROM documents)
    ),
    vals AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM scored GROUP BY p
    ),
    cum AS (
        SELECT p, cnt,
               SUM(cnt) OVER (ORDER BY p
                              ROWS UNBOUNDED PRECEDING) AS c,
               SUM(cnt) OVER (ORDER BY p
                              ROWS UNBOUNDED PRECEDING) - cnt AS cp,
               SUM(cnt) OVER () AS n
        FROM vals
    ),
    d AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               MAX(CAST(c AS DOUBLE) / n - p) AS d_plus,
               MAX(p - CAST(cp AS DOUBLE) / n) AS d_minus
        FROM cum
    )
    SELECT n,
           round(GREATEST(d_plus, d_minus), 6) AS d_stat,
           round(GREATEST(d_plus, d_minus) * sqrt(CAST(n AS DOUBLE)),
                 4) AS ks_stat,
           GREATEST(d_plus, d_minus) * sqrt(CAST(n AS DOUBLE))
               > 1.358 AS reject_uniform_5pct
    FROM d WHERE n > 0
    """,
)
def stats_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test of the clipped quality
    score against Uniform(0,1): D = max over the sample of
    max(F_n(x) - x, x - F_n(x-)), with sqrt(n) D against the 1.358
    asymptotic 5% critical value. The distribution-shape companion
    to the calibration family: eval_calibration_ece asks whether the
    score is honest as a probability; this asks whether its
    DISTRIBUTION covers [0,1] like a probability should (a score
    bunched in one band fails here first). stats_ks_two_sample
    compares two empirical samples; this is the one-sample
    goodness-of-fit member.

    D comes from exact cumulative counts over the distinct-value
    grid (both one-sided suprema evaluated at the jump points — the
    exact finite-sample D, not a binned approximation).

    Scale shape: one scan collapses to distinct score values; one
    global rank window over that grid; D is a two-term aggregation."""
    t = F.split(F.trim(F.col("text")), r"\s+")
    sw = F.size(
        F.filter(
            "t",
            lambda x: x.isin(
                "the", "a", "and", "of", "to", "in", "is", "it"
            ),
        )
    )
    n_tok = F.size("t")
    p = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            sw.cast("double") / n_tok + n_tok.cast("double") / 2000.0,
        ),
    )
    scored = (
        spark.table("documents")
        .select(t.alias("t"))
        .select(p.alias("p"))
    )
    vals = scored.groupBy("p").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w_cum = Window.orderBy("p").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy(F.lit(1))
    cum = vals.select(
        "p",
        F.sum("cnt").over(w_cum).alias("c"),
        (F.sum("cnt").over(w_cum) - F.col("cnt")).alias("cp"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    d = cum.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(F.col("c").cast("double") / F.col("n") - F.col("p")).alias(
            "d_plus"
        ),
        F.max(
            F.col("p") - F.col("cp").cast("double") / F.col("n")
        ).alias("d_minus"),
    )
    d_stat = F.greatest(F.col("d_plus"), F.col("d_minus"))
    ks = d_stat * F.sqrt(F.col("n").cast("double"))
    return d.where(F.col("n") > 0).select(
        "n",
        F.round(d_stat, 6).alias("d_stat"),
        F.round(ks, 4).alias("ks_stat"),
        (ks > 1.358).alias("reject_uniform_5pct"),
    )
