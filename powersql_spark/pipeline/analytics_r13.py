"""Round-13 pipeline widening: PrefixSpan-style bounded sequence
mining, reciprocal-nearest-neighbor dedup validation, degree-Gini
graph concentration, and two classifier-readout keys (Youden's J
optimal threshold, Brier skill score).

Extensions beyond the reference (SURVEY.md §2.B.11; the prefixspan
and reciprocal-NN keys are the ADVICE r13 candidates), ranked after
every banked key per the README r13 tranche plan. House numeric
discipline throughout: integer-exact supports/counts, shared double
trees, rank-picked argmaxes with deterministic ties, guards on every
ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powersql_spark.operators.common import sql_jround
from powersql_spark.pipeline.evalmetrics import _SCORE_SQL, _scored
from powersql_spark.pipeline.graph import (
    _STRONG_EDGES_CTE,
    _both_ways,
    _degrees,
    _strong_edges,
)
from powersql_spark.registry import query

# ---------------------------------------------------------------------------
# PrefixSpan-style frequent subsequence mining (lengths 2 and 3,
# gap-allowing, first-occurrence semantics) over user event streams.
# ---------------------------------------------------------------------------

_PS_MIN_SUPPORT = 0.05

# Zero-padded (epoch-micros, event_id) ordering key — the house
# device for deterministic within-user event order on both engines.
_PS_KEY_SQL = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')"
    " || lpad(CAST(event_id AS VARCHAR), 10, '0')"
)


@query(
    "analytics_prefixspan",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type,
               {_PS_KEY_SQL} AS k
        FROM events
    ),
    nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
           FROM ev),
    m AS (
        SELECT user_id, event_type, MIN(k) AS first_k
        FROM ev GROUP BY user_id, event_type
    ),
    x AS (
        SELECT user_id, event_type, MAX(k) AS last_k
        FROM ev GROUP BY user_id, event_type
    ),
    p2 AS (
        SELECT m.event_type AS t1, x.event_type AS t2,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM m JOIN x ON x.user_id = m.user_id
        WHERE x.last_k > m.first_k
        GROUP BY m.event_type, x.event_type
    ),
    t2tab AS (
        SELECT e.user_id, m.event_type AS t1, e.event_type AS t2,
               MIN(e.k) AS second_k
        FROM ev e JOIN m ON m.user_id = e.user_id
        WHERE e.k > m.first_k
        GROUP BY e.user_id, m.event_type, e.event_type
    ),
    p3 AS (
        SELECT t.t1, t.t2, x.event_type AS t3,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM t2tab t JOIN x ON x.user_id = t.user_id
        WHERE x.last_k > t.second_k
        GROUP BY t.t1, t.t2, x.event_type
    ),
    unioned AS (
        SELECT 2 AS length, t1 || '>' || t2 AS seq, n_users FROM p2
        UNION ALL
        SELECT 3, t1 || '>' || t2 || '>' || t3, n_users FROM p3
    )
    SELECT CAST(length AS INTEGER) AS length, seq, n_users,
           {sql_jround("CAST(n_users AS DOUBLE) / nu.n", 6)}
               AS support
    FROM unioned, nu
    WHERE CAST(n_users AS DOUBLE) / nu.n >= {_PS_MIN_SUPPORT}
    ORDER BY length, support DESC, seq
    """,
)
def analytics_prefixspan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixSpan-style frequent-subsequence mining over per-user
    event-type streams: every length-2 and length-3 GAP-ALLOWING
    subsequence (repeats included) with support >= 5% of users. A
    user supports a>b>c iff after their FIRST a there is a b, and
    after the first such b there is a c — the standard prefix-
    projection semantics, evaluated set-at-a-time: a subsequence
    exists iff the greedy earliest occurrence exists, so per-user
    (type -> first/last key) tables plus one projected min replace
    any per-user sequential scan (ADVICE r13 candidate beside
    analytics_markov_transitions, which sees only ADJACENT pairs —
    prefixspan finds 'signup ... purchase' regardless of noise
    between).

    Numerics: supports are integer user counts over exact
    string-ordered (epoch, event_id) keys; the ratio is the only
    double.

    Scale shape: two (user, type) collapses (25 rows/user bound),
    one bounded-fanout projection join (events x 5 types) for the
    second-occurrence table, then metadata-sized combo joins —
    support counting never materializes per-user sequences."""
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    ev = spark.table("events").select(
        "user_id", "event_type", key.alias("k")
    )
    from powersql_spark.catalog import track_persist

    ev = track_persist(ev)
    nu = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n")
    )
    m = ev.groupBy("user_id", "event_type").agg(
        F.min("k").alias("first_k")
    )
    x = ev.groupBy("user_id", "event_type").agg(
        F.max("k").alias("last_k")
    )
    ma, xa = m.alias("m"), x.alias("x")
    p2 = (
        ma.join(xa, F.col("x.user_id") == F.col("m.user_id"))
        .where(F.col("x.last_k") > F.col("m.first_k"))
        .groupBy(
            F.col("m.event_type").alias("t1"),
            F.col("x.event_type").alias("t2"),
        )
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )
    ea = ev.alias("e")
    t2tab = (
        ea.join(ma, F.col("m.user_id") == F.col("e.user_id"))
        .where(F.col("e.k") > F.col("m.first_k"))
        .groupBy(
            F.col("e.user_id").alias("user_id"),
            F.col("m.event_type").alias("t1"),
            F.col("e.event_type").alias("t2"),
        )
        .agg(F.min("e.k").alias("second_k"))
    )
    p3 = (
        t2tab.alias("t")
        .join(xa, F.col("x.user_id") == F.col("t.user_id"))
        .where(F.col("x.last_k") > F.col("t.second_k"))
        .groupBy(
            F.col("t.t1").alias("t1"),
            F.col("t.t2").alias("t2"),
            F.col("x.event_type").alias("t3"),
        )
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )
    u2 = p2.select(
        F.lit(2).cast("int").alias("length"),
        F.concat_ws(">", "t1", "t2").alias("seq"),
        "n_users",
    )
    u3 = p3.select(
        F.lit(3).cast("int").alias("length"),
        F.concat_ws(">", "t1", "t2", "t3").alias("seq"),
        "n_users",
    )
    unioned = u2.unionAll(u3).crossJoin(F.broadcast(nu))
    support = F.col("n_users").cast("double") / F.col("n")
    return (
        unioned.where(support >= _PS_MIN_SUPPORT)
        .select(
            "length",
            "seq",
            "n_users",
            F.round(support, 6).alias("support"),
        )
        .orderBy("length", F.desc("support"), "seq")
    )


# ---------------------------------------------------------------------------
# Reciprocal-nearest-neighbor dedup validation (ADVICE r13 candidate
# beside dedup_embedding_lsh).
# ---------------------------------------------------------------------------


@query(
    "dedup_rnn_mutual",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst, a.label,
               round(list_reduce(list_transform(range(1, 65),
                         i -> a.v[i] * b.v[i]), (x, y) -> x + y)
                     / (a.nrm * b.nrm), 4) AS cosine
        FROM e a JOIN e b
          ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    nn1 AS (
        SELECT src, dst, label, cosine
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                          ORDER BY cosine DESC, dst) AS rn
            FROM pairs
        ) WHERE rn = 1
    )
    SELECT a.src AS vec_a, a.dst AS vec_b, a.label,
           a.cosine AS cosine_ab, b.cosine AS cosine_ba
    FROM nn1 a JOIN nn1 b
      ON b.src = a.dst AND b.dst = a.src
    WHERE a.src < a.dst
    ORDER BY a.src
    """,
)
def dedup_rnn_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-nearest-neighbor validation for embedding dedup:
    pairs (a, b) where b is a's 1-NN AND a is b's 1-NN within their
    coarse cell — the high-precision core of any near-dup candidate
    set (mutual-NN is the standard acceptance test: one-directional
    NN pairs include hubs that 'absorb' many neighbors; mutual pairs
    are overwhelmingly true duplicates or tight paraphrases). The
    validation stage downstream of dedup_embedding_lsh's recall-
    oriented candidates.

    Numerics: cosines ride the emb_knn_graph discipline (4dp rounding
    makes the per-source neighbor ORDER engine-independent;
    deterministic dst tie-break); the mutual join is exact on ids.

    Scale shape: candidate pairs come from the label-cell equi-join
    (never all-pairs); the 1-NN cut is a rank window on the join's
    own partitioning; the mutual check is a self-equi-join of the
    1-row-per-source table."""
    e = spark.table("embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.select(
        "vec_id",
        "label",
        "v",
        F.sqrt(
            F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("nrm"),
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        F.col("a.label").alias("label"),
        F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    nn1 = (
        pairs.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    from powersql_spark.catalog import track_persist

    nn1 = track_persist(nn1)
    na, nb = nn1.alias("na"), nn1.alias("nb")
    return (
        na.join(
            nb,
            (F.col("nb.src") == F.col("na.dst"))
            & (F.col("nb.dst") == F.col("na.src")),
        )
        .where(F.col("na.src") < F.col("na.dst"))
        .select(
            F.col("na.src").alias("vec_a"),
            F.col("na.dst").alias("vec_b"),
            F.col("na.label").alias("label"),
            F.col("na.cosine").alias("cosine_ab"),
            F.col("nb.cosine").alias("cosine_ba"),
        )
        .orderBy("vec_a")
    )


# ---------------------------------------------------------------------------
# Degree-Gini concentration of the strong-trade graph.
# ---------------------------------------------------------------------------


@query(
    "graph_degree_gini",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node
    ),
    ranked AS (
        SELECT d, node,
               ROW_NUMBER() OVER (ORDER BY d, node) AS rk,
               COUNT(*) OVER () AS n,
               SUM(d) OVER () AS sd
        FROM deg
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_nodes,
           CAST(MAX(sd) AS BIGINT) AS n_endpoints,
           {sql_jround(
               "2.0 * SUM(rk * d) / (MAX(n) * CAST(MAX(sd) AS DOUBLE))"
               " - (MAX(n) + 1.0) / MAX(n)", 6)} AS degree_gini
    FROM ranked
    HAVING MAX(sd) > 0
    """,
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the strong-trade graph's degree
    distribution: the single-number hub-concentration reading of
    graph_degree_distribution's full curve (0: perfectly regular
    graph; ->1: star-like, one hub holds the edges) — the skew
    early-warning for any computation keyed on the graph (a high
    degree-Gini means the shuffle partition holding the hub is the
    straggler).

    Numerics: the ranked Gini identity on integer degrees — the rank
    sum is exact bigint arithmetic (ties broken by node id, which
    leaves G unchanged: equal values commute in the rank sum); one
    shared double ratio at the end.

    Scale shape: the fact collapses through the broadcast-dimension
    edge build once; degrees and the rank window run over
    node-cardinality rows."""
    deg = _degrees(_strong_edges(spark))
    wr = Window.orderBy("deg", "node")
    wall = Window.partitionBy(F.lit(1))
    ranked = deg.select(
        "deg",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wall).alias("n"),
        F.sum("deg").over(wall).alias("sd"),
    )
    gini = 2.0 * F.sum(F.col("rk") * F.col("deg")) / (
        F.max("n") * F.max("sd").cast("double")
    ) - (F.max("n") + 1.0) / F.max("n")
    return (
        ranked.agg(
            F.max("n").cast("bigint").alias("n_nodes"),
            F.max("sd").cast("bigint").alias("n_endpoints"),
            F.round(gini, 6).alias("degree_gini"),
        )
        .where(F.col("n_endpoints") > 0)
    )


# ---------------------------------------------------------------------------
# Youden's J optimal threshold for the heuristic quality score.
# ---------------------------------------------------------------------------


@query(
    "eval_youden_j",
    oracle=f"""
    WITH scored AS ({_SCORE_SQL}),
    cells AS (
        SELECT source, s,
               CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END)
                    AS BIGINT) AS np,
               CAST(COUNT(CASE WHEN lang <> 'en' THEN 1 END)
                    AS BIGINT) AS nn
        FROM scored GROUP BY source, s
    ),
    cum AS (
        SELECT source, s,
               SUM(np) OVER (PARTITION BY source ORDER BY s DESC
                   ROWS UNBOUNDED PRECEDING) AS tp,
               SUM(nn) OVER (PARTITION BY source ORDER BY s DESC
                   ROWS UNBOUNDED PRECEDING) AS fp,
               SUM(np) OVER (PARTITION BY source) AS p,
               SUM(nn) OVER (PARTITION BY source) AS n
        FROM cells
    ),
    j AS (
        SELECT source, s,
               CAST(tp AS DOUBLE) / p - CAST(fp AS DOUBLE) / n AS jj,
               CAST(tp AS DOUBLE) / p AS sens,
               1.0 - CAST(fp AS DOUBLE) / n AS spec,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY CAST(tp AS DOUBLE) / p
                          - CAST(fp AS DOUBLE) / n DESC, s) AS rn
        FROM cum WHERE p > 0 AND n > 0
    )
    SELECT source, {sql_jround("s", 6)} AS best_threshold,
           {sql_jround("jj", 6)} AS youden_j,
           {sql_jround("sens", 6)} AS sensitivity,
           {sql_jround("spec", 6)} AS specificity
    FROM j WHERE rn = 1
    ORDER BY source
    """,
)
def eval_youden_j(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden's J optimal operating point per source for the
    heuristic quality score predicting lang = 'en': sweep every
    observed score as a >= threshold, J = sensitivity + specificity
    - 1, report the maximizing threshold (ties -> smallest score).
    THE answer to 'where do I actually cut?' that eval_auc_roc's
    ranking summary deliberately does not give.

    Numerics: TP/FP are integer cumulative sums over (source, score)
    cells; J is a rational of integers (identical both engines), and
    the argmax is rank-picked with a deterministic tie-break.

    Scale shape: one scan to score cells; the threshold sweep is a
    cumulative window over DISTINCT scores per source, not a
    per-threshold rescan."""
    scored = _scored(spark)
    cells = scored.groupBy("source", "s").agg(
        F.count(F.when(F.col("lang") == "en", 1))
        .cast("bigint")
        .alias("np"),
        F.count(F.when(F.col("lang") != "en", 1))
        .cast("bigint")
        .alias("nn"),
    )
    wdesc = (
        Window.partitionBy("source")
        .orderBy(F.desc("s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wsrc = Window.partitionBy("source")
    cum = cells.select(
        "source",
        "s",
        F.sum("np").over(wdesc).alias("tp"),
        F.sum("nn").over(wdesc).alias("fp"),
        F.sum("np").over(wsrc).alias("p"),
        F.sum("nn").over(wsrc).alias("n"),
    )
    jj = F.col("tp").cast("double") / F.col("p") - F.col("fp").cast(
        "double"
    ) / F.col("n")
    wj = Window.partitionBy("source").orderBy(F.desc(jj), F.asc("s"))
    j = (
        cum.where((F.col("p") > 0) & (F.col("n") > 0))
        .select(
            "source",
            "s",
            jj.alias("jj"),
            (F.col("tp").cast("double") / F.col("p")).alias("sens"),
            (1.0 - F.col("fp").cast("double") / F.col("n")).alias(
                "spec"
            ),
            F.row_number().over(wj).alias("rn"),
        )
    )
    return (
        j.where(F.col("rn") == 1)
        .select(
            "source",
            F.round("s", 6).alias("best_threshold"),
            F.round("jj", 6).alias("youden_j"),
            F.round("sens", 6).alias("sensitivity"),
            F.round("spec", 6).alias("specificity"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Brier skill score vs the climatology baseline.
# ---------------------------------------------------------------------------


@query(
    "eval_brier_skill",
    oracle=f"""
    WITH scored AS ({_SCORE_SQL}),
    t AS (
        SELECT source,
               LEAST(1.0, GREATEST(0.0, s)) AS p,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM scored
    ),
    s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos,
               CAST(SUM(CAST(round((p - y) * (p - y), 10)
                    AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS bs
        FROM t GROUP BY source
    ),
    k AS (
        SELECT source, n, pos, bs,
               (CAST(pos AS DOUBLE) / n)
                   * (1.0 - CAST(pos AS DOUBLE) / n) AS bs_ref
        FROM s WHERE n > 0
    )
    SELECT source, n, pos, {sql_jround("bs", 6)} AS brier_score,
           {sql_jround("bs_ref", 6)} AS brier_ref,
           CASE WHEN bs_ref > 0 THEN
               {sql_jround("1.0 - bs / bs_ref", 6)} END
               AS brier_skill
    FROM k ORDER BY source
    """,
)
def eval_brier_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier skill score per source: 1 - BS/BS_ref, the quality
    score's squared-error calibration measured AGAINST the
    climatology baseline (always predicting the source's base rate,
    whose Brier score is exactly ybar(1-ybar)). Positive skill =
    the score beats knowing only the base rate; the one-number
    'is this filter worth running here' readout that the raw
    eval_brier_decomposition leaves implicit. Single-class sources
    (base rate 0 or 1) report NULL skill.

    Numerics: per-row squared errors 10dp-rounded and decimal-summed;
    the reference score is a closed-form rational of integer counts.

    Scale shape: one scan, one partial-aggregated collapse per
    source."""
    scored = _scored(spark)
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.col("s")))
    y = F.when(F.col("lang") == "en", 1.0).otherwise(0.0)
    t = scored.select("source", p.alias("p"), y.alias("y"))
    s = t.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("y").cast("bigint")).cast("bigint").alias("pos"),
        (
            F.sum(
                F.round(
                    (F.col("p") - F.col("y")) * (F.col("p") - F.col("y")),
                    10,
                ).cast("decimal(38,10)")
            ).cast("double")
            / F.count("*")
        ).alias("bs"),
    )
    ybar = F.col("pos").cast("double") / F.col("n")
    bs_ref = ybar * (1.0 - ybar)
    return (
        s.where(F.col("n") > 0)
        .select(
            "source",
            "n",
            "pos",
            F.round("bs", 6).alias("brier_score"),
            F.round(bs_ref, 6).alias("brier_ref"),
            F.when(
                bs_ref > 0, F.round(1.0 - F.col("bs") / bs_ref, 6)
            ).alias("brier_skill"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cost-sensitive operating point (expected-cost threshold sweep).
# ---------------------------------------------------------------------------

_COST_FP = 1.0  # keeping a bad document
_COST_FN = 5.0  # dropping a good one


@query(
    "eval_expected_cost",
    oracle=f"""
    WITH scored AS ({_SCORE_SQL}),
    cells AS (
        SELECT source, s,
               CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END)
                    AS BIGINT) AS np,
               CAST(COUNT(CASE WHEN lang <> 'en' THEN 1 END)
                    AS BIGINT) AS nn
        FROM scored GROUP BY source, s
    ),
    cum AS (
        SELECT source, s,
               SUM(np) OVER (PARTITION BY source ORDER BY s DESC
                   ROWS UNBOUNDED PRECEDING) AS tp,
               SUM(nn) OVER (PARTITION BY source ORDER BY s DESC
                   ROWS UNBOUNDED PRECEDING) AS fp,
               SUM(np) OVER (PARTITION BY source) AS p,
               SUM(nn) OVER (PARTITION BY source) AS n
        FROM cells
    ),
    cost AS (
        SELECT source, s, p, n,
               ({_COST_FP} * fp + {_COST_FN} * (p - tp))
                   / (p + n) AS ec,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY ({_COST_FP} * fp
                             + {_COST_FN} * (p - tp)) / (p + n),
                            s) AS rn
        FROM cum WHERE p + n > 0
    )
    SELECT source, {sql_jround("s", 6)} AS best_threshold,
           {sql_jround("ec", 6)} AS min_expected_cost,
           {sql_jround(
               f"LEAST({_COST_FN} * CAST(p AS DOUBLE), "
               f"{_COST_FP} * CAST(n AS DOUBLE)) / (p + n)",
               6)} AS baseline_cost
    FROM cost WHERE rn = 1
    ORDER BY source
    """,
)
def eval_expected_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive operating point per source: with asymmetric
    misclassification costs (keeping a junk document costs 1,
    dropping a good one costs 5), sweep every observed score
    threshold and report the one minimizing expected cost per
    document, plus the trivial-policy baseline (keep-all vs
    drop-all, whichever is cheaper). The deployment-facing refinement
    of eval_youden_j — J weighs errors equally; production filters
    never do.

    Numerics: FP/FN are integer cumulative sums over (source, score)
    cells; costs are rationals of integers and literal weights;
    argmin rank-picked with deterministic ties (smallest threshold).

    Scale shape: identical to the Youden sweep — one scan to cells,
    one cumulative window over distinct scores."""
    scored = _scored(spark)
    cells = scored.groupBy("source", "s").agg(
        F.count(F.when(F.col("lang") == "en", 1))
        .cast("bigint")
        .alias("np"),
        F.count(F.when(F.col("lang") != "en", 1))
        .cast("bigint")
        .alias("nn"),
    )
    wdesc = (
        Window.partitionBy("source")
        .orderBy(F.desc("s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wsrc = Window.partitionBy("source")
    cum = cells.select(
        "source",
        "s",
        F.sum("np").over(wdesc).alias("tp"),
        F.sum("nn").over(wdesc).alias("fp"),
        F.sum("np").over(wsrc).alias("p"),
        F.sum("nn").over(wsrc).alias("n"),
    )
    ec = (
        _COST_FP * F.col("fp") + _COST_FN * (F.col("p") - F.col("tp"))
    ) / (F.col("p") + F.col("n"))
    wr = Window.partitionBy("source").orderBy(ec, F.asc("s"))
    cost = (
        cum.where(F.col("p") + F.col("n") > 0)
        .select(
            "source",
            "s",
            "p",
            "n",
            ec.alias("ec"),
            F.row_number().over(wr).alias("rn"),
        )
    )
    baseline = F.least(
        _COST_FN * F.col("p").cast("double"),
        _COST_FP * F.col("n").cast("double"),
    ) / (F.col("p") + F.col("n"))
    return (
        cost.where(F.col("rn") == 1)
        .select(
            "source",
            F.round("s", 6).alias("best_threshold"),
            F.round("ec", 6).alias("min_expected_cost"),
            F.round(baseline, 6).alias("baseline_cost"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Average neighbor degree by degree class (the knn(k) profile).
# ---------------------------------------------------------------------------


@query(
    "graph_avg_neighbor_degree",
    oracle=f"""
    WITH {_STRONG_EDGES_CTE},
    sym AS (
        SELECT a AS src, b AS dst FROM und
        UNION ALL SELECT b, a FROM und
    ),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY src
    ),
    j AS (
        SELECT ds.d AS k, dd.d AS nd
        FROM sym s
        JOIN deg ds ON ds.node = s.src
        JOIN deg dd ON dd.node = s.dst
    )
    SELECT k AS degree, CAST(COUNT(*) AS BIGINT) AS n_edge_ends,
           {sql_jround(
               "CAST(SUM(nd) AS DOUBLE) / COUNT(*)", 6)} AS knn
    FROM j GROUP BY k
    ORDER BY degree
    """,
)
def graph_avg_neighbor_degree(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average neighbor degree by degree class over the thresholded
    trade graph: knn(k) = the mean degree of neighbors, averaged
    over all edge ends whose source has degree k. The PROFILE behind
    graph_assortativity's single Pearson number: a falling knn(k)
    curve shows low-degree nations attaching to hubs
    (disassortative mixing) even when the scalar coefficient is
    near zero, and the curve localizes WHICH degree classes drive
    it.

    Numerics: degrees and edge-end counts are integer-exact; knn is
    one rational per degree class, jround-replayed since it can
    terminate.

    Scale shape: the fact-sized work is _strong_edges' broadcast-
    dimension join tree (persisted, shared across the graph family);
    everything here joins the O(nations) degree table onto the
    O(nations^2) edge list — metadata-sized, broadcast both legs."""
    und = _strong_edges(spark)
    sym = _both_ways(und, "src", "dst")
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    ds, dd = deg.alias("ds"), deg.alias("dd")
    j = (
        sym.join(
            F.broadcast(ds), F.col("ds.node") == F.col("src")
        )
        .join(F.broadcast(dd), F.col("dd.node") == F.col("dst"))
        .select(
            F.col("ds.d").alias("k"), F.col("dd.d").alias("nd")
        )
    )
    return (
        j.groupBy(F.col("k").alias("degree"))
        .agg(
            F.count("*").cast("bigint").alias("n_edge_ends"),
            F.round(
                F.sum("nd").cast("double") / F.count("*"), 6
            ).alias("knn"),
        )
        .orderBy("degree")
    )
