"""Window-function variants, statistical aggregates, and reshaping
operators (SURVEY.md §2.B.6 `window_fns` widened, plus extension rows).

Determinism notes (driver hash-compares against DuckDB):
- every window ORDER BY ends in a unique key, so frames and row numbers
  are total-ordered and engine-independent;
- double-valued statistics are rounded to 4dp on BOTH sides — engines
  disagree in the last ulps of variance/correlation;
- running sums go through DECIMAL so frame accumulation order can't
  show up in the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powersql_spark.operators.common import (
    DEC,
    ab_arm,
    arm_moments,
    arm_power_sums,
    davg,
    dsum,
    sql_davg,
    sql_dsum,
    sql_jround,
    welch_satterthwaite_df,
    welch_t,
)
from powersql_spark.catalog import values_df
from powersql_spark.registry import query


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
                          CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD over each customer's order history — inter-row deltas
    without a self-join (one shuffle on the partition key; the sort is
    local to each partition)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag("o_orderdate").over(w)
    return spark.table("orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.datediff(
            F.col("o_orderdate").cast("date"), prev_date.cast("date")
        ).cast("bigint").alias("days_since_prev"),
    )


@query(
    "window_rank",
    oracle="""
    SELECT * FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               ntile(4)     OVER w AS quartile
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ) WHERE rnk <= 100
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK / NTILE — top accounts per market segment.
    The rank filter is pushed below the final projection by Catalyst,
    so only 100 rows per segment survive the window stage."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        spark.table("customer")
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .where(F.col("rnk") <= 100)
    )


@query(
    "window_running",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend,
           round(AVG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 4) AS moving_avg3
    FROM orders WHERE o_custkey < 500
    """,
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + 3-row moving average per customer — cumulative
    frames (ROWS BETWEEN), the time-series workhorse."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last3 = w.rowsBetween(-2, Window.currentRow)
    return (
        spark.table("orders")
        .where(F.col("o_custkey") < 500)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .over(cum)
            .cast("double")
            .alias("running_spend"),
            F.round(F.avg("o_totalprice").over(last3), 4).alias("moving_avg3"),
        )
    )


@query(
    "window_qualify",
    oracle="""
    SELECT user_id, event_id, ts, value FROM (
        SELECT user_id, event_id, ts, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def window_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key via row_number()=1 (the QUALIFY idiom) — THE
    canonical training-data-pipeline op ("best document per URL").
    One shuffle on the key; at 100 TB prefer this over groupBy+join-back
    (single pass) and over dropDuplicates (which can't express 'latest')."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        spark.table("events")
        .where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "value")
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev / variance / correlation /
    covariance. Single-pass (Welford-style partial aggregation), so one
    shuffle of constant-size state per group at any scale."""
    li = spark.table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "cov_qty_price"
        ),
    )


@query(
    "sample_deterministic",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE (o_orderkey * 2654435761) % 4294967296 < 214748365
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% sample by multiplicative hashing of the key
    (Knuth). Unlike TABLESAMPLE/rand(), the sample is reproducible
    across engines, runs, and partitionings — which is what a training
    pipeline needs for stable held-out splits. Pure int64 arithmetic, so
    it stays in whole-stage codegen and pushes down to the scan."""
    return (
        spark.table("orders")
        .where((F.col("o_orderkey") * 2654435761) % 4294967296 < 214748365)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "explode_tokens",
    oracle=r"""
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLODE / UNNEST — one row per token (LATERAL VIEW in SQL form).
    Generators run inside codegen; the blow-up happens after the
    filter, so only sampled docs pay it."""
    d = spark.table("documents").where(F.col("doc_id") % 10 == 0)
    return d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )


@query(
    "unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS val
    FROM part
    """,
)
def unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long) — Spark's native unpivot/melt; the plan is
    a single Expand node (one scan, no union of N scans)."""
    p = spark.table("part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT e.event_type, COUNT(*) AS n,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events e JOIN orders o ON e.user_id = o.o_custkey
    GROUP BY e.event_type
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted join for skewed keys. A hot key (one user with
    millions of events) lands its entire shuffle partition on one task;
    salting splits it: the skewed side gets a random-ish salt in
    [0, S), the build side is replicated S ways via explode, and the
    join key becomes (key, salt) — the hot key now spreads across S
    tasks. AQE's skew-join handles the sort-merge case automatically;
    explicit salting is the portable version (works for broadcast-less
    hash joins, streaming joins, and engines without AQE). Salt here is
    a deterministic hash of the row (event_id % S), never rand() —
    results must not depend on the draw."""
    S = 8
    e = spark.table("events").withColumn(
        "salt", (F.col("event_id") % S).cast("int")
    )
    o = spark.table("orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
    )
    return (
        e.join(
            o,
            (e.user_id == o.o_custkey) & (e.salt == o.salt),
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
    )


@query(
    "join_range",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('small', 0.0, 100000.0),
               ('mid', 100000.0, 250000.0),
               ('large', 250000.0, 1000000000.0)
    )
    SELECT b.band, COUNT(*) AS n,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join against a tiny bands dimension. Catalyst
    plans BroadcastNestedLoopJoin — correct here because the build side
    is rows-sized; a fact-fact range join would instead be rewritten to
    a banded equi-join (bucket the range key, equi-join on bucket,
    re-filter), same trick dedup blocking uses."""
    from powersql_spark.operators.common import dsum

    bands = values_df(
        spark,
        [
            ("small", 0.0, 100000.0),
            ("mid", 100000.0, 250000.0),
            ("large", 250000.0, 1000000000.0),
        ],
        "band string, lo double, hi double",
    )
    o = spark.table("orders")
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
    )


@query(
    "agg_mode",
    oracle="""
    SELECT c_mktsegment,
           min(n_name) FILTER (WHERE rk = 1) AS top_nation
    FROM (
        SELECT c_mktsegment, n_name, COUNT(*) AS n,
               rank() OVER (PARTITION BY c_mktsegment ORDER BY COUNT(*) DESC) AS rk
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY c_mktsegment, n_name
    )
    GROUP BY c_mktsegment
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent value per group (mode), tie-broken by name — via
    count + rank, the portable two-shuffle form (Spark's mode() and
    DuckDB's mode() tie-break differently, so the rewrite IS the
    deterministic contract)."""
    c = spark.table("customer")
    n = spark.table("nation")
    counts = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("n").desc())
    return (
        counts.withColumn("rk", F.rank().over(w))
        .where(F.col("rk") == 1)
        .groupBy("c_mktsegment")
        .agg(F.min("n_name").alias("top_nation"))
    )


@query(
    "window_first_last",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE — first and latest order price per
    customer in one window pass. LAST_VALUE needs the full-partition
    frame (the default frame stops at CURRENT ROW — the classic
    silent-wrong-answer; made explicit here)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        spark.table("orders")
        .select(
            "o_custkey",
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(full).alias("last_price"),
        )
        .distinct()
    )


@query(
    "pred_null_safe_eq",
    oracle="""
    SELECT a.event_id AS ea, b.event_id AS eb
    FROM (SELECT event_id, CASE WHEN value < 10 THEN NULL
                                ELSE CAST(FLOOR(value / 20) AS INTEGER) END AS vb
          FROM events WHERE event_id < 500) a
    JOIN (SELECT event_id, CASE WHEN value < 10 THEN NULL
                                ELSE CAST(FLOOR(value / 20) AS INTEGER) END AS vb
          FROM events WHERE event_id < 500) b
      ON a.vb IS NOT DISTINCT FROM b.vb AND a.event_id < b.event_id
    """,
)
def pred_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> / IS NOT DISTINCT FROM) as a JOIN key:
    NULL matches NULL, unlike plain =. Spark plans it as a proper
    equi-join (hashable), not a nested loop — which is why it's the
    right way to join on nullable keys at scale."""
    e = spark.table("events").where(F.col("event_id") < 500)
    vb = F.when(
        F.col("value") < 10, F.lit(None).cast("int")
    ).otherwise(F.floor(F.col("value") / 20).cast("int"))
    a = e.select(F.col("event_id").alias("ea"), vb.alias("vba"))
    b = e.select(F.col("event_id").alias("eb"), vb.alias("vbb"))
    return (
        a.join(b, a.vba.eqNullSafe(b.vbb) & (a.ea < b.eb))
        .select("ea", "eb")
    )


@query(
    "agg_filter",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
                FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS discounted_rev
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER (WHERE ...) on aggregates — conditional aggregation in
    one pass over the data instead of N filtered scans (the CASE WHEN
    trick, as first-class syntax)."""
    li = spark.table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_all"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_big"),
        F.sum(
            F.when(
                F.col("l_discount") > 0.05,
                F.col("l_extendedprice").cast("decimal(18,6)"),
            )
        )
        .cast("double")
        .alias("discounted_rev"),
    )


@query(
    "window_percent_rank",
    oracle="""
    SELECT s_suppkey, s_acctbal,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM supplier
    WINDOW w AS (ORDER BY s_acctbal, s_suppkey)
    """,
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK / CUME_DIST — relative standing within the whole
    ordered set. An un-partitioned window is a single-task sort; fine
    for dimension-sized inputs (suppliers), never for facts — partition
    or pre-aggregate first at scale."""
    from pyspark.sql import Window as W

    w = W.orderBy("s_acctbal", "s_suppkey")
    return spark.table("supplier").select(
        "s_suppkey",
        "s_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "incr_new_rows",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e
    WHERE e.event_id % 3 <> 0
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_id % 3 = 0 AND p.event_id = e.event_id
    )
    """,
)
def incr_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest idiom: new rows = source ANTI JOIN processed
    (here: rows with event_id % 3 == 0 stand in for the already-loaded
    set). One shuffled/broadcast anti join, no full-table diff — how a
    100 TB pipeline takes a delta without reprocessing history."""
    e = spark.table("events")
    processed = e.where(F.col("event_id") % 3 == 0).select("event_id")
    return (
        e.where(F.col("event_id") % 3 != 0)
        .join(processed, "event_id", "left_anti")
        .select("event_id", "user_id", "event_type")
    )


@query(
    "agg_collect_set",
    oracle="""
    SELECT r_name,
           array_to_string(list_sort(list_distinct(list(n_name))), ',') AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set with a deterministic scalar representation: sort the
    set (collect order varies with partitioning) and join to a string.
    The string form is what makes the row hashable by the driver's
    pandas canonicalizer — round 1 returned the raw array and crashed
    it (TypeError: unhashable type 'list')."""
    n = spark.table("nation")
    r = F.broadcast(spark.table("region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias(
                "nations"
            )
        )
    )


@query(
    "agg_histogram",
    oracle="""
    WITH b AS (
        SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders
    )
    SELECT LEAST(CAST(floor((o_totalprice - mn) * 20.0 / (mx - mn))
                      AS INTEGER), 19) AS bucket,
           CAST(round(mn + LEAST(CAST(floor((o_totalprice - mn) * 20.0
                                            / (mx - mn)) AS INTEGER), 19)
                           * (mx - mn) / 20.0, 4) AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n_orders
    FROM orders, b
    GROUP BY 1, 2
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (20 buckets over [min, max]) — the
    distribution-profiling primitive behind data-quality dashboards and
    skew diagnosis. Two passes: a tiny (min, max) aggregate broadcast
    back (the scalar-subquery idiom — never a driver round-trip), then
    one linear bucket-assign + count.

    The bucket index is computed with ONE shared formula —
    floor((x - mn) * 20 / (mx - mn)) — on both engines rather than
    each engine's width_bucket(), whose internal arithmetic is not
    specified identically; same-ops-same-order IEEE doubles make the
    cut deterministic. At 100 TB this is a map + one 20-group shuffle."""
    o = spark.table("orders")
    b = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("mn"))
            * 20.0
            / (F.col("mx") - F.col("mn"))
        ).cast("int"),
        F.lit(19),
    )
    return (
        o.join(F.broadcast(b))
        .select(
            bucket.alias("bucket"),
            F.round(
                F.col("mn")
                + bucket * (F.col("mx") - F.col("mn")) / 20.0,
                4,
            ).alias("bucket_lo"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "window_ntile",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(NTILE(4) OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
    FROM customer
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) — equal-height quartiles per nation (both engines fill
    earlier buckets first on non-divisible counts; the tie-free ORDER BY
    makes assignment deterministic). Partitioned window: one shuffle on
    c_nationkey, each quartile assignment local to its partition."""
    from pyspark.sql import Window as W

    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return spark.table("customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@query(
    "merge_upsert",
    oracle="""
    WITH changes AS (
        SELECT o_orderkey AS k, o_totalprice * 1.10 AS price, 'U' AS op
        FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice, 'I'
        FROM orders WHERE o_orderkey % 100 = 50
    )
    SELECT COALESCE(c.k, b.o_orderkey) AS o_orderkey,
           CAST(COALESCE(c.price, b.o_totalprice) AS DOUBLE)
               AS o_totalprice,
           CASE WHEN c.k IS NULL THEN 'kept'
                WHEN b.o_orderkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM orders b FULL OUTER JOIN changes c ON b.o_orderkey = c.k
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) semantics as one FULL OUTER join + COALESCE:
    matched change rows overwrite (updated), unmatched change rows
    append (inserted), untouched base rows pass through (kept). The
    relational core of Delta/Iceberg MERGE, usable against plain
    parquet via foreachBatch (see streaming upsert test) or a rewrite
    sink.

    Scale shape: ONE shuffle of each side on the merge key — history is
    never rewritten row-by-row, and with both sides bucketed on the key
    (sink_bucketed) the exchange disappears entirely. The change set is
    usually delta-sized, so AQE downgrades its side to broadcast and
    the base table never shuffles at all."""
    o = spark.table("orders")
    changes = (
        o.where(F.col("o_orderkey") % 100 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (F.col("o_totalprice") * 1.10).alias("price"),
            F.lit("U").alias("op"),
        )
        .unionAll(
            o.where(F.col("o_orderkey") % 100 == 50).select(
                (F.col("o_orderkey") + 10_000_000).alias("k"),
                F.col("o_totalprice").alias("price"),
                F.lit("I").alias("op"),
            )
        )
    )
    b, c = o.alias("b"), changes.alias("c")
    return (
        b.join(c, F.col("b.o_orderkey") == F.col("c.k"), "full_outer")
        .select(
            F.coalesce(F.col("c.k"), F.col("b.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.coalesce(F.col("c.price"), F.col("b.o_totalprice"))
            .cast("double")
            .alias("o_totalprice"),
            F.when(F.col("c.k").isNull(), "kept")
            .when(F.col("b.o_orderkey").isNull(), "inserted")
            .otherwise("updated")
            .alias("merge_action"),
        )
    )


@query(
    "agg_corr",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4)
               AS intercept,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics — CORR / COVAR_SAMP / REGR_SLOPE /
    REGR_INTERCEPT per group. The reference passes any aggregate call
    through untyped (src/main.rs:117-121, src/types.rs:94); here they
    execute natively as single-pass partial aggregates: each partition
    reduces to (n, Σx, Σy, Σxy, Σx², Σy²) moment state and only that
    constant-size state shuffles — the same plan shape at 60k rows and
    at 100 TB. Rounded on both engines: the merge order of the moment
    sums differs, so the last ulps do too."""
    li = spark.table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "slope"
        ),
        F.round(
            F.regr_intercept("l_extendedprice", "l_quantity"), 4
        ).alias("intercept"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_or(CAST(1 AS BIGINT) << l_linenumber) AS BIGINT)
               AS line_bitmap,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT) << l_linenumber))
               AS INTEGER) AS n_distinct_bitmap,
           CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS n_distinct_exact
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-accelerated exact distinct count for small-domain values:
    OR together one-hot bitmaps (1 << value) per group, popcount the
    result. The bitmap is a mergeable constant-size aggregate — unlike
    COUNT(DISTINCT), which shuffles every distinct value, the bitmap
    reduces map-side to 8 bytes per group and merges associatively:
    the same trick bitmap indexes and Roaring-backed engines use. The
    exact COUNT(DISTINCT) rides along to prove equality.

    Scale shape: partial aggregation all the way — per-partition
    bitmaps OR-merge in the exchange; state is O(domain/8) bytes
    regardless of row count (here: one long for line numbers 1..7)."""
    li = spark.table("lineitem")
    bitmap = F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), l_linenumber)"))
    return li.groupBy("l_returnflag").agg(
        bitmap.alias("line_bitmap"),
        F.bit_count(bitmap).cast("int").alias("n_distinct_bitmap"),
        F.countDistinct("l_linenumber").alias("n_distinct_exact"),
    )


@query(
    "window_nth_value",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           nth_value(s_acctbal, 2) OVER w AS second_best_in_nation,
           first_value(s_suppkey) OVER w AS best_supp_in_nation
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey
                 ORDER BY s_acctbal DESC, s_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTH_VALUE / FIRST_VALUE over a full-partition frame — every row
    sees its nation's best and second-best account balance (the
    "compare to the leaders" analytic). The ORDER BY ends in the
    unique supplier key so the frame is total-ordered and
    engine-independent. One exchange on the partition key; the frame
    is evaluated in a single pass per partition."""
    w = (
        Window.partitionBy("s_nationkey")
        .orderBy(F.col("s_acctbal").desc(), "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    s = spark.table("supplier")
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.nth_value("s_acctbal", 2).over(w).alias("second_best_in_nation"),
        F.first("s_suppkey").over(w).alias("best_supp_in_nation"),
    )


@query(
    "scd2_intervals",
    oracle="""
    SELECT user_id, event_id, value AS attr_value,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           lead(ts) OVER w IS NULL AS is_current,
           CAST(row_number() OVER w AS BIGINT) AS version
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: each change event
    becomes a versioned validity interval — valid_from = its
    timestamp, valid_to = the next change's timestamp (NULL = current
    row), version = change ordinal. The standard warehouse
    dimension-history table, derived in one pass with LEAD/ROW_NUMBER
    over (user, time); the window order ends in event_id so
    simultaneous changes version deterministically.

    Scale shape: one exchange on user_id, per-user windows evaluated
    in a single sorted pass — no self-join of the change stream (the
    naive FROM changes a JOIN changes b ON b.ts > a.ts shape is
    quadratic per user)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        spark.table("events")
        .where(F.col("event_type") == "signup")
        .select(
            "user_id",
            "event_id",
            F.col("value").alias("attr_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
            F.row_number().over(w).cast("bigint").alias("version"),
        )
    )


@query(
    "window_gap_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    anchored AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER)
                   AS island_anchor
        FROM days
    )
    SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM anchored
    GROUP BY user_id, island_anchor
    """,
)
def window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's distinct activity days
    into maximal runs of consecutive days (activity streaks). The
    classic rewrite — day minus its per-user row_number is constant
    within a consecutive run — turns an order-dependent grouping into
    one window + one aggregate; the same coalescing idiom
    dedup_exact_substring uses on token offsets.

    Scale shape: one exchange on user_id shared by the DISTINCT, the
    window, and the final grouped aggregate (Catalyst reuses the
    partitioning); no join, no self-comparison of rows."""
    days = (
        spark.table("events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("island_anchor"),
    )
    return (
        anchored.groupBy("user_id", "island_anchor")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("island_anchor")
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH touched AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_id END IGNORE NULLS) OVER w
                   AS touch_event_id,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN ts END IGNORE NULLS) OVER w
                   AS touch_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           touch_event_id, touch_type, touch_ts
    FROM touched
    WHERE event_type = 'purchase'
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: for every purchase, the most recent
    PRECEDING non-purchase event of the same user gets the credit —
    the marketing-analytics sibling of LOCF, via last(... ignorenulls)
    over a trailing frame (total-ordered by (ts, event_id)). First
    purchases with no prior touch keep NULLs — unattributed, not
    dropped.

    Scale shape: one exchange on user_id, one sorted pass; no self
    join of the event stream (the naive correlated 'latest earlier
    event' subquery is quadratic per user)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    e = spark.table("events")
    touched = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(not_purchase, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(not_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    return touched.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "touch_event_id",
        "touch_type",
        "touch_ts",
    )


_SCD2_CUTOFF = "2024-09-01"


@query(
    "scd2_incremental",
    oracle="""
    SELECT user_id, event_id, value AS attr_value,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           lead(ts) OVER w IS NULL AS is_current,
           CAST(row_number() OVER w AS BIGINT) AS version
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: given the dimension-history table
    built from changes BEFORE a cutoff (the nightly table) and a new
    change batch after it, produce the up-to-date history by
    recomputing ONLY users present in the batch — open intervals of
    affected users get closed/re-versioned, everyone else's rows pass
    through untouched (anti join). The oracle is the full rebuild:
    incremental apply must be indistinguishable from recomputing
    history from scratch.

    Scale shape: maintenance cost is proportional to the CHANGED keys,
    not the dimension — the pass-through side is one anti join with
    the delta's distinct keys (AQE broadcasts them), and the window
    recompute runs on the semi-joined slice only. This is what makes
    nightly SCD2 loads feasible when history is 100 TB and the delta
    is megabytes."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def build(df: DataFrame) -> DataFrame:
        return df.select(
            "user_id",
            "event_id",
            F.col("value").alias("attr_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
            F.row_number().over(w).cast("bigint").alias("version"),
        )

    changes = spark.table("events").where(
        F.col("event_type") == "signup"
    )
    cutoff = F.lit(_SCD2_CUTOFF).cast("timestamp")
    base = build(changes.where(F.col("ts") < cutoff))
    batch = changes.where(F.col("ts") >= cutoff)
    affected = batch.select("user_id").distinct()
    untouched = base.join(affected, "user_id", "left_anti")
    redo = build(changes.join(affected, "user_id", "left_semi"))
    return untouched.unionByName(redo)


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id,
               date_trunc('week', f.cohort_week) AS cohort_week,
               CAST(date_diff('week', f.cohort_week,
                              date_trunc('week', e.ts)) AS BIGINT)
                   AS week_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    grouped AS (
        SELECT cohort_week, week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM activity GROUP BY cohort_week, week_offset
    )
    SELECT cohort_week, week_offset, n_active,
           round(CAST(n_active AS DOUBLE)
                 / MAX(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week), 4) AS retention
    FROM grouped
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    tracked by distinct active weeks since — n_active and the
    retention fraction per (cohort, week offset). The canonical
    product-analytics rollup.

    Scale shape: cohort assignment is one groupBy(user); the activity
    matrix is a fact-side join against that (AQE broadcasts the cohort
    frame when it is dimension-sized) followed by a DISTINCT and one
    aggregate — the fact table is scanned twice (cohort build +
    activity), never per-cohort. Cohort sizes join back as a
    metadata-sized broadcast."""
    e = spark.table("events")
    # .cast("date"): Spark date_trunc returns TIMESTAMP, DuckDB DATE.
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    grouped = activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    # Cohort size == n_active at offset 0 (every user is active in
    # their own first week), so a window over the rollup replaces a
    # third fact scan + sizes join.
    size = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(Window.partitionBy("cohort_week"))
    return grouped.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(F.col("n_active").cast("double") / size, 4).alias(
            "retention"
        ),
    )


@query(
    "window_trailing_events",
    oracle="""
    SELECT user_id, event_id, ts,
           array_to_string(list(event_id) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), ',') AS trailing_ids,
           array_to_string(list(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), ',') AS trailing_types
    FROM events
    """,
)
def window_trailing_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-bounded array aggregation: each event carries its user's
    last-3 event ids and types as ordered lists (emitted as joined
    strings so the driver canonicalizer can hash them) — the trailing
    context feature every sequence model / sessionized feature store
    wants per interaction. collect_list over a ROWS frame preserves
    frame order on both engines because the window ORDER BY ends in
    the unique event_id.

    One exchange on user_id; the frame walk is a single sorted pass —
    the history 'join' costs no join at all."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    e = spark.table("events")
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.array_join(
            F.transform(
                F.collect_list("event_id").over(w),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("trailing_ids"),
        F.array_join(F.collect_list("event_type").over(w), ",").alias(
            "trailing_types"
        ),
    )


@query(
    "agg_moments",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
                    AS DOUBLE) AS s2,
               CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                             AS DECIMAL(28,6))) AS DOUBLE) AS s3
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round(s1 / n, 6) AS mean,
           round(s2 / n - (s1 / n) * (s1 / n), 6) AS var_pop,
           round(
             (s3 / n - 3 * (s1 / n) * (s2 / n - (s1 / n) * (s1 / n))
              - (s1 / n) * (s1 / n) * (s1 / n))
             / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness
    FROM s
    """,
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher moments from explicit power sums: mean, population
    variance, and skewness computed from decimal-summed Σx, Σx², Σx³ —
    NOT the built-in skewness()/kurtosis(), whose bias corrections
    differ between engines. The power sums are exact decimals, so the
    derived moments are bit-identical before rounding on any engine
    and any partitioning — the only way to hash-verify distribution
    shape cross-engine.

    Scale shape: one partial+final aggregate pair; per-group state is
    four numbers regardless of row count (the same pattern the
    built-in moment aggregates use internally)."""
    li = spark.table("lineitem")
    q = F.col("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q.cast("decimal(28,6)")).cast("double").alias("s1"),
        F.sum((q * q).cast("decimal(28,6)")).cast("double").alias("s2"),
        F.sum((q * q * q).cast("decimal(28,6)")).cast("double").alias("s3"),
    )
    m = F.col("s1") / F.col("n")
    var_pop = F.col("s2") / F.col("n") - m * m
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * m * (F.col("s2") / F.col("n") - m * m)
        - m * m * m
    )
    return s.select(
        "l_returnflag",
        F.col("n").alias("n"),
        F.round(m, 6).alias("mean"),
        F.round(var_pop, 6).alias("var_pop"),
        F.round(m3 / F.pow(var_pop, 1.5), 6).alias("skewness"),
    )


@query(
    "window_range_numeric",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           COUNT(*) OVER w AS n_similar_price,
           CAST(MIN(o_orderkey) OVER w AS BIGINT) AS min_key_in_band
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (ORDER BY o_totalprice
                 RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
    """,
)
def window_range_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE frame: for each order, how many orders fall
    within +/-1000 of ITS price (value-based frame bounds, not row
    counts) — the density-band analytic; the sibling of
    window_range_frame's time-interval RANGE. COUNT/MIN are
    order-insensitive inside the frame, so no tie-break key is needed
    for determinism. Filtered to a dimension-sized slice: an
    un-partitioned RANGE window is a single-task sort, fine for
    slices, never for facts — partition or bucket first at scale."""
    w = Window.orderBy("o_totalprice").rangeBetween(-1000, 1000)
    return (
        spark.table("orders")
        .where(F.col("o_custkey") < 200)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.count(F.lit(1)).over(w).alias("n_similar_price"),
            F.min("o_orderkey").over(w).alias("min_key_in_band"),
        )
    )


@query(
    "agg_geomean",
    oracle="""
    SELECT l_returnflag,
           round(exp(SUM(ln(l_extendedprice)) / COUNT(*)), 4)
               AS geomean_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
)
def agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean via exp(avg(ln x)) — the multiplicative average
    (growth rates, relevance scores) that has no built-in aggregate on
    either engine; expressed as a plain single-pass sum of logs, it
    partially aggregates like any SUM. Rounded at 4dp: the log-sum's
    addition order differs between engines."""
    li = spark.table("lineitem").where(F.col("l_extendedprice") > 0)
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.exp(F.sum(F.log("l_extendedprice")) / F.count(F.lit(1))), 4
        ).alias("geomean_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "abtest_zscore",
    oracle="""
    WITH assigned AS (
        SELECT value,
               substr(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 1) < '8'
                   AS is_a
        FROM events
    ),
    s AS (
        SELECT
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
        FROM assigned
    )
    SELECT n_a, n_b,
           round(s_a / n_a, 6) AS mean_a,
           round(s_b / n_b, 6) AS mean_b,
           round(
             (s_b / n_b - s_a / n_a)
             / sqrt((q_a / n_a - (s_a / n_a) * (s_a / n_a)) / n_a
                  + (q_b / n_b - (s_b / n_b) * (s_b / n_b)) / n_b),
             4) AS zscore
    FROM s
    """,
)
def abtest_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test readout: deterministic hash assignment of users to
    variants (salted md5, ~50/50), then the two-sample z-score for the
    difference in mean event value — computed from one pass of
    conditional decimal power sums, so the statistic is bit-identical
    across engines and partitionings before rounding. The shape every
    experimentation platform computes nightly over event logs.

    Scale shape: ONE scan, ONE aggregate producing six numbers; the
    whole readout is constant-size state however many events exist —
    no per-variant scan, no join."""
    e = spark.table("events")
    s = e.select(ab_arm(":ab").alias("is_a"), "value").agg(
        *arm_power_sums()
    )
    m_a, m_b = F.col("s_a") / F.col("n_a"), F.col("s_b") / F.col("n_b")
    var_a = F.col("q_a") / F.col("n_a") - m_a * m_a
    var_b = F.col("q_b") / F.col("n_b") - m_b * m_b
    return s.select(
        "n_a",
        "n_b",
        F.round(m_a, 6).alias("mean_a"),
        F.round(m_b, 6).alias("mean_b"),
        F.round(
            (m_b - m_a)
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")),
            4,
        ).alias("zscore"),
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   AS first_view,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT user_id,
               CAST(date_diff('second', first_view, first_purchase)
                    AS BIGINT) AS secs_to_convert
        FROM firsts
        WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
          AND first_purchase >= first_view
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(quantile_cont(secs_to_convert, 0.5) AS DOUBLE) AS p50_secs,
           CAST(quantile_cont(secs_to_convert, 0.9) AS DOUBLE) AS p90_secs,
           CAST(MAX(secs_to_convert) AS BIGINT) AS max_secs
    FROM conv
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: for every user who viewed then purchased, the
    seconds from FIRST view to FIRST purchase, summarized as
    median/p90/max — the latency half of funnel analysis
    (funnel_conversion counts the stages; this times them).

    Scale shape: per-user firsts are conditional MIN aggregates in one
    grouped pass (no per-stage scans, no self-join); the summary runs
    on the converted-users frame, which is keys-sized, not
    events-sized. Interpolated percentiles are deterministic on both
    engines."""
    e = spark.table("events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    conv = firsts.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        (
            F.unix_seconds("first_purchase")
            - F.unix_seconds("first_view")
        ).alias("secs_to_convert")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.percentile("secs_to_convert", F.lit(0.5))
        .cast("double")
        .alias("p50_secs"),
        F.percentile("secs_to_convert", F.lit(0.9))
        .cast("double")
        .alias("p90_secs"),
        F.max("secs_to_convert").alias("max_secs"),
    )


@query(
    "dedup_consecutive",
    oracle="""
    SELECT event_id, user_id, ts, event_type
    FROM (
        SELECT event_id, user_id, ts, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    )
    WHERE prev_type IS NULL OR event_type <> prev_type
    """,
)
def dedup_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate compaction: keep only events where the
    user's state CHANGED (event_type differs from the previous event)
    — log/CDC compaction that collapses runs of identical states to
    their first occurrence, shrinking a heartbeat-heavy stream to its
    transitions. One lag window per user, then a filter; the
    downstream SCD2 build (scd2_intervals) consumes exactly this
    shape.

    One exchange on user_id, one sorted pass — never a self-join of
    adjacent rows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    return (
        spark.table("events")
        .select("event_id", "user_id", "ts", "event_type", prev.alias("p"))
        .where(F.col("p").isNull() | (F.col("event_type") != F.col("p")))
        .select("event_id", "user_id", "ts", "event_type")
    )


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6)))
                AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS wavg_price,
           round(AVG(l_extendedprice), 4) AS plain_avg_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS total_weight
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average — sum(w*x)/sum(w) per group (quantity-weighted
    price), beside the plain mean it corrects. No built-in weighted
    aggregate exists on either engine; spelled as two decimal sums it
    partially aggregates like any SUM and hashes bit-identically."""
    li = spark.table("lineitem")
    wx = (F.col("l_extendedprice") * F.col("l_quantity")).cast(
        "decimal(28,6)"
    )
    wsum = F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
    return li.groupBy("l_returnflag").agg(
        (F.sum(wx).cast("double") / wsum).alias("wavg_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("plain_avg_price"),
        wsum.alias("total_weight"),
    )


@query(
    "window_share_of_total",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS nation_rev,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 / SUM(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                            AS DOUBLE)) OVER (), 6) AS share_of_total,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 / MAX(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                            AS DOUBLE)) OVER (), 6) AS ratio_to_max
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total / ratio-to-report: each nation's revenue as a
    fraction of the grand total and of the leader — the window-over-
    aggregate idiom (RATIO_TO_REPORT in Oracle-speak). The unpartitioned
    window runs over the GROUPED frame (25 rows), not the fact table,
    so 'global' costs nothing.

    Scale shape: dimensions broadcast into one fact aggregate; the
    share window touches only group-count rows."""
    o = spark.table("orders")
    c = F.broadcast(spark.table("customer").select("c_custkey", "c_nationkey"))
    n = F.broadcast(spark.table("nation").select("n_nationkey", "n_name"))
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("nation_rev")
        )
    )
    w = Window.partitionBy()
    return per_nation.select(
        "n_name",
        "nation_rev",
        F.round(
            F.col("nation_rev") / F.sum("nation_rev").over(w), 6
        ).alias("share_of_total"),
        F.round(
            F.col("nation_rev") / F.max("nation_rev").over(w), 6
        ).alias("ratio_to_max"),
    )


@query(
    "window_rolling_median",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           median(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS rolling_median
    FROM orders
    WHERE o_custkey < 500
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over the trailing 5 orders per customer — the
    robust-baseline analytic (outlier-resistant running level).

    Spark has no MEDIAN window function (INVALID_WINDOW_SPEC_FOR_
    AGGREGATION_FUNC), so this is the compose-it pattern the engine
    doc promises when a native operator is missing: collect the
    bounded frame into an array, sort, index the middle — all
    whole-stage-codegen expression work. The frame is ROWS-bounded at
    5, so per-row state is constant: the composition scales exactly
    like any other bounded-frame window, one hash shuffle on the
    partition key. (An UNBOUNDED frame would need a different design —
    two-heap streaming state — which is the documented limit of this
    form.) Median of a sorted frame is exact element extraction (odd)
    or one addition (even): bit-identical cross-engine, no rounding
    needed."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list("o_totalprice").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    return (
        spark.table("orders")
        .where(F.col("o_custkey") < 500)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            ((mid_lo + mid_hi) / 2).alias("rolling_median"),
        )
    )


@query(
    "window_rolling_distinct",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           ) AS INTEGER) AS n_distinct_types
    FROM events
    """,
)
def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct event types among each user's trailing 10 events — the
    behavioral-diversity analytic (how varied is recent activity).

    Spark rejects DISTINCT aggregates over windows
    (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED); the composition is
    size(array_distinct(collect_list over frame)) — constant per-row
    state because the frame is ROWS-bounded, one hash shuffle on the
    partition key, all expression-level (codegen) work. The frame
    orders by (ts, event_id): the tie-break key makes the frame
    content — and therefore the count — deterministic under shuffle
    reordering."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return spark.table("events").select(
        "user_id",
        "event_id",
        F.size(
            F.array_distinct(F.collect_list("event_type").over(w))
        ).alias("n_distinct_types"),
    )


@query(
    "agg_entropy",
    oracle="""
    WITH c AS (
        SELECT source, lang, COUNT(*) AS n
        FROM documents GROUP BY source, lang
    ),
    t AS (
        SELECT source, lang, n,
               SUM(n) OVER (PARTITION BY source) AS total,
               COUNT(*) OVER (PARTITION BY source) AS n_langs
        FROM c
    )
    SELECT source,
           CAST(MAX(total) AS BIGINT) AS n_docs,
           CAST(MAX(n_langs) AS BIGINT) AS n_langs,
           round(-SUM((CAST(n AS DOUBLE) / total)
                      * ln(CAST(n AS DOUBLE) / total)), 6) AS entropy,
           round(CASE WHEN MAX(n_langs) > 1
                 THEN -SUM((CAST(n AS DOUBLE) / total)
                           * ln(CAST(n AS DOUBLE) / total))
                      / ln(CAST(MAX(n_langs) AS DOUBLE))
                 ELSE 0.0 END, 6) AS norm_entropy
    FROM t
    GROUP BY source
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source (nats), plus the
    0-1 normalized variant — the diversity/skew diagnostic curation
    dashboards put next to every corpus slice (a source whose language
    entropy collapses is a scraper gone wrong). The reference passes
    aggregate calls through untyped (src/main.rs:117-121); here the
    two-level aggregate executes natively.

    Scale shape: the corpus is touched once by the (source, lang)
    count — everything after runs on the category table (|sources| x
    |langs| rows, metadata-sized at any corpus size). The per-source
    total/width come from a window over the SAME source partitioning
    the final groupBy uses, so Catalyst plans one exchange on the tiny
    table. Entropy terms are exact ratios of exact counts; 6dp guard
    rounding absorbs the sum-order ulps."""
    c = spark.table("documents").groupBy("source", "lang").count()
    w = Window.partitionBy("source")
    t = c.select(
        "source",
        (F.col("count").cast("double") / F.sum("count").over(w)).alias("p"),
        F.sum("count").over(w).alias("total"),
        F.count(F.lit(1)).over(w).alias("n_langs"),
    )
    ent = -F.sum(F.col("p") * F.log("p"))
    return t.groupBy("source").agg(
        F.max("total").alias("n_docs"),
        F.max("n_langs").alias("n_langs"),
        F.round(ent, 6).alias("entropy"),
        F.round(
            F.when(
                F.max("n_langs") > 1,
                ent / F.log(F.max("n_langs").cast("double")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("norm_entropy"),
    )


_INCR_CUTOFF = "1997-01-01"


@query(
    "incr_agg_maintenance",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total_price,
           TRUE AS matches_full
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def incr_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the materialized-view
    pattern: the pre-cutoff aggregate is the existing MV state, the
    post-cutoff delta aggregates separately, and a full-outer merge
    with coalesced partial sums produces the refreshed view WITHOUT
    reaggregating history. The emitted ``matches_full`` gate compares
    the merged state against a from-scratch recompute inside the
    query, so the driver hash verifies the maintenance claim itself
    (oracle: the from-scratch aggregate + TRUE).

    Scale shape: at 100 TB the delta scan is the only fact-sized work
    on refresh (the base state is group-cardinality-sized); COUNT and
    decimal-SUM are the mergeable-state aggregates this pattern
    requires (AVG maintains as SUM/COUNT; MIN/MAX only merge on
    inserts — all standard MV-maintenance theory). Here both branches
    read the same table with disjoint pushed date filters; production
    would read the delta from the ingest log."""
    o = spark.table("orders")
    cutoff = F.lit(_INCR_CUTOFF).cast("date")
    base = (
        o.where(F.col("o_orderdate") < cutoff)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("b_n"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("b_sum"),
        )
    )
    delta = (
        o.where(F.col("o_orderdate") >= cutoff)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("d_n"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("d_sum"),
        )
    )
    merged = (
        base.join(delta, "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("b_n"), F.lit(0))
                + F.coalesce(F.col("d_n"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("b_sum"), F.lit(0).cast(DEC))
                + F.coalesce(F.col("d_sum"), F.lit(0).cast(DEC))
            )
            .cast("double")
            .alias("total_price"),
        )
    )
    full = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("f_n"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias(
            "f_sum"
        ),
    )
    return merged.join(full, "o_orderpriority", "full").select(
        "o_orderpriority",
        "n_orders",
        "total_price",
        (
            (F.col("n_orders") == F.col("f_n"))
            & (F.col("total_price") == F.col("f_sum"))
        ).alias("matches_full"),
    )


@query(
    "join_temporal_scd2",
    oracle="""
    WITH dim AS (
        SELECT user_id, value AS attr_value, ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               CAST(row_number() OVER w AS BIGINT) AS version
        FROM events WHERE event_type = 'signup'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p.event_id, p.user_id, p.ts, d.attr_value, d.version
    FROM (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase') p
    LEFT JOIN dim d
      ON d.user_id = p.user_id
     AND p.ts >= d.valid_from
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    """,
)
def join_temporal_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join of facts against SCD2 dimension
    history: each purchase picks the attribute version valid AT its
    timestamp — the lookup every warehouse star schema with versioned
    dimensions performs. Purchases before the user's first version get
    NULLs.

    Scale shape: because SCD2 intervals are consecutive change
    timestamps, the temporal join IS an as-of backward join — rewritten
    as the union + last-non-null window: ONE (user_id) exchange, one
    sort, zero joins, no interval fan-out. The oracle keeps the naive
    equi-join + range filter formulation, so the rewrite is verified
    against the definition (and the naive shape's cost — every fact row
    replicated per dimension version before filtering — is exactly what
    this plan avoids at scale)."""
    e = spark.table("events")
    changes = e.where(F.col("event_type") == "signup")
    wv = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = changes.select(
        F.lit(None).cast("bigint").alias("event_id"),
        "user_id",
        "ts",
        F.struct(
            F.col("value").alias("attr_value"),
            F.row_number().over(wv).cast("bigint").alias("version"),
        ).alias("ver"),
    )
    facts = e.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(None)
        .cast("struct<attr_value:double,version:bigint>")
        .alias("ver"),
    )
    # Change rows sort before facts at equal ts (non-null ver first),
    # matching the oracle's p.ts >= valid_from inclusivity.
    tagged = dim.union(facts)
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(),
            F.col("ver").isNull().cast("int").asc(),
            F.col("event_id").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    current = F.last("ver", ignorenulls=True).over(w)
    return (
        tagged.select(
            "event_id",
            "user_id",
            "ts",
            current.getField("attr_value").alias("attr_value"),
            current.getField("version").alias("version"),
        )
        .where(F.col("event_id").isNotNull())
    )


@query(
    "agg_winsorized_mean",
    oracle=f"""
    WITH bounds AS (
        SELECT event_type,
               round(CAST(quantile_cont(value, 0.05) AS DOUBLE), 6) AS lo,
               round(CAST(quantile_cont(value, 0.95) AS DOUBLE), 6) AS hi
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type
    )
    SELECT e.event_type, b.lo, b.hi,
           COUNT(*) AS n,
           {sql_davg("round(LEAST(GREATEST(e.value, b.lo), b.hi), 6)",
                     "wmean")}
    FROM events e
    JOIN bounds b ON b.event_type = e.event_type
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type, b.lo, b.hi
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of event value per event type: clamp to the
    exact [p5, p95] quantiles, then average — the robust-location
    estimator monitoring and quality-score pipelines use when a few
    outliers would swamp a plain mean (cf. trimmed/winsorized
    estimators in any robust-statistics text).

    Spark shape: pass 1 computes exact PERCENTILE bounds per group
    (one exchange on the group key), broadcast back (group-cardinality
    rows); pass 2 clamps and decimal-averages in the same exchange.
    Both engines linearly interpolate quantiles on the sorted values
    (Spark ``percentile`` = DuckDB ``quantile_cont``); bounds and the
    clamped values are rounded to 6dp before the decimal-sum mean so
    the result is bit-stable across engines and partitionings."""
    e = spark.table("events").where(F.col("value").isNotNull())
    bounds = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("hi"),
    )
    clamped = F.round(
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 6
    )
    return (
        e.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(F.count("*").alias("n"), davg(clamped, "wmean"))
    )


@query(
    "diff_metric_snapshots",
    oracle=f"""
    SELECT o_custkey,
           {sql_dsum("CASE WHEN year(o_orderdate) = 1997"
                     " THEN o_totalprice END", "rev_old")},
           {sql_dsum("CASE WHEN year(o_orderdate) = 1998"
                     " THEN o_totalprice END", "rev_new")},
           CASE
               WHEN COUNT(CASE WHEN year(o_orderdate) = 1998
                          THEN 1 END) = 0 THEN 'removed'
               WHEN COUNT(CASE WHEN year(o_orderdate) = 1997
                          THEN 1 END) = 0 THEN 'added'
               WHEN CAST(SUM(CAST(CASE WHEN year(o_orderdate) = 1997
                        THEN o_totalprice END AS DECIMAL(18,6)))
                        AS DOUBLE)
                    <> CAST(SUM(CAST(CASE WHEN year(o_orderdate) = 1998
                        THEN o_totalprice END AS DECIMAL(18,6)))
                        AS DOUBLE) THEN 'changed'
               ELSE 'same'
           END AS status,
           round(COALESCE(CAST(SUM(CAST(CASE WHEN year(o_orderdate)
                     = 1998 THEN o_totalprice END AS DECIMAL(18,6)))
                     AS DOUBLE), 0)
                 - COALESCE(CAST(SUM(CAST(CASE WHEN year(o_orderdate)
                     = 1997 THEN o_totalprice END AS DECIMAL(18,6)))
                     AS DOUBLE), 0), 6) AS delta
    FROM orders
    WHERE year(o_orderdate) IN (1997, 1998)
    GROUP BY o_custkey
    """,
)
def diff_metric_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff the per-customer revenue metric
    between two periods (1997 vs 1998) and classify every key as
    added / removed / changed / same with its delta — the
    data-diff/regression-report primitive behind pipeline deploys
    ("what did the new run change?") and CDC reconciliation.

    Spark shape: the naive form is a FULL OUTER join of two snapshot
    aggregates — two corpus scans plus a shuffle join. Expressed as
    ONE conditional aggregation over the union of both periods, it is
    a single scan, a single (key) exchange, and no join at all; the
    period filter pushes to the parquet scan. Sums are decimal-exact,
    so the 'changed'/'same' equality is deterministic, not a float
    comparison."""
    # Range predicate on the raw column (not year()) so the filter
    # pushes to the parquet scan; year() appears only post-scan.
    o = spark.table("orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
    )
    is_old = F.year("o_orderdate") == 1997
    is_new = F.year("o_orderdate") == 1998
    rev_old = F.sum(
        F.when(is_old, F.col("o_totalprice")).cast(DEC)
    ).cast("double")
    rev_new = F.sum(
        F.when(is_new, F.col("o_totalprice")).cast(DEC)
    ).cast("double")
    n_old = F.count(F.when(is_old, F.lit(1)))
    n_new = F.count(F.when(is_new, F.lit(1)))
    status = (
        F.when(n_new == 0, F.lit("removed"))
        .when(n_old == 0, F.lit("added"))
        .when(rev_old != rev_new, F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return o.groupBy("o_custkey").agg(
        rev_old.alias("rev_old"),
        rev_new.alias("rev_new"),
        status.alias("status"),
        F.round(
            F.coalesce(rev_new, F.lit(0.0))
            - F.coalesce(rev_old, F.lit(0.0)),
            6,
        ).alias("delta"),
    )


@query(
    "path_trigram_topk",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               list(event_type ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id
    ),
    tri AS (
        SELECT unnest([path[i] || '>' || path[i+1] || '>' || path[i+2]
                       for i in generate_series(1, len(path) - 2)])
                   AS trigram
        FROM seq WHERE len(path) >= 3
    )
    SELECT trigram, COUNT(*) AS n
    FROM tri
    GROUP BY trigram
    ORDER BY n DESC, trigram
    LIMIT 20
    """,
)
def path_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavioral path trigrams: each user's event-type journey
    (ordered by time) sliced into length-3 sub-paths, counted across
    the corpus — the "common paths" view behind product-analytics
    flow/sankey reports (complements funnel_conversion, which checks
    ONE prescribed path; this discovers which paths exist).

    Spark shape: one (user_id) exchange builds each journey via a
    sorted collect_list (shuffle carries only the event-type string +
    ordering keys; per-user history is bounded), trigrams explode
    map-side from the array, and the count is a partial-aggregated
    groupBy whose top-20 plans as TakeOrderedAndProject — no global
    sort. Tie-safe: ordered by (count DESC, trigram) so the LIMIT is
    deterministic cross-engine."""
    e = spark.table("events")
    path = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ),
        lambda s: s.event_type,
    )
    seq = e.groupBy("user_id").agg(path.alias("path"))
    trigrams = F.transform(
        F.sequence(F.lit(1), F.size("path") - 2),
        lambda i: F.concat_ws(
            ">",
            F.element_at("path", i),
            F.element_at("path", i + 1),
            F.element_at("path", i + 2),
        ),
    )
    return (
        seq.where(F.size("path") >= 3)
        .select(F.explode(trigrams).alias("trigram"))
        .groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(20)
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag AS flag, round(l_extendedprice, 6) AS price,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem
    ),
    cum AS (
        SELECT flag, price, wt,
               SUM(wt) OVER (PARTITION BY flag ORDER BY price
                             ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wt) OVER (PARTITION BY flag) AS tw
        FROM w
    ),
    hit AS (
        SELECT flag, price, tw,
               ROW_NUMBER() OVER (PARTITION BY flag ORDER BY price)
                   AS rn
        FROM cum WHERE 2 * cw >= tw
    )
    SELECT flag AS l_returnflag, price AS weighted_median_price,
           CAST(tw AS BIGINT) AS total_weight
    FROM hit WHERE rn = 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative quantity weight reaches half the total —
    the weighted-quantile aggregate (inventory-weighted typical price)
    that plain MEDIAN (each row weight 1) misstates whenever weights
    are skewed. Defined as the lower weighted median (an observed
    value, no interpolation), so the answer is exact cross-engine.

    Spark shape: one (flag) exchange carries running and total weight
    through the same Window; the first row crossing the half-weight
    threshold pops out of a row_number filter — integer weights
    end-to-end, no global sort (the order lives inside each flag
    partition)."""
    w = spark.table("lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round("l_extendedprice", 6).alias("price"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    win_cum = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    win_all = Window.partitionBy("flag")
    cum = w.select(
        "flag",
        "price",
        F.sum("wt").over(win_cum).alias("cw"),
        F.sum("wt").over(win_all).alias("tw"),
    )
    win_rn = Window.partitionBy("flag").orderBy("price")
    hit = cum.where(2 * F.col("cw") >= F.col("tw")).select(
        "flag", "price", "tw", F.row_number().over(win_rn).alias("rn")
    )
    return hit.where(F.col("rn") == 1).select(
        F.col("flag").alias("l_returnflag"),
        F.col("price").alias("weighted_median_price"),
        F.col("tw").cast("bigint").alias("total_weight"),
    )


@query(
    "path_regex_match",
    oracle=r"""
    WITH seq AS (
        SELECT user_id,
               array_to_string(list(
                   CASE event_type
                       WHEN 'signup' THEN 'S' WHEN 'view' THEN 'V'
                       WHEN 'click' THEN 'C' WHEN 'purchase' THEN 'P'
                       ELSE 'E'
                   END ORDER BY ts, event_id), '') AS path
        FROM events GROUP BY user_id
    )
    SELECT
        COUNT(*) AS n_users,
        COUNT(*) FILTER (regexp_matches(path, 'S[^E]*P'))
            AS clean_convert,
        COUNT(*) FILTER (regexp_matches(path, 'E{{2,}}'))
            AS error_burst,
        COUNT(*) FILTER (regexp_matches(path, 'P.*P'))
            AS repeat_buyer
    FROM seq
    """.replace("{{", "{").replace("}}", "}"),
)
def path_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over user journeys — the
    MATCH_RECOGNIZE-lite every funnel tool needs and Spark SQL lacks:
    encode each user's time-ordered event types as a one-char-per-event
    string and run ordinary regexes over it (clean conversion = signup
    then purchase with no error between; error burst = 2+ consecutive
    errors; repeat buyer = 2+ purchases). Arbitrary sequence patterns
    become regex literals — no per-pattern operator code.

    Spark shape: one (user_id) exchange builds the journey string via
    a sorted collect_list (same skeleton as path_trigram_topk; the
    shuffle carries one char per event), then every pattern is a
    codegen'd rlike over the metadata-sized per-user strings,
    all counted in a single aggregate."""
    e = spark.table("events")
    code = (
        F.when(F.col("event_type") == "signup", "S")
        .when(F.col("event_type") == "view", "V")
        .when(F.col("event_type") == "click", "C")
        .when(F.col("event_type") == "purchase", "P")
        .otherwise("E")
    )
    path = F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", code.alias("c"))
                )
            ),
            lambda s: s.c,
        ),
    )
    seq = e.groupBy("user_id").agg(path.alias("path"))
    return seq.agg(
        F.count("*").alias("n_users"),
        F.count(F.when(F.col("path").rlike("S[^E]*P"), 1)).alias(
            "clean_convert"
        ),
        F.count(F.when(F.col("path").rlike("E{2,}"), 1)).alias(
            "error_burst"
        ),
        F.count(F.when(F.col("path").rlike("P.*P"), 1)).alias(
            "repeat_buyer"
        ),
    )


_FUNNEL_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7 days in microseconds


@query(
    "funnel_window_depth",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               list(struct_pack(t := epoch_us(ts), e := event_type)
                    ORDER BY ts, event_id) AS arr
        FROM events GROUP BY user_id
    ),
    steps AS (
        SELECT user_id,
               list_min([x.t for x in arr if x.e = 'signup']) AS t1
        FROM seq
    ),
    s2 AS (
        SELECT seq.user_id, steps.t1,
               list_min([x.t for x in arr
                         if x.e = 'click' AND x.t >= steps.t1
                            AND x.t <= steps.t1 + {_FUNNEL_WINDOW_US}])
                   AS t2
        FROM seq JOIN steps USING (user_id)
    ),
    s3 AS (
        SELECT seq.user_id, s2.t1, s2.t2,
               list_min([x.t for x in arr
                         if x.e = 'purchase' AND x.t >= s2.t2
                            AND x.t <= s2.t1 + {_FUNNEL_WINDOW_US}])
                   AS t3
        FROM seq JOIN s2 USING (user_id)
    ),
    depth AS (
        SELECT user_id,
               CASE WHEN t3 IS NOT NULL THEN 3
                    WHEN t2 IS NOT NULL THEN 2
                    WHEN t1 IS NOT NULL THEN 1
                    ELSE 0 END AS funnel_depth
        FROM s3
    )
    SELECT funnel_depth, COUNT(*) AS n_users
    FROM depth GROUP BY funnel_depth
    """,
)
def funnel_window_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel depth (ClickHouse ``windowFunnel``): how far
    each user gets through signup -> click -> purchase where the WHOLE
    chain must complete within 7 days of the first step — then users
    per depth. The time bound is what funnel_conversion's unbounded
    chain can't express: a purchase six months after signup is not a
    conversion of that campaign.

    Spark shape: one (user_id) exchange builds each journey as a
    sorted (epoch, type) struct array; the chained earliest-step
    lookups are codegen'd FILTER + ARRAY_MIN over that array — zero
    further shuffles until the depth rollup (which is 4 groups). The
    epochs stay integer microseconds on both engines, so every
    threshold comparison is exact."""
    e = spark.table("events")
    arr = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_micros("ts").alias("t"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("e"),
                )
            )
        ),
        lambda s: F.struct(s.t.alias("t"), s.e.alias("e")),
    )
    seq = e.groupBy("user_id").agg(arr.alias("arr"))

    def earliest(arr_col, etype, lo=None, hi=None):
        cond = lambda x: (x.e == etype)  # noqa: E731
        if lo is not None and hi is not None:
            cond = lambda x: (  # noqa: E731
                (x.e == etype) & (x.t >= lo) & (x.t <= hi)
            )
        return F.array_min(
            F.transform(F.filter(arr_col, cond), lambda x: x.t)
        )

    staged = seq.select(
        "user_id", "arr", earliest(F.col("arr"), "signup").alias("t1")
    )
    staged = staged.select(
        "user_id",
        "arr",
        "t1",
        earliest(
            F.col("arr"),
            "click",
            F.col("t1"),
            F.col("t1") + _FUNNEL_WINDOW_US,
        ).alias("t2"),
    )
    staged = staged.select(
        "user_id",
        "t1",
        "t2",
        earliest(
            F.col("arr"),
            "purchase",
            F.col("t2"),
            F.col("t1") + _FUNNEL_WINDOW_US,
        ).alias("t3"),
    )
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        staged.select(depth.alias("funnel_depth"))
        .groupBy("funnel_depth")
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "agg_gini_revenue",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                    AS DOUBLE) AS rev
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT rev,
               ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rk,
               COUNT(*) OVER () AS n
        FROM per_cust
    )
    SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n_customers,
           round(
               2.0 * CAST(SUM(CAST(round(rk * rev, 6)
                              AS DECIMAL(28,6))) AS DOUBLE)
               / (ANY_VALUE(n)
                  * CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE))
               - (ANY_VALUE(n) + 1.0) / ANY_VALUE(n), 6) AS gini
    FROM ranked
    """,
)
def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the concentration
    diagnostic (how unequal is spend across the customer base; for
    corpora: how skewed is token mass across sources), via the ranked
    formula G = 2*Sum(i*x_i)/(n*Sum(x)) - (n+1)/n over ascending
    revenue.

    Scale note: ranking needs a global order, but over the CUSTOMER
    aggregate, not the fact table — the corpus collapses first
    (decimal sums), and the global window runs on group-cardinality
    rows (same trade as stats_ks_two_sample; swap in the two-phase
    prefix-sum pattern if even the key space outgrows a single
    window). Rank-weighted products round to 6dp and decimal-sum, so
    the statistic is bit-stable cross-engine; ties in revenue are
    broken by key, which leaves G unchanged (equal values commute in
    the rank sum)."""
    per_cust = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC))
            .cast("double")
            .alias("rev")
        )
    )
    w = Window.orderBy("rev", "o_custkey")
    ranked = per_cust.select(
        "rev",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    return ranked.agg(
        F.any_value("n").cast("bigint").alias("n_customers"),
        F.round(
            2.0
            * F.sum(
                F.round(F.col("rk") * F.col("rev"), 6).cast(
                    "decimal(28,6)"
                )
            ).cast("double")
            / (
                F.any_value("n")
                * F.sum(F.col("rev").cast(DEC)).cast("double")
            )
            - (F.any_value("n") + 1.0) / F.any_value("n"),
            6,
        ).alias("gini"),
    )


# Welch's t-test building blocks, shared between the Spark side and the
# oracle: sample means/variances from conditional decimal power sums.
_W_MEAN_A = "s_a / n_a"
_W_MEAN_B = "s_b / n_b"
_W_VAR_A = "(q_a - s_a * s_a / n_a) / (n_a - 1)"
_W_VAR_B = "(q_b - s_b * s_b / n_b) / (n_b - 1)"
_W_SE2 = f"(({_W_VAR_A}) / n_a + ({_W_VAR_B}) / n_b)"
_W_T = f"(({_W_MEAN_B}) - ({_W_MEAN_A})) / sqrt({_W_SE2})"
_W_DF = (
    f"({_W_SE2}) * ({_W_SE2}) / "
    f"((({_W_VAR_A}) / n_a) * (({_W_VAR_A}) / n_a) / (n_a - 1)"
    f" + (({_W_VAR_B}) / n_b) * (({_W_VAR_B}) / n_b) / (n_b - 1))"
)


@query(
    "stats_welch_ttest",
    # Means are exact-decimal / integer-count rationals (2dp inputs),
    # so their 6dp rounding can land exactly on a half boundary —
    # replayed with sql_jround; t and df divide by sqrt/squared terms
    # and are irrational, safe under plain rounding (still jround'ed
    # for uniformity).
    oracle=f"""
    WITH assigned AS (
        SELECT event_type, value,
               substr(md5(CAST(user_id AS VARCHAR) || ':welch'), 1, 1)
                   < '8' AS is_a
        FROM events
        WHERE value IS NOT NULL
    ),
    s AS (
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
        FROM assigned
        GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           {sql_jround(_W_MEAN_A, 6)} AS mean_a,
           {sql_jround(_W_MEAN_B, 6)} AS mean_b,
           {sql_jround(_W_T, 4)} AS t_stat,
           {sql_jround(_W_DF, 2)} AS welch_df,
           CASE WHEN {sql_jround(_W_DF, 2)} >= 100
                THEN abs({sql_jround(_W_T, 4)}) > 1.96
           END AS significant_5pct
    FROM s
    ORDER BY event_type
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test per event_type: the
    experiment readout that stays valid when variants have different
    variances or sizes (the equal-variance pooled test silently
    inflates false positives under variance imbalance — Welch is the
    default in every modern A/B platform). Users hash-assigned ~50/50
    by salted md5; emits group sizes, means, the t statistic, and the
    Welch-Satterthwaite effective degrees of freedom; at these df the
    normal 1.96 critical value is the 5% two-sided gate.

    Asymptotic-cutoff note (the ADVICE-r6 Granger pattern; guard added
    per VERDICT r7 ask #5 — the Wilcoxon treatment):
    `significant_5pct` uses the normal 1.96 gate ONLY when
    welch_df >= 100, where the exact t(welch_df) 0.975 quantile is
    within ~1.2% of 1.96 (1.9840 at df 100, 1.9799 at df 120,
    shrinking ~10x per SF decade; emitted welch_df is >= ~118 at even
    the smallest test SF, so tested behavior is unchanged). Below
    df 100 the verdict is withheld (NULL) rather than reported
    anti-conservatively — a consumer at tiny n gets the emitted t_stat
    and welch_df to gate against a t table, never an unconditioned
    asymptotic boolean.

    Scale shape: ONE scan, one aggregate per event_type producing six
    numbers of conditional decimal power-sum state — constant memory
    per group, bit-identical across engines and partitionings; the
    statistic and df are post-aggregation arithmetic on those six
    numbers."""
    e = spark.table("events").where(F.col("value").isNotNull())
    s = (
        e.select("event_type", "value", ab_arm(":welch").alias("is_a"))
        .groupBy("event_type")
        .agg(*arm_power_sums())
    )
    mean_a, mean_b, _, _ = arm_moments()
    t = welch_t()
    df = welch_satterthwaite_df()
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("welch_df"),
        F.when(
            F.round(df, 2) >= 100, F.abs(F.round(t, 4)) > 1.96
        ).alias("significant_5pct"),
    ).orderBy("event_type")


# Shapley subset lattice for the four touch channels (bit order:
# click=1, error=2, signup=4, view=8). Weight of a coalition S for a
# channel outside S is |S|! (k-1-|S|)! / k! with k = 4.
_SHAP_CHANNELS = (("click", 1), ("error", 2), ("signup", 4), ("view", 8))
_SHAP_W = {0: 6 / 24, 1: 2 / 24, 2: 2 / 24, 3: 6 / 24}
_SHAP_TERMS = tuple(
    (s, s | bit, name, _SHAP_W[bin(s).count("1")])
    for name, bit in _SHAP_CHANNELS
    for s in range(16)
    if not s & bit
)
_SHAP_TERMS_SQL = ", ".join(
    f"({s}, {sc}, '{name}', {w!r})" for s, sc, name, w in _SHAP_TERMS
)


@query(
    "attribution_shapley",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               SUM(DISTINCT CASE event_type
                   WHEN 'click' THEN 1 WHEN 'error' THEN 2
                   WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                   ELSE 0 END) AS mask,
               MAX(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    v AS (
        SELECT mask, COUNT(*) AS users,
               SUM(converted) * 1e0 / COUNT(*) AS v
        FROM per_user GROUP BY mask
    ),
    terms(s, sc, channel, w) AS (VALUES {_SHAP_TERMS_SQL}),
    contrib AS (
        SELECT t.channel,
               t.w * (COALESCE(v1.v, 0e0) - COALESCE(v0.v, 0e0))
                   AS marginal
        FROM terms t
        LEFT JOIN v v0 ON v0.mask = t.s
        LEFT JOIN v v1 ON v1.mask = t.sc
    )
    SELECT channel,
           {sql_jround(
               "CAST(SUM(CAST(round(marginal, 10) AS DECIMAL(38,10)))"
               "     AS DOUBLE)", 6)} AS shapley_value
    FROM contrib
    GROUP BY channel
    ORDER BY channel
    """,
)
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution: users collapse to their
    touched-channel coalition (a 4-bit mask over the non-purchase
    event types) with a converted flag; v(S) is the observed
    conversion rate of coalition S (0 for unobserved coalitions); each
    channel's Shapley value is the coalition-weighted average marginal
    lift sum_(S not containing c) |S|!(k-1-|S|)!/k! * (v(S+c) - v(S)).
    The principled attribution the heuristic keys approximate
    (attribution_last_touch, attribution_position_based) — exact here
    because the channel universe is small, which is the realistic
    marketing case.

    Scale shape: ONE scan collapses users to (mask, converted) with
    map-side partials; v(S) is an at-most-16-row table, and the whole
    Shapley computation is a constant 32-term literal join on that
    table. Per-term marginals are 10dp-decimal-pinned before the
    4-row sum, so the values are engine- and partition-order-exact."""
    e = spark.table("events")
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
        .otherwise(0)
    )
    per_user = e.groupBy("user_id").agg(
        F.sum_distinct(bit).alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    from powersql_spark.catalog import track_persist

    # v feeds both sides of the lattice join; persist the <=16-row
    # coalition table so the corpus is scanned exactly once.
    v = track_persist(
        per_user.groupBy("mask").agg(
            F.count("*").alias("users"),
            (F.sum("converted") * 1e0 / F.count("*")).alias("v"),
        )
    )
    terms = values_df(
        spark, list(_SHAP_TERMS), "s int, sc int, channel string, w double"
    )
    v0 = v.select(F.col("mask").alias("s"), F.col("v").alias("v0"))
    v1 = v.select(F.col("mask").alias("sc"), F.col("v").alias("v1"))
    contrib = (
        terms.join(F.broadcast(v0), "s", "left")
        .join(F.broadcast(v1), "sc", "left")
        .select(
            "channel",
            (
                F.col("w")
                * (
                    F.coalesce(F.col("v1"), F.lit(0.0))
                    - F.coalesce(F.col("v0"), F.lit(0.0))
                )
            ).alias("marginal"),
        )
    )
    return (
        contrib.groupBy("channel")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("marginal"), 10).cast("decimal(38,10)")
                ).cast("double"),
                6,
            ).alias("shapley_value")
        )
        .orderBy("channel")
    )


@query(
    "agg_hhi_concentration",
    oracle=f"""
    WITH rev AS (
        SELECT p.p_brand, l.l_suppkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand, l.l_suppkey
    ),
    tot AS (
        SELECT p_brand, SUM(CAST(r AS DECIMAL(28,2))) AS t,
               COUNT(*) AS n_suppliers
        FROM rev GROUP BY p_brand
    )
    SELECT r.p_brand,
           CAST(ANY_VALUE(t.n_suppliers) AS BIGINT) AS n_suppliers,
           {sql_jround(
               "CAST(SUM(CAST(round("
               "10000.0 * pow(r.r / CAST(t.t AS DOUBLE), 2), 8)"
               " AS DECIMAL(38,8))) AS DOUBLE)", 2)} AS hhi,
           CASE WHEN CAST(SUM(CAST(round(
                    10000.0 * pow(r.r / CAST(t.t AS DOUBLE), 2), 8)
                    AS DECIMAL(38,8))) AS DOUBLE) >= 2500
                    THEN 'high'
                WHEN CAST(SUM(CAST(round(
                    10000.0 * pow(r.r / CAST(t.t AS DOUBLE), 2), 8)
                    AS DECIMAL(38,8))) AS DOUBLE) >= 1500
                    THEN 'moderate'
                ELSE 'unconcentrated' END AS doj_class
    FROM rev r JOIN tot t ON t.p_brand = r.p_brand
    GROUP BY r.p_brand
    ORDER BY r.p_brand
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per brand:
    HHI = sum over suppliers of (10000 x revenue share)^2, classed by
    the DOJ merger-guideline bands (<1500 unconcentrated, 1500-2500
    moderate, >=2500 high) — the market-structure readout behind
    supplier-risk and single-source-dependency dashboards, completing
    the inequality family (agg_gini_revenue: person-level inequality;
    this: market-level concentration).

    Scale shape: one corpus collapse to (brand, supplier) revenue
    cells — bounded by the brand x supplier grid, not row count;
    brand totals are an aggregation of that cell table joined back
    brand-wise. Shares square exact decimal revenues; the HHI terms
    are 8dp-rounded and decimal-summed (order-independent)."""
    rev = (
        spark.table("lineitem")
        .join(
            spark.table("part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("r")
        )
    )
    tot = rev.groupBy("p_brand").agg(
        F.sum(F.col("r").cast("decimal(28,2)")).alias("t"),
        F.count("*").alias("n_suppliers"),
    )
    term = F.round(
        10000.0
        * F.pow(F.col("r") / F.col("t").cast("double"), 2),
        8,
    ).cast("decimal(38,8)")
    hhi = F.sum(term).cast("double")
    return (
        rev.join(
            F.broadcast(tot.withColumnRenamed("p_brand", "b")),
            F.col("p_brand") == F.col("b"),
        )
        .groupBy("p_brand")
        .agg(
            F.any_value("n_suppliers").cast("bigint").alias(
                "n_suppliers"
            ),
            F.round(hhi, 2).alias("hhi"),
            F.when(hhi >= 2500, "high")
            .when(hhi >= 1500, "moderate")
            .otherwise("unconcentrated")
            .alias("doj_class"),
        )
        .orderBy("p_brand")
    )


@query(
    "agg_trimmed_mean",
    oracle=f"""
    WITH bounds AS (
        SELECT event_type,
               round(CAST(quantile_cont(value, 0.10) AS DOUBLE), 6)
                   AS lo,
               round(CAST(quantile_cont(value, 0.90) AS DOUBLE), 6)
                   AS hi,
               COUNT(*) AS n_total
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type
    )
    SELECT e.event_type, b.lo, b.hi,
           CAST(ANY_VALUE(b.n_total) AS BIGINT) AS n_total,
           COUNT(*) AS n_kept,
           {sql_davg("round(e.value, 6)", "trimmed_mean")}
    FROM events e
    JOIN bounds b ON b.event_type = e.event_type
    WHERE e.value IS NOT NULL
      AND round(e.value, 6) BETWEEN b.lo AND b.hi
    GROUP BY e.event_type, b.lo, b.hi
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean of event value per event type:
    DROP everything outside the exact [p10, p90] quantiles, then
    average the interior — the harsher sibling of agg_winsorized_mean
    (which CLAMPS the tails instead of discarding them; the trimmed
    mean fully ignores outlier magnitude, the winsorized mean caps
    it). n_total vs n_kept makes the discarded mass auditable.

    Spark shape: pass 1 computes exact interpolated percentile bounds
    per group (one exchange), broadcast back; pass 2 filters and
    decimal-averages in the same exchange. Bounds and values are
    6dp-rounded before the comparison so the keep/drop decision — and
    therefore the mean — is bit-identical across engines."""
    e = spark.table("events").where(F.col("value").isNotNull())
    bounds = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.10)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.90)), 6).alias("hi"),
        F.count("*").alias("n_total"),
    )
    return (
        e.join(F.broadcast(bounds), "event_type")
        .where(F.round("value", 6).between(F.col("lo"), F.col("hi")))
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.any_value("n_total").cast("bigint").alias("n_total"),
            F.count("*").alias("n_kept"),
            davg(F.round(F.col("value"), 6), "trimmed_mean"),
        )
        .select(
            "event_type",
            "lo",
            "hi",
            "n_total",
            "n_kept",
            "trimmed_mean",
        )
    )
