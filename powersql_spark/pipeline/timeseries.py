"""Time-series downsampling (driver north-star extension; NOT in the
reference — its surface ends at SQL orchestration, src/execute.rs:101).

``ts_lttb_downsample`` implements Largest-Triangle-Three-Buckets
(Steinarsson, "Downsampling Time Series for Visual Representation",
2013) — the standard shape-preserving downsampler (Grafana, InfluxDB,
Timescale all ship it). LTTB is inherently sequential within one
series, so the Spark shape is: shuffle once by series key, then run
the per-series algorithm as a vectorized ``applyInPandas`` — the same
blueprint as any per-entity sequential algorithm at scale (the series
for one key must fit one task, which holds whenever a single entity's
history is bounded; a 100 TB corpus distributes across keys, not
within one).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powersql_spark.operators.common import DEC, dsum, sql_jround
from powersql_spark.registry import query

_LTTB_OUT = 24  # points kept per series
_EWMA_ALPHA = 0.3  # smoothing weight on the newest observation


def _lttb_oracle(n_out: int = _LTTB_OUT) -> str:
    """Exact DuckDB twin of the LTTB recursion, unrolled.

    Each kept point depends on the previously kept point, but the
    recursion depth is FIXED (n_out - 2 interior buckets), so it
    unrolls into chained CTEs s1..s{n_out-2}: s{b+1} is the argmax
    triangle-area point of bucket b given s{b}. Float arithmetic
    mirrors the numpy implementation operation-for-operation —
    epoch NANOSECONDS cast to DOUBLE (pandas delivers datetime64[ns]),
    bucket edges trunc(i * ((n-2)/nb)) + 1 exactly as
    np.linspace(...).astype(int64) computes them, first-maximum
    tie-break as (area DESC, idx ASC) — so selection is bit-for-bit
    except on exact float-area ties, which continuous values do not
    produce. Series with n <= n_out pass through, as in the Spark
    side."""
    nb = n_out - 2
    sels = []
    for b in range(nb):
        sels.append(
            f"""s{b + 1} AS MATERIALIZED (
        SELECT user_id, idx, ts, te, value FROM (
            SELECT p.user_id, p.idx, p.ts, p.te, p.value,
                   row_number() OVER (
                       PARTITION BY p.user_id
                       ORDER BY abs(
                           (s.te - a.avg_t) * (p.value - s.value)
                           - (s.te - p.te) * (a.avg_v - s.value)
                       ) DESC, p.idx ASC
                   ) AS rn
            FROM big p
            JOIN bk ON bk.user_id = p.user_id AND bk.b = {b}
                   AND p.idx >= bk.lo AND p.idx < bk.hi
            JOIN s{b} s ON s.user_id = p.user_id
            JOIN avgs a ON a.user_id = p.user_id AND a.b = {b}
        ) WHERE rn = 1
    )"""
        )
    ranked = "\n        UNION ALL ".join(
        f"SELECT user_id, ts, value, CAST({b + 1} AS BIGINT) AS pt_rank"
        f" FROM s{b + 1}"
        for b in range(nb)
    )
    return f"""
    WITH pts AS (
        SELECT user_id, ts, value,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) - 1 AS BIGINT) AS idx,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
    ),
    big AS MATERIALIZED (
        SELECT user_id, ts, value, idx, n,
               CAST(epoch_ns(ts) AS DOUBLE) AS te
        FROM pts WHERE n > {n_out}
    ),
    users AS MATERIALIZED (SELECT DISTINCT user_id, n FROM big),
    edges AS MATERIALIZED (
        SELECT u.user_id, i.i,
               CASE WHEN i.i = {nb} THEN u.n - 1
                    ELSE CAST(trunc(i.i * ((u.n - 2.0) / {nb}.0))
                              AS BIGINT) + 1
               END AS e
        FROM users u
        CROSS JOIN (SELECT unnest(range(0, {nb + 1})) AS i) i
    ),
    bk AS MATERIALIZED (
        SELECT e1.user_id, e1.i AS b, e1.e AS lo, e2.e AS hi
        FROM edges e1 JOIN edges e2
          ON e2.user_id = e1.user_id AND e2.i = e1.i + 1
        WHERE e1.i < {nb}
    ),
    nxt AS MATERIALIZED (
        SELECT e1.user_id, e1.i - 1 AS b, e1.e AS nlo,
               COALESCE(e2.e, u.n) AS nhi
        FROM edges e1
        LEFT JOIN edges e2
          ON e2.user_id = e1.user_id AND e2.i = e1.i + 1
        JOIN users u ON u.user_id = e1.user_id
        WHERE e1.i BETWEEN 1 AND {nb}
    ),
    avgs AS MATERIALIZED (
        SELECT x.user_id, x.b, AVG(p.te) AS avg_t, AVG(p.value) AS avg_v
        FROM nxt x JOIN big p
          ON p.user_id = x.user_id
         AND p.idx >= x.nlo AND p.idx < x.nhi
        GROUP BY x.user_id, x.b
    ),
    s0 AS MATERIALIZED (
        SELECT user_id, idx, ts, te, value FROM big WHERE idx = 0
    ),
    {",".join(sels)}
    SELECT user_id, ts, value, pt_rank FROM (
        SELECT user_id, ts, value, idx AS pt_rank
        FROM pts WHERE n <= {n_out}
        UNION ALL
        SELECT user_id, ts, value, CAST(0 AS BIGINT) FROM s0
        UNION ALL {ranked}
        UNION ALL
        SELECT user_id, ts, value, CAST({n_out - 1} AS BIGINT)
        FROM big WHERE idx = n - 1
    )
    """


def _lttb(ts: np.ndarray, val: np.ndarray, n_out: int) -> np.ndarray:
    """Indices kept by LTTB. Deterministic: np.argmax takes the FIRST
    maximal triangle area, so ties cannot reorder across runs or
    engines."""
    n = len(ts)
    if n_out >= n:
        return np.arange(n)
    # Bucket boundaries over the n-2 interior points.
    edges = np.linspace(0, n - 2, n_out - 1, dtype=np.int64) + 1
    edges[-1] = n - 1
    keep = [0]
    prev = 0
    for b in range(n_out - 2):
        lo, hi = edges[b], edges[b + 1]
        nxt_lo, nxt_hi = edges[b + 1], (
            edges[b + 2] if b + 2 < len(edges) else n
        )
        # Average of the NEXT bucket (the third triangle vertex).
        avg_t = ts[nxt_lo:nxt_hi].mean()
        avg_v = val[nxt_lo:nxt_hi].mean()
        t0, v0 = ts[prev], val[prev]
        area = np.abs(
            (t0 - avg_t) * (val[lo:hi] - v0)
            - (t0 - ts[lo:hi]) * (avg_v - v0)
        )
        prev = lo + int(np.argmax(area))
        keep.append(prev)
    keep.append(n - 1)
    return np.asarray(keep)


@query("ts_lttb_downsample", oracle=_lttb_oracle())
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape-preserving downsample of each user's event-value series to
    24 points via Largest-Triangle-Three-Buckets. Endpoints are always
    kept; each interior bucket keeps the point forming the largest
    triangle with the previously kept point and the next bucket's
    centroid — preserving peaks and troughs that uniform striding or
    per-bucket averaging would flatten.

    Scale shape: one hash shuffle on the series key + a partition-local
    sort, then ``mapInPandas`` walks each partition's contiguous groups
    in ONE Arrow exchange per partition — per-group ``applyInPandas``
    paid one Python round-trip per series (measured 4.4s vs sub-second
    at sf0.1's 1500 series, and series count is exactly what grows at
    100 TB). Series shorter than the target pass through unchanged.
    Semantic gates live in tests/test_timeseries.py (endpoint
    retention, monotone output, bucket-count, pass-through, peak
    retention vs uniform stride)."""
    # event_id rides along purely as the tie-break key: equal
    # timestamps need a total order or the kept points would depend
    # on shuffle arrival order.
    events = spark.table("events").select(
        "user_id", "ts", "value", "event_id"
    )
    n_parts = spark.sparkContext.defaultParallelism
    arranged = events.repartition(n_parts, "user_id").sortWithinPartitions(
        "user_id", "ts", "event_id"
    )

    def _downsample(batches):
        # Arrow batches can split a series; stitch the partition first.
        # Memory = one partition of (key, ts, value) rows — the same
        # bound any per-key sequential algorithm needs.
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        uid = pdf["user_id"].to_numpy()
        ts_i = pdf["ts"].astype("int64").to_numpy()
        val = pdf["value"].to_numpy(dtype=np.float64)
        starts = np.flatnonzero(np.r_[True, uid[1:] != uid[:-1]])
        bounds = np.append(starts, len(uid))
        keep_parts = []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            keep_parts.append(
                lo
                + _lttb(
                    ts_i[lo:hi].astype(np.float64), val[lo:hi], _LTTB_OUT
                )
            )
        keep = np.concatenate(keep_parts)
        out = pdf.iloc[keep][["user_id", "ts", "value"]].copy()
        out["pt_rank"] = np.concatenate(
            [np.arange(len(k), dtype=np.int64) for k in keep_parts]
        )
        yield out

    return arranged.mapInPandas(
        _downsample,
        schema="user_id bigint, ts timestamp, value double, pt_rank bigint",
    )


_EWMA_FOLD = (
    "list_reduce(vals, (acc, x) -> "
    f"acc * {1 - _EWMA_ALPHA} + {_EWMA_ALPHA} * x)"
)


@query(
    "ts_ewma",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               list(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS vals
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT user_id, ts, event_id, value,
           {sql_jround(_EWMA_FOLD, 6)} AS ewma
    FROM ordered
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact exponentially-weighted moving average per user series
    (y_0 = x_0; y_t = (1-a)*y_{t-1} + a*x_t, the pandas
    ``ewm(adjust=False)`` recursion) — the smoother behind monitoring
    baselines and feature pipelines. NOT in the reference (its surface
    ends at SQL orchestration, src/execute.rs:101).

    Spark shape: entirely JVM-side — a running ``collect_list`` frame
    over ONE (user_id) exchange, then an ``F.aggregate`` left-fold per
    row. Both engines fold the identical prefix in the identical
    order, so the raw doubles agree bit-for-bit; the subtlety is the
    FINAL 6dp rounding. With 2dp inputs and decimal coefficients the
    true EWMA value TERMINATES and can land exactly on a 6dp half
    boundary (e.g. 66.29137250). Spark's round() is half-up on the
    double's SHORTEST DECIMAL REPRESENTATION (BigDecimal.valueOf goes
    through Double.toString): it sees "66.2913725" -> ...373, but for
    a double whose accumulated error pushed it off the exact boundary
    it sees "74.17384249999999" -> ...842. DuckDB's numeric round()
    or a fixed-scale decimal cast each disagree on ONE of those two
    cases (6 and 15 flipped rows observed at sf0.1/sf0.01); the only
    faithful replay is DuckDB's own shortest-repr path — CAST the
    double to VARCHAR (also shortest-roundtrip), parse as
    DECIMAL(38,18), then round half-up. Green at every SF.

    Scale note: the running-frame fold is O(L^2) per series in time and
    frame memory, which is the right trade while per-entity history L
    is bounded (it is here: ~70 events/user at every SF — corpus growth
    adds USERS, not length). For unbounded L, the LTTB pattern above
    (one shuffle + ``mapInPandas`` walking each series once) computes
    the same recursion in O(L)."""
    e = spark.table("events").where(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vals = F.collect_list("value").over(w)
    a = F.lit(_EWMA_ALPHA)
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * (F.lit(1.0) - a) + a * x,
    )
    return e.select(
        "user_id", "ts", "event_id", "value",
        F.round(ewma, 6).alias("ewma"),
    )


@query(
    "ts_interpolate_linear",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    bounds AS (
        SELECT date_trunc('hour', min(ts)) AS h0,
               date_trunc('hour', max(ts)) AS h1
        FROM events
    ),
    spine AS (
        SELECT t.event_type, gs.h
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                        AS h FROM bounds) gs
    ),
    joined AS (
        SELECT s.event_type, s.h, hourly.total
        FROM spine s
        LEFT JOIN hourly
          ON hourly.event_type = s.event_type AND hourly.h = s.h
    ),
    bracketed AS (
        SELECT event_type, h, total,
            last_value(total IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS UNBOUNDED PRECEDING) AS prev_v,
            last_value(CASE WHEN total IS NOT NULL THEN h END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY h
                      ROWS UNBOUNDED PRECEDING) AS prev_t,
            first_value(total IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
            first_value(CASE WHEN total IS NOT NULL THEN h END IGNORE NULLS)
                OVER (PARTITION BY event_type ORDER BY h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                AS next_t
        FROM joined
    )
    SELECT event_type, h AS hour_ts, total,
           round(CASE
               WHEN total IS NOT NULL THEN total
               WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
               ELSE prev_v + (next_v - prev_v)
                    * CAST(epoch_us(h) - epoch_us(prev_t) AS DOUBLE)
                    / CAST(epoch_us(next_t) - epoch_us(prev_t) AS DOUBLE)
           END, 6) AS total_interp,
           total IS NULL AS is_gap
    FROM bracketed
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear time-series gap interpolation (the TimescaleDB
    ``interpolate`` / pandas ``interpolate(method='time')`` shape):
    dense hourly spine per event type; hours with no events get the
    time-weighted blend of the surrounding observations. Complements
    ``ts_gap_fill_locf`` — LOCF holds a staircase, this draws the line;
    leading/trailing gaps (no bracket on one side) stay NULL.

    Scale shape: identical to LOCF — the raw stream is touched once by
    the hourly rollup; the spine is (hours x types) metadata; the four
    bracket columns are two forward + two backward window passes over
    the SAME (event_type) partitioning, ONE exchange reused by all.
    Entirely JVM-side built-ins."""
    e = spark.table("events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(dsum("value", "total"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias(
            "h"
        )
    )
    spine = e.select("event_type").distinct().crossJoin(hours)
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_t = F.when(F.col("total").isNotNull(), F.col("h"))
    joined = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        "total",
        F.last("total", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(obs_t, ignorenulls=True).over(wb).alias("prev_t"),
        F.first("total", ignorenulls=True).over(wf).alias("next_v"),
        F.first(obs_t, ignorenulls=True).over(wf).alias("next_t"),
    )
    frac = (
        (F.unix_micros("h") - F.unix_micros("prev_t")).cast("double")
        / (F.unix_micros("next_t") - F.unix_micros("prev_t")).cast("double")
    )
    interp = (
        F.when(F.col("total").isNotNull(), F.col("total"))
        .when(
            F.col("prev_v").isNull() | F.col("next_v").isNull(),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
        )
    )
    return joined.select(
        "event_type",
        F.col("h").alias("hour_ts"),
        "total",
        F.round(interp, 6).alias("total_interp"),
        F.col("total").isNull().alias("is_gap"),
    )


_ZS_FRAME = 20  # trailing observations in the baseline window
_ZS_MIN_OBS = 10  # minimum baseline size before scoring
_ZS_CUT = 3.0  # |z| flag threshold


@query(
    "ts_anomaly_zscore",
    oracle=f"""
    WITH scored AS (
        -- exact decimal rolling moments (value is 2dp): AVG/STDDEV
        -- window aggregates accumulate doubles in engine-specific
        -- order, and at sf0.1 a z landed exactly on a 4dp rounding
        -- boundary (caught by the r13 full sf0.1 oracle sweep) — the
        -- bollinger-band sufficient-statistics discipline makes both
        -- engines derive mu/sd from identical exact sums instead.
        SELECT user_id, ts, event_id, value,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w
                    AS DOUBLE) AS s1,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                             AS DECIMAL(19,2))
                        * CAST(CAST(value AS DECIMAL(18,2))
                               AS DECIMAL(19,2))) OVER w
                    AS DOUBLE) AS s2,
               COUNT(value) OVER w AS n_base
        FROM events
        WHERE value IS NOT NULL
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN {_ZS_FRAME} PRECEDING AND 1 PRECEDING)
    ),
    zs AS (
        SELECT user_id, ts, event_id, value, n_base,
               s1 / n_base AS mu,
               sqrt((s2 - s1 * s1 / n_base) / (n_base - 1)) AS sd
        FROM scored WHERE TRUE
    )
    SELECT user_id, ts, event_id, value,
           {sql_jround(
               "CASE WHEN n_base >= " + str(_ZS_MIN_OBS)
               + " AND sd > 0 THEN (value - mu) / sd END", 4)} AS z,
           COALESCE(CASE WHEN n_base >= {_ZS_MIN_OBS} AND sd > 0
                 THEN abs((value - mu) / sd) >= {_ZS_CUT} END,
                 FALSE) AS is_anomaly
    FROM zs
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per user series: each value
    scored against the mean/stddev of its own TRAILING window
    (current row excluded — the anomaly must not contaminate its own
    baseline), flagged at |z| >= 3; unscored until the baseline has
    10 observations. The monitoring primitive behind every alerting
    pipeline.

    Scale shape: one (user_id) exchange; the exact-decimal rolling
    sums and count ride the SAME bounded ROWS frame, so Catalyst
    plans a single Window node with constant per-row state. The
    (ts, event_id) tie-break makes the frame content deterministic
    under shuffle reordering. mu/sd derive from EXACT decimal frame
    sums (value is 2dp), not engine-accumulated AVG/STDDEV — the r13
    full sf0.1 oracle sweep caught a z on a 4dp rounding boundary
    under the old float accumulation (the bollinger sufficient-
    statistics discipline, applied retroactively)."""
    e = spark.table("events").where(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_ZS_FRAME, -1)
    )
    v2 = F.col("value").cast("decimal(18,2)")
    v19 = v2.cast("decimal(19,2)")
    s1 = F.sum(v2).over(w).cast("double")
    s2 = F.sum(v19 * v19).over(w).cast("double")
    n_base = F.count("value").over(w)
    scored = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        s1.alias("s1"),
        s2.alias("s2"),
        n_base.alias("n_base"),
    )
    nb = F.col("n_base")
    mu = F.col("s1") / nb
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / nb) / (nb - 1)
    )
    z = F.when(
        (nb >= _ZS_MIN_OBS) & (sd > 0),
        (F.col("value") - mu) / sd,
    )
    return scored.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.round(z, 4).alias("z"),
        F.coalesce(
            F.when(
                (nb >= _ZS_MIN_OBS) & (sd > 0),
                F.abs((F.col("value") - mu) / sd) >= _ZS_CUT,
            ),
            F.lit(False),
        ).alias("is_anomaly"),
    )


_HOLT_ALPHA = 0.5  # level smoothing
_HOLT_BETA = 0.3  # trend smoothing


@query(
    "ts_holt_linear",
    # The oracle steps the recursion as a RECURSIVE CTE over ranked
    # observations (all series advance one step per recursion round) —
    # deliberately NOT a list_reduce fold: DuckDB 1.0's list_reduce
    # mis-evaluates struct accumulators (the second field's expression
    # sees a half-updated acc — reproduced: acc.l read as the mean of
    # the old and new level), and a per-step CTE is a genuinely
    # different evaluation strategy from Spark's running-frame fold
    # anyway.
    oracle=f"""
    WITH RECURSIVE obs AS (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE value IS NOT NULL
    ),
    state AS (
        SELECT user_id, rn, ts, event_id, value,
               value AS l, CAST(NULL AS DOUBLE) AS b
        FROM obs WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn, o.ts, o.event_id, o.value,
               CASE WHEN s.b IS NULL
                    THEN {_HOLT_ALPHA} * o.value
                         + {1 - _HOLT_ALPHA} * (s.l + (o.value - s.l))
                    ELSE {_HOLT_ALPHA} * o.value
                         + {1 - _HOLT_ALPHA} * (s.l + s.b) END AS l,
               CASE WHEN s.b IS NULL
                    THEN {_HOLT_BETA} * (({_HOLT_ALPHA} * o.value
                         + {1 - _HOLT_ALPHA} * (s.l + (o.value - s.l)))
                         - s.l)
                         + {1 - _HOLT_BETA} * (o.value - s.l)
                    ELSE {_HOLT_BETA} * (({_HOLT_ALPHA} * o.value
                         + {1 - _HOLT_ALPHA} * (s.l + s.b)) - s.l)
                         + {1 - _HOLT_BETA} * s.b END AS b
        FROM state s JOIN obs o
          ON o.user_id = s.user_id AND o.rn = s.rn + 1
    )
    SELECT user_id, ts, event_id, value,
           floor(l * 10000) / 10000 AS level,
           floor(COALESCE(b, 0.0) * 10000) / 10000 AS trend,
           floor((l + COALESCE(b, 0.0)) * 10000) / 10000 AS forecast_next
    FROM state
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing per user series:
    level l_t = a*x_t + (1-a)(l_{t-1} + b_{t-1}), trend
    b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}, initialized
    l_1 = x_1, b_2 = x_2 - x_1; one-step-ahead forecast = l + b.
    Extends ``ts_ewma`` with trend awareness — the capacity-planning
    smoother (ewma lags a ramping series, Holt tracks it).

    Spark shape: the same running-frame left-fold as EWMA, but with a
    two-field STRUCT accumulator — the general pattern for any
    fixed-state per-series recursion in pure JVM expressions (state
    rides a struct; both engines fold identical elements in identical
    order, so doubles agree bit-for-bit before the guard rounding).
    A NULL trend marks the not-yet-initialized first element, folded
    exactly the same way on both engines. Same O(L^2)-per-series
    bound and the same mapInPandas escape hatch as EWMA for unbounded
    histories."""
    e = spark.table("events").where(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    elem = F.struct(
        F.col("value").alias("l"),
        F.lit(None).cast("double").alias("b"),
    )
    obs = F.collect_list(elem).over(w)
    a = F.lit(_HOLT_ALPHA)
    bt = F.lit(_HOLT_BETA)
    one = F.lit(1.0)

    def step(acc, el):
        # First fold step (b uninitialized): b0 := x2 - x1.
        b0 = el.getField("l") - acc.getField("l")
        l_init = a * el.getField("l") + (one - a) * (
            acc.getField("l") + b0
        )
        init = F.struct(
            l_init.alias("l"),
            (
                bt * (l_init - acc.getField("l")) + (one - bt) * b0
            ).alias("b"),
        )
        l_nxt = a * el.getField("l") + (one - a) * (
            acc.getField("l") + acc.getField("b")
        )
        nxt = F.struct(
            l_nxt.alias("l"),
            (
                bt * (l_nxt - acc.getField("l"))
                + (one - bt) * acc.getField("b")
            ).alias("b"),
        )
        return F.when(acc.getField("b").isNull(), init).otherwise(nxt)

    st = F.aggregate(
        F.slice(obs, 2, F.greatest(F.size(obs) - 1, F.lit(0))),
        F.element_at(obs, 1),
        step,
    )
    return e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        # FLOOR guard, not round(): both engines fold bit-identical
        # doubles (verified), but alpha=0.5 keeps values dyadic and
        # several land EXACTLY on decimal rounding boundaries, where
        # Spark's BigDecimal-exact HALF_UP and DuckDB's scaled-float
        # round() disagree. floor(x*1e4)/1e4 is the same fp ops on the
        # same doubles on both sides — no boundary to disagree about.
        (F.floor(st.getField("l") * 10000) / 10000).alias("level"),
        (
            F.floor(F.coalesce(st.getField("b"), F.lit(0.0)) * 10000)
            / 10000
        ).alias("trend"),
        (
            F.floor(
                (
                    st.getField("l")
                    + F.coalesce(st.getField("b"), F.lit(0.0))
                )
                * 10000
            )
            / 10000
        ).alias("forecast_next"),
    )


_CUSUM_K = 0.5  # slack, in per-series stddev units
_CUSUM_H = 4.0  # alarm threshold, in per-series stddev units


@query(
    "ts_changepoint_cusum",
    oracle=f"""
    WITH base AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE value IS NOT NULL
    ),
    stats AS (
        SELECT user_id,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(28,10)))
                    AS DOUBLE) AS sxx
        FROM base GROUP BY user_id
    ),
    dev AS (
        SELECT b.user_id, b.ts, b.event_id, b.value,
               b.value - (s.sx / s.n)
                 - {_CUSUM_K} * sqrt(GREATEST(
                       s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n), 0))
                   AS d,
               {_CUSUM_H} * sqrt(GREATEST(
                       s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n), 0))
                   AS h
        FROM base b JOIN stats s USING (user_id)
    ),
    runs AS (
        SELECT user_id, ts, event_id, value, h,
               list_prepend(CAST(0.0 AS DOUBLE),
                   list(d) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING)) AS devs
        FROM dev
    )
    SELECT user_id, ts, event_id, value,
           floor(list_reduce(devs,
               (acc, x) -> GREATEST(CAST(0.0 AS DOUBLE), acc + x))
               * 10000) / 10000 AS cusum,
           list_reduce(devs,
               (acc, x) -> GREATEST(CAST(0.0 AS DOUBLE), acc + x)) > h
               AS alarm
    FROM runs
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection per user series (Page
    1954): s_t = max(0, s_{t-1} + (x_t - mu - k·sigma)), alarm when
    s_t exceeds h·sigma — the classic drift detector that catches
    sustained small shifts a per-point z-score never flags. Completes
    the monitoring family (EWMA smoothing, rolling z-score spikes,
    Holt trend, CUSUM drift).

    Spark shape: per-series mu/sigma from DECIMAL sufficient sums
    (order-independent, so both engines see identical doubles), then
    the same running-frame scalar left-fold as EWMA with a prepended
    0.0 so the clamp applies from the first element (list_reduce
    seeds with the first element; the sentinel makes that seed the
    mathematical s_0 = 0 on both engines). Stats ride a window over
    the SAME (user_id) exchange the fold uses — one shuffle total.
    FLOOR guard at 4dp (see ts_holt_linear for why not round())."""
    e = spark.table("events").where(F.col("value").isNotNull())
    wp = Window.partitionBy("user_id")
    n = F.count("value").over(wp)
    sx = F.sum(F.col("value").cast("decimal(28,10)")).over(wp).cast(
        "double"
    )
    sxx = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,10)"))
        .over(wp)
        .cast("double")
    )
    mu = sx / n
    sd = F.sqrt(F.greatest(sxx / n - mu * mu, F.lit(0.0)))
    d = F.col("value") - mu - F.lit(_CUSUM_K) * sd
    h = F.lit(_CUSUM_H) * sd
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_dev = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        d.alias("d"),
        h.alias("h"),
    )
    staged = with_dev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.concat(
            F.array(F.lit(0.0)), F.collect_list("d").over(wf)
        ).alias("devs"),
        "h",
    )
    cusum = F.aggregate(
        F.slice(
            F.col("devs"), 2, F.greatest(F.size("devs") - 1, F.lit(0))
        ),
        F.element_at(F.col("devs"), 1),
        lambda acc, x: F.greatest(F.lit(0.0), acc + x),
    )
    return staged.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        (F.floor(cusum * 10000) / 10000).alias("cusum"),
        (cusum > F.col("h")).alias("alarm"),
    )


@query(
    "ts_autocorr",
    oracle="""
    WITH v AS (
        SELECT user_id, value,
               lag(value, 1) OVER w AS l1,
               lag(value, 2) OVER w AS l2
        FROM events
        WHERE value IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           round(corr(value, l1), 4) AS acf1,
           round(corr(value, l2), 4) AS acf2,
           COUNT(*) AS n_obs
    FROM v
    GROUP BY user_id
    HAVING COUNT(l2) >= 3
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/lag-2 autocorrelation per user series — the seasonality /
    momentum screen run before fitting any forecaster (a near-zero ACF
    says the series is noise; EWMA/Holt upstream assume otherwise).
    NOT in the reference (surface ends at SQL orchestration,
    src/execute.rs:101).

    Spark shape: one (user_id) exchange shared by the lag window and
    the grouped CORR — Catalyst plans a single sort-based window then a
    partial-aggregated group, no second shuffle. Pearson correlation of
    a bounded per-user series (~70 points) rounds to 4dp, the same
    cross-engine guard agg_corr uses. Series too short for a lag-2
    pair (< 3 complete pairs) are dropped in both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "value",
            F.lag("value", 1).over(w).alias("l1"),
            F.lag("value", 2).over(w).alias("l2"),
        )
    )
    return (
        v.groupBy("user_id")
        .agg(
            F.round(F.corr("value", "l1"), 4).alias("acf1"),
            F.round(F.corr("value", "l2"), 4).alias("acf2"),
            F.count("*").alias("n_obs"),
            F.count("l2").alias("_pairs"),
        )
        .where(F.col("_pairs") >= 3)
        .drop("_pairs")
    )


@query(
    "ts_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS daily
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    tr AS (
        SELECT event_type, day, daily,
               CASE WHEN COUNT(*) OVER w = 7 THEN
                   round(CAST(SUM(CAST(daily AS DECIMAL(18,6))) OVER w
                              AS DOUBLE) / 7, 6)
               END AS trend
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
        SELECT event_type, isodow(day) AS dow,
               round(CAST(SUM(CAST(daily - trend AS DECIMAL(18,6)))
                          AS DOUBLE) / COUNT(*), 6) AS seasonal
        FROM tr
        WHERE trend IS NOT NULL
        GROUP BY event_type, isodow(day)
    )
    SELECT tr.event_type, tr.day, tr.daily, tr.trend,
           seas.seasonal,
           round(tr.daily - tr.trend - seas.seasonal, 6) AS remainder
    FROM tr
    JOIN seas ON seas.event_type = tr.event_type
              AND seas.dow = isodow(tr.day)
    WHERE tr.trend IS NOT NULL
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the per-event-type
    daily revenue series: trend = centered 7-day moving average (rows
    frame, edges dropped), seasonal = mean detrended value per ISO
    weekday (uncentered indices), remainder = what's left. The
    monitoring/forecasting preprocessing step (statsmodels
    ``seasonal_decompose``, period=7) as one declarative plan.

    Scale shape: the fact scan collapses to an O(types x days) daily
    aggregate in one exchange — everything downstream (window MA,
    weekday means, the seasonal join) runs on that metadata-sized
    series table, and the 35-row seasonal index table is broadcast
    back. Every aggregate is decimal-summed and rounded to 6dp so
    trend/seasonal/remainder are bit-identical across engines and
    partition counts (see registry module docstring)."""
    daily = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(dsum("value", "daily"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trend = F.when(
        F.count("*").over(w) == 7,
        F.round(
            F.sum(F.col("daily").cast(DEC)).over(w).cast("double") / 7,
            6,
        ),
    )
    from powersql_spark.catalog import track_persist

    # `tr` feeds BOTH the seasonal-index aggregate and the final join;
    # uncached the plan would embed the fact-sized daily aggregation
    # once per branch. It is O(types x days) — persist it so the
    # corpus is scanned exactly once (same lesson as the pagerank
    # transition matrix).
    tr = track_persist(
        daily.select(
            "event_type", "day", "daily", trend.alias("trend")
        ).where(F.col("trend").isNotNull())
    )
    # Spark weekday(): 0=Monday — +1 matches DuckDB's isodow.
    dow = (F.weekday("day") + 1).alias("dow")
    seas = tr.groupBy("event_type", dow).agg(
        F.round(
            F.sum((F.col("daily") - F.col("trend")).cast(DEC)).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("seasonal")
    )
    return (
        tr.withColumn("dow", F.weekday("day") + 1)
        .join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "daily",
            "trend",
            "seasonal",
            F.round(
                F.col("daily") - F.col("trend") - F.col("seasonal"), 6
            ).alias("remainder"),
        )
    )


@query(
    "ts_theilsen_slope",
    oracle="""
    WITH v AS (
        SELECT user_id, ts, value FROM events
        WHERE value IS NOT NULL
    ),
    pairs AS (
        SELECT a.user_id,
               round((b.value - a.value)
                     / ((epoch_us(b.ts) - epoch_us(a.ts)) / 3600e6),
                     6) AS slope
        FROM v a JOIN v b
            ON b.user_id = a.user_id AND a.ts < b.ts
    ),
    ranked AS (
        SELECT user_id, slope,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY slope) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_pairs
        FROM pairs
    )
    SELECT user_id, slope AS ts_slope, n_pairs
    FROM ranked
    WHERE rn = (n_pairs + 1) // 2
    """,
)
def ts_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend estimator per user series: the median of all
    pairwise slopes (value units per hour) — the robust alternative to
    the OLS slope in agg_corr (a single wild outlier moves OLS
    arbitrarily; Theil-Sen tolerates ~29% contamination). The median
    is the LOWER-median order statistic, i.e. an actual observed
    slope: interpolation-free, so the result is cross-engine
    bit-identical (engines disagree in the last ulp when averaging the
    two middle elements, which a 6dp round can surface).

    Scale shape: the pairwise stage is an EQUI-join on the series key
    with a timestamp inequality — O(L^2) per entity, the estimator's
    inherent cost, which is the right trade exactly when per-entity
    history L is bounded (~70 events/user here at every SF; the corpus
    grows in USERS). The median is then ONE aggregate over the same
    (user_id) partitioning the join produced — no extra exchange.
    Equal-timestamp pairs are excluded (slope undefined); slopes round
    to 6dp before ranking so ordering sees identical inputs."""
    v = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .select("user_id", "ts", "value")
    )
    hours = (
        F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))
    ) / F.lit(3600e6)
    # Shuffle the INPUT rows by user_id once and generate pairs after:
    # the median window below needs (user_id) hash partitioning, and a
    # shuffled self-join on user_id provides it for free — the
    # exchange carries only the L input rows (and Spark reuses the ONE
    # exchange for both join sides). Left to the planner, the small
    # side broadcasts at bench SFs, the join output carries NO
    # partitioning, and the window re-shuffles all O(L^2) PAIR rows
    # instead (profiled: a 37.9 MB pair exchange vs 1.85 MB of input
    # rows; guide §2.4 "window partitioned like the join needs no
    # second shuffle"). The explicit cores-derived partition count
    # matters: this stage's work is O(L^2) per input byte, so AQE's
    # byte-based coalescing (which only sees the ~MB input exchange)
    # would collapse the pair-generating stage to a handful of tasks;
    # a pinned count scales with the cluster, not the input bytes.
    # SHUFFLE_HASH keeps the co-partitioned join sort-free.
    n_parts = v.sparkSession.sparkContext.defaultParallelism
    vp = v.repartition(n_parts, "user_id")
    a, b = vp.alias("a"), vp.alias("b")
    pairs = a.join(
        b.hint("shuffle_hash"),
        (F.col("b.user_id") == F.col("a.user_id"))
        & (F.col("a.ts") < F.col("b.ts")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.round((F.col("b.value") - F.col("a.value")) / hours, 6).alias(
            "slope"
        ),
    )
    # Lower median as an AGGREGATE (sort_array over the collected
    # slopes), not a rank window (r14 wave 9): the window form ran TWO
    # WindowExec passes over the O(L^2) pair rows (row_number needs an
    # orderBy sort, count(*) a second unordered frame), each buffering
    # the partition; one ObjectHashAggregate + a native sort_array —
    # both codegen-adjacent expressions, NO interpreted HOF lambdas
    # (the r13 rejected rewrite moved the slope ARITHMETIC into
    # lambdas; here the join still generates pairs codegen'd) — does
    # the same selection in one pass. element_at(sorted, (n+1) div 2)
    # is the identical lower-median order statistic whatever order
    # collect_list saw (verified tuple-identical, 1500 rows;
    # interleaved A/B 0.493 -> 0.383 s median). Per-group state is the
    # L^2 slope array: the same per-entity SIZE as the window's sort
    # buffer, but not the same failure mode. The window's sort buffer
    # spills to disk; this collect_list array is an aggregation buffer
    # held whole in executor memory and cannot spill, so one entity
    # with an unbounded history can OOM a task where the window form
    # would have spilled. Safe while per-entity histories stay bounded.
    agg = pairs.groupBy("user_id").agg(
        F.sort_array(F.collect_list("slope")).alias("arr")
    )
    n = F.size("arr")
    return agg.select(
        "user_id",
        F.element_at(
            "arr", F.floor((n + 1) / 2).cast("int")
        ).alias("ts_slope"),
        n.cast("bigint").alias("n_pairs"),
    )


@query(
    "ts_time_weighted_avg",
    oracle="""
    WITH v AS (
        SELECT user_id, CAST(ts AS DATE) AS day, ts, value,
               lead(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts, event_id) AS nxt
        FROM events
        WHERE value IS NOT NULL
    ),
    seg AS (
        SELECT user_id, day, value,
               (epoch_us(nxt) - epoch_us(ts)) / 1e6 AS dur
        FROM v WHERE nxt IS NOT NULL
    )
    SELECT user_id, day,
           round(CAST(SUM(CAST(round(value * dur, 6) AS DECIMAL(18,6)))
                      AS DOUBLE)
                 / CAST(SUM(CAST(round(dur, 6) AS DECIMAL(18,6)))
                        AS DOUBLE), 6) AS twavg,
           COUNT(*) AS n_segments
    FROM seg
    GROUP BY user_id, day
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user per day (the TimescaleDB
    ``time_weight('LOCF', ...)`` aggregate): each observation is held
    until the next one, so its weight is the duration it was current —
    the correct average for irregularly sampled series (a plain AVG
    overweights bursts of samples). Last observation of the day has no
    successor and carries no weight (days with one sample drop).

    Spark shape: the lead() window and the (user, day) aggregate share
    ONE exchange — the window partitions on (user_id, day) and the
    groupBy reuses that partitioning, no second shuffle. Weighted sums
    and total durations round to 6dp and decimal-sum, so the ratio is
    bit-stable cross-engine."""
    # Project `day` BEFORE the window so the window partition and the
    # final groupBy reference the same attribute — Catalyst then reuses
    # one (user_id, day) exchange for both (partitioning propagation
    # does not see through an alias of the raw cast expression).
    base = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            "ts",
            "event_id",
            "value",
        )
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    v = base.select(
        "user_id",
        "day",
        "ts",
        "value",
        F.lead("ts").over(w).alias("nxt"),
    )
    dur = (
        F.unix_micros(F.col("nxt")) - F.unix_micros(F.col("ts"))
    ) / F.lit(1e6)
    seg = v.where(F.col("nxt").isNotNull()).select(
        "user_id", "day", "value", dur.alias("dur")
    )
    return seg.groupBy("user_id", "day").agg(
        F.round(
            F.sum(
                F.round(F.col("value") * F.col("dur"), 6).cast(DEC)
            ).cast("double")
            / F.sum(F.round(F.col("dur"), 6).cast(DEC)).cast(
                "double"
            ),
            6,
        ).alias("twavg"),
        F.count("*").alias("n_segments"),
    )


_M4_BUCKETS = 24  # pixel columns per series


@query(
    "ts_downsample_m4",
    oracle=f"""
    WITH s AS (
        SELECT user_id, ts, event_id, value,
               ntile({_M4_BUCKETS}) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS bkt
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT user_id, bkt,
           min(value) AS v_min,
           max(value) AS v_max,
           min_by(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                         || lpad(CAST(event_id AS VARCHAR), 12, '0'))
               AS v_first,
           max_by(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                         || lpad(CAST(event_id AS VARCHAR), 12, '0'))
               AS v_last,
           COUNT(*) AS n_points
    FROM s
    GROUP BY user_id, bkt
    """,
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per series, split
    the time axis into {_M4_BUCKETS} pixel-column buckets and keep
    each bucket's min / max / first / last — the error-free
    downsampler for line visualization (any pixel-perfect rendering
    needs exactly these four per column; LTTB above is the
    shape-PRESERVING alternative when fewer points must survive).

    Spark shape: NTILE and the grouped MIN/MAX/MIN_BY/MAX_BY share
    one (user_id) exchange — the aggregate reuses the window's
    partitioning. first/last tie-break on (epoch, event_id), so
    equal-timestamp points cannot flip the answer between engines or
    partitionings."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            "value",
            F.ntile(_M4_BUCKETS).over(w).alias("bkt"),
        )
    )
    key = F.struct(F.unix_micros("ts"), F.col("event_id"))
    return s.groupBy("user_id", "bkt").agg(
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.min_by("value", key).alias("v_first"),
        F.max_by("value", key).alias("v_last"),
        F.count("*").alias("n_points"),
    )


@query(
    "ts_max_drawdown",
    oracle="""
    WITH v AS (
        SELECT user_id, ts, event_id, value,
               MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS peak
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT user_id,
           round(MIN(value - peak), 6) AS max_drawdown,
           round(MAX(peak), 6) AS peak_value,
           COUNT(*) AS n_obs
    FROM v
    GROUP BY user_id
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user series: the deepest drop below the
    running peak (finance's canonical risk statistic; for metrics
    pipelines, the worst regression from a high-water mark). Running
    max + one grouped MIN — both on the same (user_id) exchange.

    Exact by construction: the running peak is an order statistic (no
    summation), the drawdown a single subtraction — rounding only
    guards the final emit."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "value",
            F.max("value").over(w).alias("peak"),
        )
    )
    return v.groupBy("user_id").agg(
        F.round(F.min(F.col("value") - F.col("peak")), 6).alias(
            "max_drawdown"
        ),
        F.round(F.max("peak"), 6).alias("peak_value"),
        F.count("*").alias("n_obs"),
    )


_Z = sql_jround("0.6745 * (dev.value - dev.med) / mad.mad", 4)


@query(
    "ts_anomaly_mad",
    oracle=f"""
    WITH v AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE value IS NOT NULL
    ),
    med AS (
        SELECT user_id, value AS med FROM (
            SELECT user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY value) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM v
        ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT v.user_id, v.ts, v.event_id, v.value, med.med,
               abs(v.value - med.med) AS d
        FROM v JOIN med USING (user_id)
    ),
    mad AS (
        SELECT user_id, d AS mad FROM (
            SELECT user_id, d,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY d) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM dev
        ) WHERE rn = (n + 1) // 2
    )
    SELECT dev.user_id, dev.ts, dev.event_id, dev.value,
           round(dev.med, 6) AS med,
           round(mad.mad, 6) AS mad,
           CASE WHEN mad.mad > 0 THEN
               {_Z} END AS robust_z,
           CASE WHEN mad.mad > 0 THEN abs({_Z}) > 3.5
           ELSE FALSE END AS is_outlier
    FROM dev JOIN mad USING (user_id)
    """,
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series anomaly flags via median/MAD (the
    Iglewicz-Hoaglin modified z-score, |0.6745*(x-med)/MAD| > 3.5) —
    the outlier-resistant complement to ts_anomaly_zscore: one wild
    spike inflates a mean/std baseline enough to hide a second spike,
    while the median/MAD baseline doesn't move. Medians are LOWER
    order statistics (the Theil-Sen trick), so every number here is
    an observed value or a single division — exactly deterministic
    cross-engine, no interpolation.

    Scale shape: two median AGGREGATES on the same (user_id)
    partitioning (values, then absolute deviations) produce
    group-cardinality median tables that join back on the series key;
    per-entity history is bounded, the corpus grows in users, and
    every stage is keyed on user_id."""
    v = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )

    # Lower median as ONE aggregate per pass (the r14 wave-9 Theil-Sen
    # form): sort_array(collect_list(col)) + element_at at (n+1) div 2
    # selects the identical order statistic the old
    # row_number/count(*) window pair did, without the two WindowExec
    # sort+buffer passes per median. Inputs are non-null by
    # construction (value filtered; d = abs over non-nulls), so
    # collect_list's null-dropping cannot diverge from the window's
    # null ranking. Per-group state is the bounded per-entity history,
    # held in an aggregation buffer that, unlike the window's sort
    # buffer, cannot spill.
    def lower_median(df, col, out):
        agg = df.groupBy("user_id").agg(
            F.sort_array(F.collect_list(col)).alias("arr")
        )
        n = F.size("arr")
        return agg.select(
            "user_id",
            F.element_at(
                "arr", F.floor((n + 1) / 2).cast("int")
            ).alias(out),
        )

    med = lower_median(v, "value", "med")
    dev = v.join(med, "user_id").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("d"),
    )
    mad = lower_median(dev.select("user_id", "d"), "d", "mad")
    z = F.round(
        0.6745 * (F.col("value") - F.col("med")) / F.col("mad"), 4
    )
    return dev.join(mad, "user_id").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        F.when(F.col("mad") > 0, z).alias("robust_z"),
        F.coalesce(
            F.when(F.col("mad") > 0, F.abs(z) > 3.5), F.lit(False)
        ).alias("is_outlier"),
    )


@query(
    "ts_derivative",
    # The quotient divides a 2dp value delta by an integer second gap —
    # a terminating-decimal-capable rational at 6dp — so the rounding
    # is replayed with sql_jround (cf. README "Correctness").
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               lag(value) OVER w AS prev_v,
               lag(ts) OVER w AS prev_ts
        FROM events
        WHERE value IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts, event_id, value,
           CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us,
           {sql_jround(
               "(value - prev_v) * 1000000.0"
               " / (epoch_us(ts) - epoch_us(prev_ts))", 6
           )} AS rate_per_sec
    FROM ordered
    WHERE prev_ts IS NOT NULL
    """,
)
def ts_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series first derivative: (value - lag(value)) / elapsed
    seconds between consecutive observations — the rate-of-change
    primitive behind counter graphs, spike alerts, and trend features
    (PromQL's rate/deriv, Timescale's interpolated_rate). Gaps ride
    along in microseconds so a consumer can mask rates over
    suspiciously long gaps.

    Scale shape: one (user_id) hash exchange shared by both lag
    windows, then pure map-side arithmetic — the minimal stateful
    time-series plan. Division stays in microsecond integers times a
    1e6 scale so both engines divide identical doubles."""
    e = spark.table("events").where(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_v"),
        F.lag("ts").over(w).alias("prev_ts"),
    ).where(F.col("prev_ts").isNotNull())
    gap = F.unix_micros("ts") - F.unix_micros("prev_ts")
    return d.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        gap.alias("gap_us"),
        F.round(
            (F.col("value") - F.col("prev_v"))
            * F.lit(1000000.0)
            / gap,
            6,
        ).alias("rate_per_sec"),
    )


_MK_VAR = (
    "(CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_corr) / 18.0"
)
_MK_Z = (
    "CASE WHEN s_stat > 0 THEN round((s_stat - 1) / sqrt({var}), 4)"
    "     WHEN s_stat < 0 THEN round((s_stat + 1) / sqrt({var}), 4)"
    "     ELSE 0.0 END"
).format(var=_MK_VAR)


@query(
    "ts_mann_kendall",
    oracle=f"""
    WITH v AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE value IS NOT NULL
    ),
    pair_s AS (
        SELECT a.user_id,
               SUM(CASE WHEN b.value > a.value THEN 1
                        WHEN b.value < a.value THEN -1 ELSE 0 END)
                   AS s_stat,
               COUNT(*) AS n_pairs
        FROM v a JOIN v b
          ON b.user_id = a.user_id
         AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
        GROUP BY a.user_id
    ),
    pts AS (
        SELECT user_id, COUNT(*) AS n FROM v GROUP BY user_id
    ),
    ties AS (
        SELECT user_id,
               SUM(CAST(t * (t - 1) * (2 * t + 5) AS DOUBLE)) AS tie_corr
        FROM (SELECT user_id, value, COUNT(*) AS t
              FROM v GROUP BY user_id, value)
        GROUP BY user_id
    )
    SELECT p.user_id,
           CAST(n AS BIGINT) AS n,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           {_MK_Z} AS z_stat,
           CASE WHEN n >= 10 THEN
               CASE WHEN {_MK_Z} > 1.96 THEN 'increasing'
                    WHEN {_MK_Z} < -1.96 THEN 'decreasing'
                    ELSE 'no_trend' END
           END AS trend
    FROM pair_s p
    JOIN pts USING (user_id)
    JOIN ties USING (user_id)
    ORDER BY user_id
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per user series: the nonparametric
    monotone-trend detector (S = sum of pairwise value-order signs,
    tie-corrected normal approximation with continuity correction) —
    the significance companion to ts_theilsen_slope's magnitude: MK
    says WHETHER a series trends, Theil-Sen says how fast. The
    S -> z normal approximation is a >= 10-point rule (Gilbert 1987):
    shorter series report z but the trend CALL is withheld (NULL) —
    r10 sweep of the asymptotic-verdict class, oracle-mirrored.

    Scale shape: the pairwise stage is the same EQUI-join on the
    series key as Theil-Sen — O(L^2) only in the bounded per-entity
    history (corpus grows in users), and it collapses to ONE integer
    (S) per user inside the aggregate, so nothing pairwise is ever
    shuffled. Tie counts and point counts are two more tiny per-user
    aggregates joined on the key. S is exact-integer on both engines
    (CASE-sign, never float signum); only z rounds."""
    v = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    a, b = v.alias("a"), v.alias("b")
    sign = (
        F.when(F.col("b.value") > F.col("a.value"), 1)
        .when(F.col("b.value") < F.col("a.value"), -1)
        .otherwise(0)
    )
    pair_s = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (
                (F.col("a.ts") < F.col("b.ts"))
                | (
                    (F.col("a.ts") == F.col("b.ts"))
                    & (F.col("a.event_id") < F.col("b.event_id"))
                )
            ),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(
            F.sum(sign).alias("s_stat"),
            F.count("*").alias("n_pairs"),
        )
    )
    pts = v.groupBy("user_id").agg(F.count("*").alias("n"))
    ties = (
        v.groupBy("user_id", "value")
        .agg(F.count("*").alias("t"))
        .groupBy("user_id")
        .agg(
            F.sum(
                (
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ).cast("double")
            ).alias("tie_corr")
        )
    )
    joined = pair_s.join(pts, "user_id").join(ties, "user_id")
    var = (
        F.col("n").cast("double")
        * (F.col("n") - 1)
        * (2 * F.col("n") + 5)
        - F.col("tie_corr")
    ) / 18.0
    z = (
        F.when(
            F.col("s_stat") > 0,
            F.round((F.col("s_stat") - 1) / F.sqrt(var), 4),
        )
        .when(
            F.col("s_stat") < 0,
            F.round((F.col("s_stat") + 1) / F.sqrt(var), 4),
        )
        .otherwise(0.0)
    )
    return joined.select(
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        F.col("s_stat").cast("bigint").alias("s_stat"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        z.alias("z_stat"),
        # The S -> z normal approximation is a >= 10-point rule
        # (Gilbert 1987); below it the trend CALL is withheld (NULL)
        # while z stays reported — the asymptotic-verdict discipline
        # (VERDICT r8-r10 class), mirrored in the oracle.
        F.when(
            F.col("n") >= 10,
            F.when(z > 1.96, "increasing")
            .when(z < -1.96, "decreasing")
            .otherwise("no_trend"),
        ).alias("trend"),
    ).orderBy("user_id")


_XC_CORR = (
    "(CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0"
    " AND (n * syy - sy * sy) > 0"
    " THEN round((n * sxy - sx * sy)"
    " / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) END)"
)


@query(
    "ts_cross_correlation_lag",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch(date_trunc('hour', ts)) AS he,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                    THEN CAST(value AS DECIMAL(28,6)) END), 0) AS DOUBLE)
                   AS x,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(28,6)) END), 0) AS DOUBLE)
                   AS y
        FROM events
        WHERE value IS NOT NULL
          AND event_type IN ('click', 'purchase')
        GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-6, 7)) AS lag),
    pairs AS (
        SELECT l.lag, a.x, b.y
        FROM hourly a
        CROSS JOIN lags l
        JOIN hourly b ON b.he = a.he + l.lag * 3600
    ),
    s AS (
        SELECT lag, COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INTEGER) AS lag_hours,
           CAST(n AS BIGINT) AS n_pairs,
           {_XC_CORR} AS xcorr,
           ROW_NUMBER() OVER (
               ORDER BY COALESCE({_XC_CORR}, -2) DESC, lag) = 1
               AS is_best_lag
    FROM s
    ORDER BY lag_hours
    """,
)
def ts_cross_correlation_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation scan: Pearson r between hourly click
    revenue at t and purchase revenue at t+lag, for lags -6..+6 hours
    — the lead-lag detector (does engagement LEAD conversion, and by
    how much?) behind marketing-mix and metric-causality dashboards.
    The argmax lag is flagged in-query.

    Scale shape: the corpus collapses once to the hourly series; the
    lag fan-out is a 13-row constant dimension against the TIME-BUCKET
    table, paired by an integer epoch equi-join (never an
    interval/inequality join); each lag collapses to six decimal power
    sums. Everything after the first aggregation is bounded by the
    time range, not the corpus."""
    e = spark.table("events").where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    dec = "decimal(28,6)"
    big = "decimal(38,12)"
    hourly = e.groupBy(
        F.unix_seconds(F.date_trunc("hour", "ts")).alias("he")
    ).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.col("value").cast(dec),
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast(dec),
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("y"),
    )
    from powersql_spark.catalog import track_persist

    hourly = track_persist(hourly)
    lags = spark.range(-6, 7).select(F.col("id").alias("lag"))
    a = hourly.alias("a")
    b = hourly.select(
        F.col("he").alias("bhe"), F.col("y").alias("by")
    ).alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bhe") == F.col("a.he") + F.col("lag") * 3600)
        .select("lag", F.col("a.x").alias("x"), F.col("by").alias("y"))
    )
    s = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(big))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(big))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(big))
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    corr = F.when(
        (n >= 2) & (vx > 0) & (vy > 0),
        F.round((n * F.col("sxy") - sx * sy) / F.sqrt(vx * vy), 4),
    )
    out = s.select(
        F.col("lag").cast("int").alias("lag_hours"),
        n.cast("bigint").alias("n_pairs"),
        corr.alias("xcorr"),
    )
    w = Window.orderBy(
        F.coalesce(F.col("xcorr"), F.lit(-2.0)).desc(), F.col("lag_hours")
    )
    return out.select(
        "*", (F.row_number().over(w) == 1).alias("is_best_lag")
    ).orderBy("lag_hours")


_HW_A, _HW_B, _HW_G = 0.3, 0.1, 0.2
_HW_SIDX = "CAST((o.rn - 1) % 7 AS INTEGER) + 1"
_HW_LEVEL = (
    f"{_HW_A} * (o.x - s.s[{_HW_SIDX}]) + {1 - _HW_A} * (s.l + s.b)"
)


@query(
    "ts_holt_winters",
    # Recursive-CTE replay (the ts_holt_linear pattern, extended with a
    # 7-slot seasonal LIST carried through the recursion) — a genuinely
    # different evaluation strategy from Spark's array fold over the
    # same definition.
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    xs AS (SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS rn
           FROM daily),
    init AS (
        SELECT CAST((SELECT SUM(CAST(x AS DECIMAL(28,6))) FROM xs
                     WHERE rn <= 7) AS DOUBLE) / 7 AS l0,
               CAST((SELECT SUM(CAST(x AS DECIMAL(28,6))) FROM xs
                     WHERE rn BETWEEN 8 AND 14)
                  - (SELECT SUM(CAST(x AS DECIMAL(28,6))) FROM xs
                     WHERE rn <= 7) AS DOUBLE) / 49 AS b0
    ),
    state AS (
        SELECT 7 AS rn, CAST(NULL AS DATE) AS day,
               CAST(NULL AS DOUBLE) AS x,
               l0 AS l, b0 AS b,
               (SELECT list(x - i.l0 ORDER BY rn)
                FROM xs, init i WHERE rn <= 7) AS s,
               CAST(NULL AS DOUBLE) AS fitted
        FROM init
        UNION ALL
        SELECT o.rn, o.day, o.x,
               {_HW_LEVEL} AS l,
               {_HW_B} * (({_HW_LEVEL}) - s.l) + {1 - _HW_B} * s.b AS b,
               list_transform(range(1, 8), i -> CASE
                   WHEN i = {_HW_SIDX}
                   THEN {_HW_G} * (o.x - ({_HW_LEVEL}))
                        + {1 - _HW_G} * s.s[{_HW_SIDX}]
                   ELSE s.s[i] END) AS s,
               s.l + s.b + s.s[{_HW_SIDX}] AS fitted
        FROM state s JOIN xs o ON o.rn = s.rn + 1
    )
    SELECT day, x, round(fitted, 4) AS fitted,
           round(l, 4) AS level, round(b, 4) AS trend
    FROM state WHERE rn >= 8 ORDER BY day
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing on the daily
    revenue series (alpha=.3, beta=.1, gamma=.2, weekly period m=7):
    level/trend/seasonal state with the classical first-two-weeks
    initialization (L0 = week-1 mean, B0 = (week-2 mean - week-1
    mean)/7, S_i = x_i - L0), one-step-ahead fit = L + B + S[dow].
    Completes the smoothing ladder EWMA (level) → Holt (+trend) →
    Holt-Winters (+seasonality) — the capacity-forecasting smoother
    that tracks a weekly cycle instead of lagging it.

    Spark shape: the daily series is a decimal-exact aggregation of
    the corpus; the recursion is ONE array fold (F.aggregate) with a
    (level, trend, 7-slot seasonal array, outputs) STRUCT accumulator
    over the sorted day array — the ts_holt_linear pattern extended
    with ring-buffer state; per-series generalization partitions the
    same fold by the series key. Init sums fold through DECIMAL so
    both engines start from identical doubles; state floats stay
    unrounded until the 4dp output rounding."""
    e = spark.table("events").where(F.col("value").isNotNull())
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("x")
    )
    g = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("xs")
    )
    dsum7 = (
        "CAST(aggregate(slice(xs, {start}, 7), CAST(0 AS DECIMAL(28,6)),"
        " (acc, e) -> CAST(acc + CAST(e.x AS DECIMAL(28,6))"
        " AS DECIMAL(28,6))) AS DOUBLE)"
    )
    out_t = (
        "array<struct<day:date,x:double,fitted:double,"
        "level:double,trend:double>>"
    )
    A, B, G = _HW_A, _HW_B, _HW_G
    step = (
        "(acc, e) -> named_struct("
        f"'l', {A} * (e.x - element_at(acc.s, ((acc.pos - 1) % 7) + 1))"
        f"   + {1 - A} * (acc.l + acc.b),"
        f"'b', {B} * (({A} * (e.x - element_at(acc.s, ((acc.pos - 1) % 7) + 1))"
        f"   + {1 - A} * (acc.l + acc.b)) - acc.l) + {1 - B} * acc.b,"
        "'s', transform(sequence(1, 7), i -> CASE"
        "   WHEN i = ((acc.pos - 1) % 7) + 1"
        f"  THEN {G} * (e.x - ({A} * (e.x - element_at(acc.s,"
        "       ((acc.pos - 1) % 7) + 1))"
        f"      + {1 - A} * (acc.l + acc.b)))"
        f"      + {1 - G} * element_at(acc.s, ((acc.pos - 1) % 7) + 1)"
        "   ELSE element_at(acc.s, i) END),"
        "'pos', acc.pos + 1,"
        "'outs', concat(acc.outs, array(named_struct("
        "  'day', e.day, 'x', e.x,"
        "  'fitted', round(acc.l + acc.b"
        "      + element_at(acc.s, ((acc.pos - 1) % 7) + 1), 4),"
        f" 'level', round({A} * (e.x - element_at(acc.s,"
        "      ((acc.pos - 1) % 7) + 1))"
        f"     + {1 - A} * (acc.l + acc.b), 4),"
        f" 'trend', round({B} * (({A} * (e.x - element_at(acc.s,"
        "      ((acc.pos - 1) % 7) + 1))"
        f"     + {1 - A} * (acc.l + acc.b)) - acc.l)"
        f"     + {1 - B} * acc.b, 4)))))"
    )
    # The fold is built as one SQL expression so the struct
    # accumulator stays a single codegen'd aggregate.
    fold_sql = (
        "aggregate(slice(xs, 8, greatest(size(xs) - 7, 0)), {init}, {step})"
    )
    init_sql = (
        "named_struct('l', " + dsum7.format(start=1) + " / 7,"
        "'b', (" + dsum7.format(start=8) + " - "
        + dsum7.format(start=1) + ") / 49,"
        "'s', transform(slice(xs, 1, 7), e -> e.x - ("
        + dsum7.format(start=1) + " / 7)),"
        "'pos', 8,"
        f"'outs', CAST(array() AS {out_t}))"
    )
    acc = g.select(
        F.expr(fold_sql.format(init=init_sql, step=step)).alias("acc")
    )
    return (
        acc.select(F.explode("acc.outs").alias("o"))
        .select(
            F.col("o.day").alias("day"),
            F.col("o.x").alias("x"),
            F.col("o.fitted").alias("fitted"),
            F.col("o.level").alias("level"),
            F.col("o.trend").alias("trend"),
        )
        .orderBy("day")
    )


_BT_HOLDOUT = 7


@query(
    "ts_forecast_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    xs AS (
        SELECT day, x,
               ROW_NUMBER() OVER (ORDER BY day) AS rn,
               COUNT(*) OVER () AS n,
               LAG(x, 1) OVER (ORDER BY day) AS naive_f,
               LAG(x, 7) OVER (ORDER BY day) AS snaive_f,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) OVER (
                   ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   AS DOUBLE) / 7 AS mean7_f
        FROM daily
    ),
    holdout AS (
        SELECT * FROM xs WHERE rn > n - {_BT_HOLDOUT} AND rn > 7
    ),
    m AS (
        SELECT method, f, x, day FROM (
            SELECT day, x, naive_f AS f, 'naive' AS method FROM holdout
            UNION ALL
            SELECT day, x, snaive_f, 'seasonal_naive' FROM holdout
            UNION ALL
            SELECT day, x, mean7_f, 'mean7' FROM holdout
        )
    ),
    err AS (
        SELECT method,
               CAST(abs(CAST(f - x AS DECIMAL(28,6))) AS DECIMAL(28,6))
                   AS ae,
               round(abs(f - x) / x, 8) AS ape
        FROM m
    ),
    agg AS (
        SELECT method, COUNT(*) AS n_days,
               CAST(round(CAST(SUM(ae) AS DOUBLE)
                    / COUNT(*), 4) AS DOUBLE) AS mae,
               CAST(round(CAST(SUM(CAST(ape AS DECIMAL(28,8))) AS DOUBLE)
                    * 100 / COUNT(*), 4) AS DOUBLE) AS mape_pct
        FROM err GROUP BY method
    )
    SELECT method, CAST(n_days AS BIGINT) AS n_days, mae, mape_pct,
           ROW_NUMBER() OVER (ORDER BY mae, method) = 1 AS is_best
    FROM agg ORDER BY method
    """,
)
def ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest on the last week of the daily
    revenue series: three baselines every forecasting bake-off starts
    from — naive (yesterday), seasonal-naive (same weekday last week),
    and the trailing-7-day mean — scored by MAE and MAPE, best model
    flagged in-query. This is the evaluation loop that decides whether
    the smoothing family (EWMA/Holt/Holt-Winters) actually earns its
    complexity on a given series.

    Scale shape: one corpus collapse to the daily series; forecasts
    are LAG/rolling-window columns sharing ONE sort of the time-bucket
    table; errors are decimal-exact (MAE) or per-day-rounded then
    decimal-summed (MAPE). The method dimension is a 3-way union of
    the 7-row holdout — metadata-sized throughout."""
    e = spark.table("events").where(F.col("value").isNotNull())
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("x")
    )
    w = Window.orderBy("day")
    w7 = Window.orderBy("day").rowsBetween(-7, -1)
    xs = daily.select(
        "day",
        "x",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.lag("x", 1).over(w).alias("naive_f"),
        F.lag("x", 7).over(w).alias("snaive_f"),
        (
            F.sum(F.col("x").cast("decimal(28,6)")).over(w7).cast("double")
            / 7
        ).alias("mean7_f"),
    )
    holdout = xs.where(
        (F.col("rn") > F.col("n") - _BT_HOLDOUT) & (F.col("rn") > 7)
    )
    parts = []
    for method, col in (
        ("naive", "naive_f"),
        ("seasonal_naive", "snaive_f"),
        ("mean7", "mean7_f"),
    ):
        parts.append(
            holdout.select(
                F.lit(method).alias("method"),
                F.col(col).alias("f"),
                "x",
            )
        )
    m = parts[0].unionAll(parts[1]).unionAll(parts[2])
    err = m.select(
        "method",
        F.abs((F.col("f") - F.col("x")).cast("decimal(28,6)")).alias("ae"),
        F.round(F.abs(F.col("f") - F.col("x")) / F.col("x"), 8).alias(
            "ape"
        ),
    )
    agg = err.groupBy("method").agg(
        F.count("*").alias("n_days"),
        F.round(F.sum("ae").cast("double") / F.count("*"), 4).alias("mae"),
        F.round(
            F.sum(F.col("ape").cast("decimal(28,8)")).cast("double")
            * 100
            / F.count("*"),
            4,
        ).alias("mape_pct"),
    )
    return agg.select(
        "method",
        F.col("n_days").cast("bigint").alias("n_days"),
        "mae",
        "mape_pct",
        (
            F.row_number().over(Window.orderBy("mae", "method")) == 1
        ).alias("is_best"),
    ).orderBy("method")


@query(
    "ts_peak_detection",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, date_trunc('hour', ts)
    ),
    w AS (
        SELECT event_type, hour, x,
               LAG(x) OVER win AS prev_x,
               LEAD(x) OVER win AS next_x,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
                   AS DOUBLE) AS base_sum,
               COUNT(*) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS base_n
        FROM hourly
        WINDOW win AS (PARTITION BY event_type ORDER BY hour)
    )
    SELECT event_type, hour, x,
           CAST(round(CAST(CAST((base_sum / base_n) AS VARCHAR)
                AS DECIMAL(38,18)), 4) AS DOUBLE) AS baseline,
           CAST(round(CAST(CAST((x / (base_sum / base_n)) AS VARCHAR)
                AS DECIMAL(38,18)), 4) AS DOUBLE) AS spike_ratio
    FROM w
    WHERE prev_x IS NOT NULL AND next_x IS NOT NULL
      AND base_n >= 12
      AND x > prev_x AND x > next_x
      AND x > 1.5 * (base_sum / base_n)
    ORDER BY event_type, hour
    """,
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic spike detection per stream: hours that are a LOCAL
    maximum (above both neighbors) AND at least 1.5x their trailing
    24-hour baseline (minimum 12 hours of history so cold starts
    don't false-positive) — the alerting complement of
    ts_outage_gaps: that key finds silence, this one finds surges,
    with the spike magnitude attached.

    Scale shape: the corpus collapses to the hourly series; the
    neighbor LAG/LEAD and the trailing baseline share ONE
    (event_type) window partitioning on the time-bucket table; the
    output is spike-sized. Baselines are decimal-exact sums divided
    once; ratios rounded at 4dp."""
    e = spark.table("events").where(F.col("value").isNotNull())
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("x")
    )
    win = Window.partitionBy("event_type").orderBy("hour")
    base = win.rowsBetween(-24, -1)
    w = hourly.select(
        "event_type",
        "hour",
        "x",
        F.lag("x").over(win).alias("prev_x"),
        F.lead("x").over(win).alias("next_x"),
        F.sum(F.col("x").cast("decimal(28,6)"))
        .over(base)
        .cast("double")
        .alias("base_sum"),
        F.count("*").over(base).alias("base_n"),
    )
    baseline = F.col("base_sum") / F.col("base_n")
    return (
        w.where(
            F.col("prev_x").isNotNull()
            & F.col("next_x").isNotNull()
            & (F.col("base_n") >= 12)
            & (F.col("x") > F.col("prev_x"))
            & (F.col("x") > F.col("next_x"))
            & (F.col("x") > 1.5 * baseline)
        )
        .select(
            "event_type",
            "hour",
            "x",
            F.round(baseline, 4).alias("baseline"),
            F.round(F.col("x") / baseline, 4).alias("spike_ratio"),
        )
        .orderBy("event_type", "hour")
    )


@query(
    "ts_week_over_week",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                   AS revenue
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    w AS (
        SELECT day, revenue,
               LAG(revenue, 1) OVER (ORDER BY day) AS prev_day,
               LAG(revenue, 7) OVER (ORDER BY day) AS prev_week
        FROM daily
    )
    SELECT day, revenue,
           CASE WHEN prev_day > 0 THEN
               CAST(round(CAST(CAST(((revenue - prev_day) * 100.0
                    / prev_day) AS VARCHAR) AS DECIMAL(38,18)), 2)
                    AS DOUBLE) END AS dod_pct,
           CASE WHEN prev_week > 0 THEN
               CAST(round(CAST(CAST(((revenue - prev_week) * 100.0
                    / prev_week) AS VARCHAR) AS DECIMAL(38,18)), 2)
                    AS DOUBLE) END AS wow_pct
    FROM w
    ORDER BY day
    """,
)
def ts_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day and week-over-week revenue change — the first
    panel of every business dashboard. WoW (lag 7) is the
    seasonality-free comparison: it compares Monday to Monday, so the
    weekly cycle that whipsaws DoD cancels out.

    Scale shape: one corpus collapse to the daily series; both lags
    share one sort of the time-bucket table. Daily revenues are
    decimal-exact; the percentage changes are terminating rationals,
    so the oracle replays Spark's shortest-repr rounding
    (sql_jround)."""
    e = spark.table("events").where(F.col("value").isNotNull())
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("day")
    wd = daily.select(
        "day",
        "revenue",
        F.lag("revenue", 1).over(w).alias("prev_day"),
        F.lag("revenue", 7).over(w).alias("prev_week"),
    )
    def pct(prev):
        return F.when(
            F.col(prev) > 0,
            F.round(
                (F.col("revenue") - F.col(prev)) * 100.0 / F.col(prev), 2
            ),
        )

    return wd.select(
        "day",
        "revenue",
        pct("prev_day").alias("dod_pct"),
        pct("prev_week").alias("wow_pct"),
    ).orderBy("day")


_SESSION_GAP_MIN = 30


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > INTERVAL {_SESSION_GAP_MIN} MINUTE
                    OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sess
        FROM marked
    ),
    sessions AS (
        SELECT user_id, sess, MIN(ts) AS s_start, MAX(ts) AS s_end
        FROM numbered GROUP BY user_id, sess
    ),
    hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    thresh AS (
        SELECT event_type, AVG(CAST(n AS DOUBLE)) AS avg_n
        FROM hourly GROUP BY event_type
    ),
    spikes AS (
        SELECT h.event_type, h.hr AS w_start,
               h.hr + INTERVAL 1 HOUR AS w_end
        FROM hourly h JOIN thresh t ON t.event_type = h.event_type
        WHERE CAST(h.n AS DOUBLE) > 1.5 * t.avg_n
    ),
    ovl AS (
        SELECT DISTINCT s.user_id, s.sess,
               sp.event_type, sp.w_start
        FROM sessions s JOIN spikes sp
          ON s.s_start < sp.w_end AND sp.w_start <= s.s_end
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spike_overlaps,
           CAST(COUNT(DISTINCT sess) AS BIGINT) AS n_sessions_hit
    FROM ovl
    GROUP BY user_id
    ORDER BY n_spike_overlaps DESC, user_id
    LIMIT 20
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user activity sessions (30-min-gap
    islands) joined against traffic-spike windows (hours where an
    event type ran >1.5x its average hourly rate) — 'which users were
    on during the storm', the canonical interval x interval workload
    (conflict detection, incident attribution, ad-flight matching).

    Scale shape: the naive form is an all-pairs theta-join; this
    implementation GRID-BUCKETS it — sessions explode to the hour
    buckets they span (bounded: sessions are gap-capped), spike
    windows are exactly one bucket wide, and candidates come from an
    hour-bucket EQUI-join, with the true overlap predicate applied
    only to grid-collocated pairs and duplicates removed by the
    distinct. The oracle states the same semantics as the naive
    predicate join — same answer, quadratic plan — which is exactly
    the point of the grid rewrite."""
    ev = spark.table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            prev.isNull()
            | (
                F.col("ts").cast("long") - prev.cast("long")
                > _SESSION_GAP_MIN * 60
            ),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    ws = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = (
        marked.withColumn("sess", F.sum("brk").over(ws))
        .groupBy("user_id", "sess")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    # Per-type average as a window over the hourly aggregate, not a
    # separate groupBy + broadcast join back: the join form executed
    # the whole corpus-sized hourly subtree TWICE (once under the
    # broadcast build, once on the probe side — Catalyst does not
    # reuse the subtree across the broadcast boundary; profiled as two
    # identical 32-task scan stages of ~6 s executor time each). The
    # window costs one exchange of the metadata-sized hourly table by
    # event_type instead of a second corpus scan. avg(n) is a sum of
    # integers over an exact double range, so the average is exact and
    # summation-order-independent — bit-identical to the join form.
    avg_n = F.avg(F.col("n").cast("double")).over(
        Window.partitionBy("event_type")
    )
    spikes = (
        hourly.withColumn("avg_n", avg_n)
        .where(F.col("n").cast("double") > 1.5 * F.col("avg_n"))
        .select(
            "event_type",
            F.col("hr").alias("w_start"),
            (F.col("hr") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
        )
    )
    # Grid: explode each session to the hour buckets it spans; a
    # spike window occupies exactly its own bucket.
    cand = sessions.select(
        "user_id",
        "sess",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s_start"),
                F.date_trunc("hour", "s_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    overlaps = (
        cand.join(
            F.broadcast(spikes), F.col("bucket") == F.col("w_start")
        )
        .where(
            (F.col("s_start") < F.col("w_end"))
            & (F.col("w_start") <= F.col("s_end"))
        )
        .select("user_id", "sess", "event_type", "w_start")
        .distinct()
    )
    return (
        overlaps.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_spike_overlaps"),
            F.countDistinct("sess").cast("bigint").alias("n_sessions_hit"),
        )
        .orderBy(F.desc("n_spike_overlaps"), "user_id")
        .limit(20)
    )


_DP_MAX_LAG = 24


@query(
    "ts_dominant_period",
    oracle=f"""
    WITH hours AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY hr) AS t FROM hours
    ),
    m AS (
        SELECT CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS mu, COUNT(*) AS n
        FROM idx
    ),
    lags AS (SELECT unnest(range(1, {_DP_MAX_LAG} + 1)) AS lag),
    acf AS (
        SELECT l.lag,
               CAST(SUM(CAST((a.y - m.mu) * (b.y - m.mu)
                    AS DECIMAL(28,6))) AS DOUBLE) AS num,
               COUNT(*) AS n_pairs
        FROM lags l
        JOIN idx a ON TRUE
        JOIN idx b ON b.t = a.t + l.lag
        CROSS JOIN m
        GROUP BY l.lag
    ),
    den AS (
        SELECT CAST(SUM(CAST((y - m.mu) * (y - m.mu)
                    AS DECIMAL(28,6))) AS DOUBLE) AS d
        FROM idx CROSS JOIN m
    )
    SELECT acf.lag,
           CAST(acf.n_pairs AS BIGINT) AS n_pairs,
           CAST(round(CAST(CAST(acf.num / den.d AS VARCHAR)
                AS DECIMAL(38,18)), 4) AS DOUBLE) AS acf
    FROM acf, den
    WHERE acf.n_pairs >= 8 AND den.d > 0
    ORDER BY acf DESC, lag
    LIMIT 3
    """,
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant seasonality of the global hourly traffic series: the
    autocorrelation function at lags 1..24 hours, top-3 lags by ACF —
    'is this series daily-periodic, 12-hourly, or trending?' The
    periodicity probe run before choosing a seasonal window for
    Holt-Winters / anomaly baselines (ts_autocorr answers per-USER
    momentum at fixed lags; this scans the lag axis on the corpus
    series and ranks it).

    Scale shape: the corpus collapses to the hourly series once;
    every lag's products come from ONE self-equi-join on the shifted
    index against the 24-row lag spine; numerators/denominator are
    decimal-exact so the oracle replays the ACF digit-for-digit.
    Short overlaps (< 8 pairs) are excluded in both engines."""
    hours = (
        spark.table("events")
        .groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").cast("double").alias("y"))
    )
    idx = hours.select(
        "y", F.row_number().over(Window.orderBy("hr")).alias("t")
    )
    from powersql_spark.catalog import track_persist

    idx = track_persist(idx)
    m = idx.agg(
        (
            F.sum(F.col("y").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("mu")
    )
    lags = spark.range(1, _DP_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = idx.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = idx.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    acf = (
        F.broadcast(lags)
        .join(a)
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .join(F.broadcast(m))
        .groupBy("lag")
        .agg(
            F.sum(
                (
                    (F.col("ya") - F.col("mu"))
                    * (F.col("yb") - F.col("mu"))
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("num"),
            F.count("*").alias("n_pairs"),
        )
    )
    den = (
        idx.join(F.broadcast(m))
        .agg(
            F.sum(
                (
                    (F.col("y") - F.col("mu"))
                    * (F.col("y") - F.col("mu"))
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("d")
        )
    )
    return (
        acf.join(F.broadcast(den))
        .where((F.col("n_pairs") >= 8) & (F.col("d") > 0))
        .select(
            "lag",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(F.col("num") / F.col("d"), 4).alias("acf"),
        )
        .orderBy(F.desc("acf"), "lag")
        .limit(3)
    )


@query(
    "ts_traffic_profile",
    oracle=f"""
    WITH base AS (
        SELECT ((CAST(ts AS DATE) - DATE '1970-01-01') + 3) % 7 + 1
                   AS dow,
               EXTRACT(hour FROM ts) AS hod
        FROM events
    ),
    cells AS (
        SELECT dow, hod, COUNT(*) AS n FROM base GROUP BY dow, hod
    ),
    tot AS (SELECT SUM(n) AS t FROM cells)
    SELECT CAST(cells.dow AS INTEGER) AS dow,
           CAST(cells.hod AS INTEGER) AS hour,
           CAST(cells.n AS BIGINT) AS n_events,
           CAST(round(CAST(CAST(CAST(cells.n AS DOUBLE) / tot.t
                AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE)
               AS share,
           CAST(ROW_NUMBER() OVER (PARTITION BY cells.dow
                ORDER BY cells.n DESC, cells.hod) AS INTEGER)
               AS rank_in_dow
    FROM cells, tot
    ORDER BY dow, hour
    """,
)
def ts_traffic_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly traffic fingerprint: event volume per (day-of-week,
    hour-of-day) cell with global share and within-day hour ranking —
    the seasonal profile behind capacity planning, anomaly baselines,
    and maintenance-window selection. Day-of-week is computed as
    integer epoch-day arithmetic ((days + 3) % 7 + 1, Monday = 1)
    because the engines' dayofweek() builtins disagree on both origin
    and range — a classic cross-engine portability trap this repo
    resolves by construction.

    Scale shape: one corpus collapse to the 168-cell matrix
    (map-side combinable); share and ranking run on the constant-
    sized cell table under a one-row total broadcast."""
    days = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    base = spark.table("events").select(
        ((days + 3) % 7 + 1).alias("dow"),
        F.hour("ts").alias("hod"),
    )
    from powersql_spark.catalog import track_persist

    # 168-row cell matrix feeds both the total and the report.
    cells = track_persist(
        base.groupBy("dow", "hod").agg(F.count("*").alias("n"))
    )
    tot = cells.agg(F.sum("n").alias("t"))
    w = Window.partitionBy("dow").orderBy(F.desc("n"), "hod")
    return (
        cells.join(F.broadcast(tot))
        .select(
            F.col("dow").cast("int").alias("dow"),
            F.col("hod").cast("int").alias("hour"),
            F.col("n").cast("bigint").alias("n_events"),
            F.round(
                F.col("n").cast("double") / F.col("t"), 6
            ).alias("share"),
            F.row_number().over(w).cast("int").alias("rank_in_dow"),
        )
        .orderBy("dow", "hour")
    )


@query(
    "ts_seasonal_anomaly",
    oracle=f"""
    WITH base AS (
        SELECT date_trunc('hour', ts) AS hr,
               ((CAST(ts AS DATE) - DATE '1970-01-01') + 3) % 7 + 1
                   AS dow,
               EXTRACT(hour FROM ts) AS hod,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    prof AS (
        SELECT dow, hod,
               CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu,
               COUNT(*) AS n_obs,
               CAST(SUM(n * n) AS DOUBLE) / COUNT(*)
                   - (CAST(SUM(n) AS DOUBLE) / COUNT(*))
                     * (CAST(SUM(n) AS DOUBLE) / COUNT(*)) AS var
        FROM base GROUP BY dow, hod
    )
    SELECT b.hr AS hour_ts, CAST(b.n AS BIGINT) AS n_events,
           {sql_jround("p.mu", 4)} AS baseline,
           {sql_jround("(b.n - p.mu) / sqrt(p.var)", 4)} AS z,
           abs((b.n - p.mu) / sqrt(p.var)) > 3 AS is_anomaly
    FROM base b JOIN prof p ON p.dow = b.dow AND p.hod = b.hod
    WHERE p.n_obs >= 3 AND p.var > 0
    ORDER BY hour_ts
    """,
)
def ts_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly screen: each hour's event count is
    z-scored against the distribution of the SAME (day-of-week,
    hour-of-day) cell across the history — Monday 9am compares to
    other Monday 9ams, so the weekly cycle that fools a trailing
    z-score (ts_anomaly_zscore) is baked into the baseline. |z| > 3
    with >= 3 observations flags the anomaly.

    Scale shape: one corpus collapse to the hourly series; the
    seasonal profile is a 168-cell aggregate that joins back
    BROADCAST; the z is scalar arithmetic per hourly row. Integer
    sums keep mu/var exact rationals (jround replays); weekday uses
    the engine-portable epoch-day arithmetic."""
    days = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    base = (
        spark.table("events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hr"),
            ((days + 3) % 7 + 1).alias("dow"),
            F.hour("ts").alias("hod"),
        )
        .agg(F.count("*").alias("n"))
    )
    from powersql_spark.catalog import track_persist

    base = track_persist(base)
    mu = F.sum("n").cast("double") / F.count("*")
    prof = base.groupBy("dow", "hod").agg(
        mu.alias("mu"),
        F.count("*").alias("n_obs"),
        (
            F.sum(F.col("n") * F.col("n")).cast("double") / F.count("*")
            - mu * mu
        ).alias("var"),
    )
    z = (F.col("n") - F.col("mu")) / F.sqrt(F.col("var"))
    return (
        base.join(F.broadcast(prof), ["dow", "hod"])
        .where((F.col("n_obs") >= 3) & (F.col("var") > 0))
        .select(
            F.col("hr").alias("hour_ts"),
            F.col("n").cast("bigint").alias("n_events"),
            F.round("mu", 4).alias("baseline"),
            F.round(z, 4).alias("z"),
            (F.abs(z) > 3).alias("is_anomaly"),
        )
        .orderBy("hour_ts")
    )


# ---------------------------------------------------------------------------
# Western Electric SPC rules — the classic control-chart screen. The
# existing anomaly keys flag single points (zscore/MAD) or level
# shifts (CUSUM); WE rules add the RUN-based detections (trends and
# sustained shifts smaller than 3-sigma) via rolling rule windows.
# ---------------------------------------------------------------------------


@query(
    "ts_spc_western_electric",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    stats AS (
        SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS mu,
               sqrt((CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE)
                     - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                       * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                       / COUNT(*))
                    / COUNT(*)) AS sigma
        FROM daily
    ),
    z AS (
        SELECT day, x, (x - mu) / sigma AS z
        FROM daily, stats WHERE sigma > 0
    ),
    rules AS (
        SELECT day, x, z,
               abs(z) > 3 AS r1,
               COUNT(CASE WHEN z > 2 THEN 1 END) OVER w3 >= 2
                   OR COUNT(CASE WHEN z < -2 THEN 1 END) OVER w3 >= 2
                   AS r2,
               COUNT(CASE WHEN z > 1 THEN 1 END) OVER w5 >= 4
                   OR COUNT(CASE WHEN z < -1 THEN 1 END) OVER w5 >= 4
                   AS r3,
               COUNT(CASE WHEN z > 0 THEN 1 END) OVER w8 = 8
                   OR COUNT(CASE WHEN z < 0 THEN 1 END) OVER w8 = 8
                   AS r4
        FROM z
        WINDOW w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING
                      AND CURRENT ROW),
               w5 AS (ORDER BY day ROWS BETWEEN 4 PRECEDING
                      AND CURRENT ROW),
               w8 AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
                      AND CURRENT ROW)
    )
    SELECT day, {sql_jround("z", 4)} AS z,
           r1, r2, r3, r4,
           CAST(CAST(r1 AS INTEGER) + CAST(r2 AS INTEGER)
                + CAST(r3 AS INTEGER) + CAST(r4 AS INTEGER)
                AS INTEGER) AS n_rules_fired
    FROM rules
    ORDER BY day
    """,
)
def ts_spc_western_electric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric control-chart rules over the daily value
    series: R1 point beyond 3-sigma, R2 two-of-three beyond 2-sigma
    same side, R3 four-of-five beyond 1-sigma same side, R4 eight
    consecutive same side of center. The run-based rules catch
    sustained small shifts and drifts that single-point screens
    (ts_anomaly_zscore/mad) structurally miss.

    Scale shape: the corpus collapses once to the daily grain
    (map-side combinable decimal sums); center/sigma are one
    broadcast row of decimal-exact sufficient statistics; all four
    rules ride rolling COUNT frames on the same day ordering of the
    tiny daily table. z is an identical double ratio on both engines,
    compared against integer thresholds — no libm divergence. The
    full scored series is emitted (alarm days carry n_rules_fired >
    0) so every day's rule evaluation is hash-verified."""
    daily = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(dsum("value", "x"))
    )
    stats = daily.agg(
        (
            F.sum(F.col("x").cast(DEC)).cast("double") / F.count("*")
        ).alias("mu"),
        F.sqrt(
            (
                F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)"))
                .cast("double")
                - F.sum(F.col("x").cast(DEC)).cast("double")
                * F.sum(F.col("x").cast(DEC)).cast("double")
                / F.count("*")
            )
            / F.count("*")
        ).alias("sigma"),
    )
    z = (
        daily.join(F.broadcast(stats))
        .where(F.col("sigma") > 0)
        .select(
            "day",
            "x",
            ((F.col("x") - F.col("mu")) / F.col("sigma")).alias("z"),
        )
    )
    w3 = Window.orderBy("day").rowsBetween(-2, 0)
    w5 = Window.orderBy("day").rowsBetween(-4, 0)
    w8 = Window.orderBy("day").rowsBetween(-7, 0)

    def cnt(w, cond):
        return F.count(F.when(cond, 1)).over(w)

    rules = z.select(
        "day",
        "z",
        (F.abs(F.col("z")) > 3).alias("r1"),
        (
            (cnt(w3, F.col("z") > 2) >= 2)
            | (cnt(w3, F.col("z") < -2) >= 2)
        ).alias("r2"),
        (
            (cnt(w5, F.col("z") > 1) >= 4)
            | (cnt(w5, F.col("z") < -1) >= 4)
        ).alias("r3"),
        (
            (cnt(w8, F.col("z") > 0) == 8)
            | (cnt(w8, F.col("z") < 0) == 8)
        ).alias("r4"),
    )
    return (
        rules.select(
            "day",
            F.round("z", 4).alias("z"),
            "r1",
            "r2",
            "r3",
            "r4",
            (
                F.col("r1").cast("int")
                + F.col("r2").cast("int")
                + F.col("r3").cast("int")
                + F.col("r4").cast("int")
            )
            .cast("int")
            .alias("n_rules_fired"),
        )
        .orderBy("day")
    )


@query(
    "ts_alert_episodes",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    stats AS (
        SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS mu,
               sqrt((CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE)
                     - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                       * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                       / COUNT(*))
                    / COUNT(*)) AS sigma
        FROM daily
    ),
    alerts AS (
        SELECT day, (x - mu) / sigma AS z
        FROM daily, stats
        WHERE sigma > 0 AND abs((x - mu) / sigma) > 1
    ),
    grp AS (
        SELECT day, z,
               day - CAST(ROW_NUMBER() OVER (ORDER BY day) AS INTEGER)
                   * INTERVAL 1 DAY AS anchor
        FROM alerts
    )
    SELECT MIN(day) AS start_day, MAX(day) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_jround("MAX(abs(z))", 4)} AS peak_abs_z,
           CASE WHEN MAX(z) >= -MIN(z) THEN 'high' ELSE 'low' END
               AS direction
    FROM grp
    GROUP BY anchor
    ORDER BY start_day
    """,
)
def ts_alert_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert EPISODES, not alert points: consecutive |z| > 1 days of
    the daily series collapsed into incidents (gaps-and-islands on
    the alert-day sequence) with start/end, duration, peak |z|, and
    direction — what an on-call pages on ('a 4-day high-traffic
    incident peaking at 2.3 sigma'), turning per-day screens like
    ts_anomaly_zscore into deduplicated alerts with hysteresis.

    Scale shape: one daily collapse + one broadcast stats row; the
    island grouping (day minus row_number) and episode rollup run on
    the alert-day subset of the tiny daily table. Everything after
    the collapse is constant-sized."""
    daily = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(dsum("value", "x"))
    )
    stats = daily.agg(
        (
            F.sum(F.col("x").cast(DEC)).cast("double") / F.count("*")
        ).alias("mu"),
        F.sqrt(
            (
                F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)"))
                .cast("double")
                - F.sum(F.col("x").cast(DEC)).cast("double")
                * F.sum(F.col("x").cast(DEC)).cast("double")
                / F.count("*")
            )
            / F.count("*")
        ).alias("sigma"),
    )
    z = (
        daily.join(F.broadcast(stats))
        .where(F.col("sigma") > 0)
        .select(
            "day",
            ((F.col("x") - F.col("mu")) / F.col("sigma")).alias("z"),
        )
        .where(F.abs(F.col("z")) > 1)
    )
    grp = z.select(
        "day",
        "z",
        F.date_sub(
            F.col("day"),
            F.row_number().over(Window.orderBy("day")),
        ).alias("anchor"),
    )
    return (
        grp.groupBy("anchor")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count("*").cast("bigint").alias("n_days"),
            F.round(F.max(F.abs(F.col("z"))), 4).alias("peak_abs_z"),
            F.when(
                F.max("z") >= -F.min("z"), "high"
            )
            .otherwise("low")
            .alias("direction"),
        )
        .drop("anchor")
        .orderBy("start_day")
    )


@query(
    "ts_strength_measures",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               isodow(ts) AS dow,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    tr AS (
        SELECT day, dow, x,
               CAST(SUM(CAST(x AS DECIMAL(28,6)))
                    OVER w AS DOUBLE) / 7 AS trend,
               COUNT(*) OVER w AS wn
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                     AND 3 FOLLOWING)
    ),
    valid AS (
        SELECT day, dow, x, trend, x - trend AS detr
        FROM tr WHERE wn = 7
    ),
    seas AS (
        SELECT dow,
               CAST(SUM(CAST(detr AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*) AS s
        FROM valid GROUP BY dow
    ),
    comp AS (
        SELECT v.day, v.x, v.trend, v.detr, s.s,
               v.detr - s.s AS rem,
               v.x - s.s AS deseas
        FROM valid v JOIN seas s ON s.dow = v.dow
    ),
    vars AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(rem * rem AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*)
                   - POW(CAST(SUM(CAST(rem AS DECIMAL(28,12)))
                              AS DOUBLE) / COUNT(*), 2) AS v_rem,
               CAST(SUM(CAST(detr * detr AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*)
                   - POW(CAST(SUM(CAST(detr AS DECIMAL(28,12)))
                              AS DOUBLE) / COUNT(*), 2) AS v_detr,
               CAST(SUM(CAST(deseas * deseas AS DECIMAL(38,12)))
                    AS DOUBLE) / COUNT(*)
                   - POW(CAST(SUM(CAST(deseas AS DECIMAL(28,12)))
                              AS DOUBLE) / COUNT(*), 2) AS v_deseas
        FROM comp
    )
    SELECT n AS n_days_used,
           CASE WHEN v_detr > 0 THEN
               {sql_jround("GREATEST(0.0, 1.0 - v_rem / v_detr)", 4)}
               ELSE 0.0 END AS f_seasonal,
           CASE WHEN v_deseas > 0 THEN
               {sql_jround("GREATEST(0.0, 1.0 - v_rem / v_deseas)", 4)}
               ELSE 0.0 END AS f_trend
    FROM vars
    WHERE n > 0
    """,
)
def ts_strength_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman trend/seasonality STRENGTH measures on the daily
    series: decompose x = trend (centered 7-day MA) + day-of-week
    seasonal + remainder, then F_seasonal = 1 - var(rem)/var(detrended)
    and F_trend = 1 - var(rem)/var(deseasonalized), clamped to [0,1]
    — the two numbers that say whether ts_seasonal_decompose's
    components are real structure or noise, comparable across any set
    of series (the feature 'should I seasonally adjust?' keys off).

    Scale shape: one daily collapse; the MA window, DOW means, and
    variance sufficient statistics all live on the tiny daily table
    with decimal-exact sums. POW(x, 2) only (exact squaring)."""
    daily = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.dayofweek("ts").alias("dow"),
        )
        .agg(dsum("value", "x"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "dow",
        "x",
        (F.sum(F.col("x").cast(DEC)).over(w).cast("double") / 7).alias(
            "trend"
        ),
        F.count("*").over(w).alias("wn"),
    )
    valid = tr.where(F.col("wn") == 7).select(
        "day", "dow", "x", "trend", (F.col("x") - F.col("trend")).alias("detr")
    )
    from powersql_spark.catalog import track_persist

    valid = track_persist(valid)
    seas = valid.groupBy("dow").agg(
        (
            F.sum(F.col("detr").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("s")
    )
    comp = valid.join(F.broadcast(seas), "dow").select(
        "x",
        "detr",
        (F.col("detr") - F.col("s")).alias("rem"),
        (F.col("x") - F.col("s")).alias("deseas"),
    )

    def popvar(c: str):
        return (
            F.sum((F.col(c) * F.col(c)).cast("decimal(38,12)")).cast(
                "double"
            )
            / F.count("*")
            - F.pow(
                F.sum(F.col(c).cast("decimal(28,12)")).cast("double")
                / F.count("*"),
                2,
            )
        )

    vars_ = comp.agg(
        F.count("*").cast("bigint").alias("n"),
        popvar("rem").alias("v_rem"),
        popvar("detr").alias("v_detr"),
        popvar("deseas").alias("v_deseas"),
    )
    return vars_.where(F.col("n") > 0).select(
        F.col("n").alias("n_days_used"),
        F.when(
            F.col("v_detr") > 0,
            F.round(
                F.greatest(
                    F.lit(0.0), 1.0 - F.col("v_rem") / F.col("v_detr")
                ),
                4,
            ),
        )
        .otherwise(0.0)
        .alias("f_seasonal"),
        F.when(
            F.col("v_deseas") > 0,
            F.round(
                F.greatest(
                    F.lit(0.0), 1.0 - F.col("v_rem") / F.col("v_deseas")
                ),
                4,
            ),
        )
        .otherwise(0.0)
        .alias("f_trend"),
    )


# ---------------------------------------------------------------------------
# PACF via Durbin-Levinson, unrolled. The recursion has a FIXED depth
# (4 lags), so it flattens into one arithmetic expression DAG over the
# one-row ACF table — identical IEEE operations on both engines, the
# same trick as the unrolled pagerank/Katz iterations but for a
# sequential scalar recursion.
# ---------------------------------------------------------------------------

_PACF_UNROLL_SQL = """
    u1 AS (SELECT *, r1 AS p11 FROM r),
    u2 AS (
        SELECT *,
               (r2 - p11 * r1) / (1 - p11 * r1) AS p22
        FROM u1
    ),
    u2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM u2),
    u3 AS (
        SELECT *,
               (r3 - p21 * r2 - p22 * r1)
                   / (1 - p21 * r1 - p22 * r2) AS p33
        FROM u2b
    ),
    u3b AS (
        SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32
        FROM u3
    ),
    u4 AS (
        SELECT *,
               (r4 - p31 * r3 - p32 * r2 - p33 * r1)
                   / (1 - p31 * r1 - p32 * r2 - p33 * r3) AS p44
        FROM u3b
    )"""


@query(
    "ts_pacf_durbin",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    m AS (
        SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS mu
        FROM daily
    ),
    lagged AS (
        SELECT x - mu AS d,
               lag(x, 1) OVER (ORDER BY day) - mu AS d1,
               lag(x, 2) OVER (ORDER BY day) - mu AS d2,
               lag(x, 3) OVER (ORDER BY day) - mu AS d3,
               lag(x, 4) OVER (ORDER BY day) - mu AS d4
        FROM daily, m
    ),
    r AS (
        SELECT
            CAST(SUM(CAST(d * d1 AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE)
                AS r1,
            CAST(SUM(CAST(d * d2 AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE)
                AS r2,
            CAST(SUM(CAST(d * d3 AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE)
                AS r3,
            CAST(SUM(CAST(d * d4 AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE)
                AS r4
        FROM lagged
    ),{_PACF_UNROLL_SQL}
    SELECT lag,
           {sql_jround("acf", 4)} AS acf,
           {sql_jround("pacf", 4)} AS pacf
    FROM (
        SELECT 1 AS lag, r1 AS acf, p11 AS pacf FROM u4
        UNION ALL SELECT 2, r2, p22 FROM u4
        UNION ALL SELECT 3, r3, p33 FROM u4
        UNION ALL SELECT 4, r4, p44 FROM u4
    )
    WHERE acf IS NOT NULL
    ORDER BY lag
    """,
)
def ts_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF and PACF (lags 1-4) of the daily series, the PACF via the
    Durbin-Levinson recursion UNROLLED into a fixed arithmetic DAG —
    the AR-order diagnostic (PACF cuts off after lag p for an AR(p)
    process) that ts_autocorr's raw ACF can't give you, because ACF
    confounds direct and propagated correlation.

    Scale shape: one daily collapse; demeaned lag products
    decimal-summed into a ONE-ROW ACF table; the recursion is pure
    scalar arithmetic on that row (identical IEEE ops both engines —
    the unrolled-iteration trick applied to a sequential recursion).
    Output reshaped to 4 (lag, acf, pacf) rows."""
    daily = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(dsum("value", "x"))
    )
    m = daily.agg(
        (
            F.sum(F.col("x").cast(DEC)).cast("double") / F.count("*")
        ).alias("mu")
    )
    w = Window.orderBy("day")
    lagged = daily.join(F.broadcast(m)).select(
        (F.col("x") - F.col("mu")).alias("d"),
        *[
            (F.lag("x", k).over(w) - F.col("mu")).alias(f"d{k}")
            for k in (1, 2, 3, 4)
        ],
    )
    dsum12 = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    r = lagged.agg(
        *[
            (
                dsum12(F.col("d") * F.col(f"d{k}"))
                / dsum12(F.col("d") * F.col("d"))
            ).alias(f"r{k}")
            for k in (1, 2, 3, 4)
        ]
    )
    u = r.withColumn("p11", F.col("r1"))
    u = u.withColumn(
        "p22",
        (F.col("r2") - F.col("p11") * F.col("r1"))
        / (1 - F.col("p11") * F.col("r1")),
    )
    u = u.withColumn("p21", F.col("p11") - F.col("p22") * F.col("p11"))
    u = u.withColumn(
        "p33",
        (
            F.col("r3")
            - F.col("p21") * F.col("r2")
            - F.col("p22") * F.col("r1")
        )
        / (
            1
            - F.col("p21") * F.col("r1")
            - F.col("p22") * F.col("r2")
        ),
    )
    u = u.withColumn(
        "p31", F.col("p21") - F.col("p33") * F.col("p22")
    ).withColumn("p32", F.col("p22") - F.col("p33") * F.col("p21"))
    u = u.withColumn(
        "p44",
        (
            F.col("r4")
            - F.col("p31") * F.col("r3")
            - F.col("p32") * F.col("r2")
            - F.col("p33") * F.col("r1")
        )
        / (
            1
            - F.col("p31") * F.col("r1")
            - F.col("p32") * F.col("r2")
            - F.col("p33") * F.col("r3")
        ),
    )
    rows = u.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        F.col(f"r{k}").alias("acf"),
                        F.col(p).alias("pacf"),
                    )
                    for k, p in (
                        (1, "p11"),
                        (2, "p22"),
                        (3, "p33"),
                        (4, "p44"),
                    )
                ]
            )
        ).alias("s")
    )
    return (
        rows.where(F.col("s.acf").isNotNull())
        .select(
            F.col("s.lag").alias("lag"),
            F.round("s.acf", 4).alias("acf"),
            F.round("s.pacf", 4).alias("pacf"),
        )
        .orderBy("lag")
    )


_CONC_GAP_S = 1800  # 30-minute session gap


@query(
    "ts_concurrency_sweepline",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER w)
                        > {_CONC_GAP_S}
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end
        FROM (SELECT user_id, ts,
                     SUM(new_s) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM ev)
        GROUP BY user_id, sid
    ),
    points AS (
        SELECT s_start AS t, 1 AS delta, user_id, sid FROM sess
        UNION ALL
        SELECT s_end, -1, user_id, sid FROM sess
    ),
    swept AS (
        SELECT t,
               SUM(delta) OVER (ORDER BY t, delta, user_id, sid
                   ROWS UNBOUNDED PRECEDING) AS conc,
               delta
        FROM points
    )
    SELECT CAST(date_trunc('day', t) AS DATE) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
           CAST(COUNT(CASE WHEN delta = 1 THEN 1 END) AS BIGINT)
               AS n_sessions_started
    FROM swept
    GROUP BY 1
    ORDER BY day
    """,
)
def ts_concurrency_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the sweep-line: sessionize
    each user's events (30-minute gap), emit +1/-1 at session
    start/end, prefix-sum in (time, delta) order — ends before starts
    at the same instant, so back-to-back sessions don't double-count
    — and take the daily maximum. THE capacity-planning number
    (licenses, connection pools, serving replicas) that event counts
    and DAU cannot give you.

    Scale shape: sessionization rides the per-user window (one
    shuffle); the sweep operates on SESSION endpoints (two rows per
    session, orders of magnitude below event grain). Locally one
    ordered prefix sum; at 100 TB the same sum distributes as the
    standard two-phase pattern (range-partition by time, per-partition
    sums, broadcast offsets — the pack_sequences idiom)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = spark.table("events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (
                F.col("ts").cast("long")
                - F.lag("ts").over(w).cast("long")
                > _CONC_GAP_S
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    wc = Window.partitionBy("user_id").orderBy(
        "ts", "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        ev.select(
            "user_id", "ts", F.sum("new_s").over(wc).alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    from powersql_spark.catalog import track_persist

    sess = track_persist(sess)
    points = sess.select(
        F.col("s_start").alias("t"),
        F.lit(1).alias("delta"),
        "user_id",
        "sid",
    ).unionAll(
        sess.select(
            F.col("s_end").alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            "sid",
        )
    )
    ws = Window.orderBy("t", "delta", "user_id", "sid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = points.select(
        "t", F.sum("delta").over(ws).alias("conc"), "delta"
    )
    return (
        swept.groupBy(
            F.date_trunc("day", "t").cast("date").alias("day")
        )
        .agg(
            F.max("conc").cast("bigint").alias("peak_concurrency"),
            F.count(F.when(F.col("delta") == 1, 1))
            .cast("bigint")
            .alias("n_sessions_started"),
        )
        .orderBy("day")
    )


@query(
    "ts_year_over_year",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                    AS DOUBLE) AS revenue
        FROM orders GROUP BY 1
    ),
    shifted AS (
        SELECT month, revenue,
               lag(revenue, 12) OVER (ORDER BY month) AS prev_year,
               lag(month, 12) OVER (ORDER BY month) AS prev_month
        FROM monthly
    )
    SELECT month, revenue, prev_year AS revenue_prior_year,
           CASE WHEN prev_year > 0 THEN
               {sql_jround(
                   "(revenue - prev_year) / prev_year", 4)} END
               AS yoy_growth
    FROM shifted
    WHERE prev_year IS NOT NULL
      AND prev_month = month - INTERVAL 12 MONTH
    ORDER BY month
    """,
)
def ts_year_over_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth: each month compared to
    the SAME month last year — the seasonality-immune growth readout
    (ts_week_over_week compares adjacent periods and confounds
    seasonal swings with real growth). The lag-12 row is only used
    when it really is 12 calendar months back (gap-safe: a missing
    month shifts the lag and the guard drops the row rather than
    comparing wrong months).

    Scale shape: one month-grain collapse (map-side-combinable
    decimal sums); the lag and guard ride one window over the tiny
    monthly table."""
    monthly = (
        spark.table("orders")
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias(
                "month"
            )
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.orderBy("month")
    shifted = monthly.select(
        "month",
        "revenue",
        F.lag("revenue", 12).over(w).alias("prev_year"),
        F.lag("month", 12).over(w).alias("prev_month"),
    )
    return (
        shifted.where(
            F.col("prev_year").isNotNull()
            & (F.col("prev_month") == F.add_months(F.col("month"), -12))
        )
        .select(
            "month",
            "revenue",
            F.col("prev_year").alias("revenue_prior_year"),
            F.when(
                F.col("prev_year") > 0,
                F.round(
                    (F.col("revenue") - F.col("prev_year"))
                    / F.col("prev_year"),
                    4,
                ),
            ).alias("yoy_growth"),
        )
        .orderBy("month")
    )


@query(
    "stats_ljung_box",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    m AS (
        SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*) AS mu,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM daily
    ),
    lagged AS (
        SELECT x - mu AS d,
               lag(x, 1) OVER (ORDER BY day) - mu AS d1,
               lag(x, 2) OVER (ORDER BY day) - mu AS d2,
               lag(x, 3) OVER (ORDER BY day) - mu AS d3,
               lag(x, 4) OVER (ORDER BY day) - mu AS d4,
               n
        FROM daily, m
    ),
    r AS (
        SELECT ANY_VALUE(n) AS n,
            CAST(SUM(CAST(d * d1 AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE)
                AS r1,
            CAST(SUM(CAST(d * d2 AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE)
                AS r2,
            CAST(SUM(CAST(d * d3 AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE)
                AS r3,
            CAST(SUM(CAST(d * d4 AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE)
                AS r4
        FROM lagged
    )
    SELECT n,
           {sql_jround(
               "n * (n + 2.0) * (r1 * r1 / (n - 1) + r2 * r2 / (n - 2)"
               " + r3 * r3 / (n - 3) + r4 * r4 / (n - 4))", 4)}
               AS q_stat,
           CASE WHEN n >= 20 THEN
               n * (n + 2.0) * (r1 * r1 / (n - 1) + r2 * r2 / (n - 2)
                   + r3 * r3 / (n - 3) + r4 * r4 / (n - 4)) > 9.4877
           END AS reject_white_noise_05
    FROM r
    WHERE n > 5
    """,
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (lags 1-4) on the daily series:
    Q = n(n+2) sum r_k^2/(n-k) against chi-square df=4 (9.4877 at
    alpha=0.05) — the 'is ANY autocorrelation left' gate run on
    forecaster residuals (ts_forecast_backtest) and before trusting
    i.i.d.-assuming tests, where ts_pacf_durbin diagnoses WHICH lag
    carries the structure. The Q -> chi2(4) asymptote needs the lag
    count small relative to the series (h <= n/5, Hyndman's rule:
    h = 4 -> n >= 20): below that the verdict is withheld (NULL)
    while Q stays reported (r10 sweep of the asymptotic-verdict
    class).

    Scale shape: identical cost to the PACF key — one daily collapse,
    decimal-exact ACF sufficient statistics on one row, closed-form
    statistic."""
    daily = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(dsum("value", "x"))
    )
    m = daily.agg(
        (
            F.sum(F.col("x").cast(DEC)).cast("double") / F.count("*")
        ).alias("mu"),
        F.count("*").cast("bigint").alias("n"),
    )
    w = Window.orderBy("day")
    lagged = daily.join(F.broadcast(m)).select(
        (F.col("x") - F.col("mu")).alias("d"),
        *[
            (F.lag("x", k).over(w) - F.col("mu")).alias(f"d{k}")
            for k in (1, 2, 3, 4)
        ],
        "n",
    )
    ds12 = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    r = lagged.agg(
        F.first("n").alias("n"),
        *[
            (
                ds12(F.col("d") * F.col(f"d{k}"))
                / ds12(F.col("d") * F.col("d"))
            ).alias(f"r{k}")
            for k in (1, 2, 3, 4)
        ],
    )
    q = (
        F.col("n")
        * (F.col("n") + 2.0)
        * sum(
            F.col(f"r{k}") * F.col(f"r{k}") / (F.col("n") - k)
            for k in (1, 2, 3, 4)
        )
    )
    return (
        r.where(F.col("n") > 5)
        .select(
            "n",
            F.round(q, 4).alias("q_stat"),
            # Q -> chi2(4) needs the lag count small relative to the
            # series (h <= n/5, Hyndman's rule: h=4 -> n >= 20);
            # below that the verdict is withheld (NULL) while Q stays
            # reported — asymptotic-verdict discipline, mirrored in
            # the oracle.
            F.when(F.col("n") >= 20, q > 9.4877).alias(
                "reject_white_noise_05"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Kalman filter (local-level model) per user series.
# ---------------------------------------------------------------------------

_KF_Q = 0.05  # process (state drift) variance
_KF_R = 1.0  # observation noise variance


@query(
    "ts_kalman_filter",
    # Recursive-CTE oracle (same per-step strategy as ts_holt_linear:
    # DuckDB list_reduce mis-evaluates struct accumulators, and a
    # per-step CTE is an independent evaluation of the recursion).
    # NULL p marks the first observation (p_prev = R exactly), folded
    # identically on both engines via COALESCE.
    oracle=f"""
    WITH RECURSIVE obs AS (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE value IS NOT NULL
    ),
    state AS (
        SELECT user_id, rn, ts, event_id, value,
               value AS x, CAST(NULL AS DOUBLE) AS p,
               CAST(NULL AS DOUBLE) AS iv
        FROM obs WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.rn, o.ts, o.event_id, o.value,
               s.x + ((COALESCE(s.p, {_KF_R}) + {_KF_Q})
                      / (COALESCE(s.p, {_KF_R}) + {_KF_Q} + {_KF_R}))
                   * (o.value - s.x) AS x,
               (1.0 - (COALESCE(s.p, {_KF_R}) + {_KF_Q})
                      / (COALESCE(s.p, {_KF_R}) + {_KF_Q} + {_KF_R}))
                   * (COALESCE(s.p, {_KF_R}) + {_KF_Q}) AS p,
               o.value - s.x AS iv
        FROM state s JOIN obs o
          ON o.user_id = s.user_id AND o.rn = s.rn + 1
    )
    SELECT user_id, ts, event_id, value,
           floor(x * 10000) / 10000 AS filtered,
           floor(COALESCE(p, {_KF_R}) * 10000) / 10000 AS p_var,
           floor(iv * 10000) / 10000 AS innovation
    FROM state
    """,
)
def ts_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (local-level / random-walk-plus-noise model)
    per user series: predict p_pred = p + Q, gain
    k = p_pred / (p_pred + R), update x += k * (z - x),
    p = (1 - k) * p_pred; initialized x_1 = z_1, p_1 = R. The
    uncertainty-aware smoother completing the EWMA -> Holt ->
    Holt-Winters ladder: the gain ADAPTS (high while uncertain, then
    converges to the steady state), and the innovation stream
    (z - x_pred) is the whitened residual monitoring feeds on
    (stats_ljung_box tests exactly these for leftover structure).

    Spark shape: the established running-frame left-fold — a
    (x, p, iv) STRUCT accumulator over a collect_list frame, pure JVM
    expressions, one (user_id) exchange shared with every other
    per-series key. Both engines fold bit-identical doubles in
    identical order; the FLOOR guard (not round) removes decimal
    half-boundary disagreement, exactly as ts_holt_linear documents.
    Same O(L^2)-per-series bound and the same mapInPandas escape
    hatch as EWMA for unbounded histories."""
    e = spark.table("events").where(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    elem = F.struct(
        F.col("value").alias("x"),
        F.lit(None).cast("double").alias("p"),
        F.lit(None).cast("double").alias("iv"),
    )
    obs = F.collect_list(elem).over(w)
    q_c = F.lit(_KF_Q)
    r_c = F.lit(_KF_R)

    def step(acc, el):
        pp = F.coalesce(acc.getField("p"), r_c) + q_c
        k = pp / (pp + r_c)
        return F.struct(
            (
                acc.getField("x")
                + k * (el.getField("x") - acc.getField("x"))
            ).alias("x"),
            ((F.lit(1.0) - k) * pp).alias("p"),
            (el.getField("x") - acc.getField("x")).alias("iv"),
        )

    st = F.aggregate(
        F.slice(obs, 2, F.greatest(F.size(obs) - 1, F.lit(0))),
        F.element_at(obs, 1),
        step,
    )
    return e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        (F.floor(st.getField("x") * 10000) / 10000).alias("filtered"),
        (
            F.floor(F.coalesce(st.getField("p"), r_c) * 10000) / 10000
        ).alias("p_var"),
        (F.floor(st.getField("iv") * 10000) / 10000).alias(
            "innovation"
        ),
    )


# ---------------------------------------------------------------------------
# SAX symbolic discretization (Lin et al. 2003).
# ---------------------------------------------------------------------------

_SAX_W = 8  # PAA segments per series (word length)
# Gaussian breakpoints for alphabet size 4: P(Z < -0.6745) = 0.25 etc.
_SAX_B1, _SAX_B2 = -0.6745, 0.6745


@query(
    "ts_sax_symbolic",
    oracle=f"""
    WITH obs AS (
        SELECT user_id, value,
               ntile({_SAX_W}) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS seg
        FROM events WHERE value IS NOT NULL
    ),
    mom AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS mu,
               sqrt(greatest(
                   CAST(SUM(CAST(value AS DECIMAL(18,6))
                            * CAST(value AS DECIMAL(18,6)))
                        AS DOUBLE) / COUNT(*)
                   - pow(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                              AS DOUBLE) / COUNT(*), 2),
                   0.0)) AS sd
        FROM obs GROUP BY user_id HAVING COUNT(*) >= {2 * _SAX_W}
    ),
    paa AS (
        SELECT user_id, seg,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS m
        FROM obs GROUP BY user_id, seg
    ),
    letters AS (
        SELECT p.user_id, p.seg, o.n_obs,
               CASE WHEN o.sd = 0 THEN 'c'
                    WHEN (p.m - o.mu) / o.sd < {_SAX_B1} THEN 'a'
                    WHEN (p.m - o.mu) / o.sd < 0 THEN 'b'
                    WHEN (p.m - o.mu) / o.sd < {_SAX_B2} THEN 'c'
                    ELSE 'd' END AS letter
        FROM paa p JOIN mom o USING (user_id)
    )
    SELECT user_id, ANY_VALUE(n_obs) AS n_obs,
           string_agg(letter, '' ORDER BY seg) AS sax_word
    FROM letters GROUP BY user_id
    """,
)
def ts_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. 2003) per
    user series: z-normalize, Piecewise Aggregate Approximation into
    8 equal-count segments (NTILE over the tie-broken order),
    then map each segment mean to a 4-letter alphabet by the Gaussian
    quartile breakpoints (+-0.6745) — every series becomes an 8-char
    word. THE discretization behind motif discovery, series indexing,
    and symbolic anomaly screens: words equal => series similar, and
    downstream the word is a GROUP BY key, not a vector.

    Scale shape: one (user_id) exchange shared by the NTILE window
    and both aggregates; decimal-exact moment and segment sums; z is
    only ever COMPARED (never rounded/emitted), and both engines
    build it from identical doubles, so the letters — and the word,
    assembled in segment order — hash-match without any rounding
    guard. Constant state per series; series length never
    materializes as width."""
    obs = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "value",
            F.ntile(_SAX_W)
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("seg"),
        )
    )
    from powersql_spark.catalog import track_persist

    obs = track_persist(obs)
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    mom = (
        obs.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            (F.sum(dec("value")).cast("double") / F.count("*")).alias(
                "mu"
            ),
            F.sqrt(
                F.greatest(
                    F.sum(dec("value") * dec("value")).cast("double")
                    / F.count("*")
                    - F.pow(
                        F.sum(dec("value")).cast("double")
                        / F.count("*"),
                        2,
                    ),
                    F.lit(0.0),
                )
            ).alias("sd"),
        )
        .where(F.col("n_obs") >= 2 * _SAX_W)
    )
    paa = obs.groupBy("user_id", "seg").agg(
        (F.sum(dec("value")).cast("double") / F.count("*")).alias("m")
    )
    z = (F.col("m") - F.col("mu")) / F.col("sd")
    letter = (
        F.when(F.col("sd") == 0, "c")
        .when(z < _SAX_B1, "a")
        .when(z < 0, "b")
        .when(z < _SAX_B2, "c")
        .otherwise("d")
    )
    letters = paa.join(mom, "user_id").select(
        "user_id", "seg", "n_obs", letter.alias("letter")
    )
    return letters.groupBy("user_id").agg(
        F.first("n_obs").alias("n_obs"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("seg", "letter"))
                ),
                lambda s: s.letter,
            ),
            "",
        ).alias("sax_word"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test per event-type daily series.
# ---------------------------------------------------------------------------


@query(
    "stats_runs_test",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, day, x,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY x, day) AS rx,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily
    ),
    med AS (
        SELECT event_type, MIN(CASE WHEN rx = (n_days + 1) // 2
                                    THEN x END) AS median_x
        FROM ranked GROUP BY event_type
    ),
    signs AS (
        SELECT r.event_type, r.day, r.n_days,
               CASE WHEN r.x > m.median_x THEN 1 ELSE -1 END AS sgn
        FROM ranked r JOIN med m USING (event_type)
        WHERE r.x <> m.median_x
    ),
    runs AS (
        SELECT event_type, ANY_VALUE(n_days) AS n_days,
               CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_above,
               CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below,
               CAST(1 + SUM(CASE WHEN sgn <> prev THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_runs
        FROM (SELECT *, lag(sgn) OVER (
                  PARTITION BY event_type ORDER BY day) AS prev
              FROM signs)
        GROUP BY event_type
    )
    SELECT event_type, n_days, n_above, n_below, n_runs,
           CASE WHEN n_above > 0 AND n_below > 0
                     AND n_above + n_below > 1 THEN
               {sql_jround(
                   "(n_runs - (2.0 * n_above * n_below"
                   " / (n_above + n_below) + 1))"
                   " / sqrt(2.0 * n_above * n_below"
                   " * (2.0 * n_above * n_below - n_above - n_below)"
                   " / ((n_above + n_below) * (n_above + n_below)"
                   "    * (n_above + n_below - 1.0)))", 4)}
           END AS z_stat,
           CASE WHEN n_above >= 10 AND n_below >= 10 THEN
               abs((n_runs - (2.0 * n_above * n_below
                    / (n_above + n_below) + 1))
                   / sqrt(2.0 * n_above * n_below
                   * (2.0 * n_above * n_below - n_above - n_below)
                   / ((n_above + n_below) * (n_above + n_below)
                      * (n_above + n_below - 1.0)))) < 1.96
           END AS random_ok_05
    FROM runs
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event-type daily series: values
    above/below the series LOWER median (median-equal days excluded,
    standard practice) form a +/- sequence; too FEW runs means
    clustering/trend, too MANY means oscillation. The nonparametric
    randomness gate beside stats_ljung_box's parametric ACF test —
    distribution-free, so it survives the heavy-tailed metrics that
    break Gaussian assumptions. The z normal approximation is a
    >= 10-per-side rule: the randomness verdict is withheld (NULL)
    below it while z stays reported under the domain guard (r10
    sweep of the asymptotic-verdict class).

    Scale shape: one (event_type, day) collapse, then every window
    (rank for the median, lag for the run boundaries) shares the
    event_type exchange on the metadata-sized daily table. R, n1, n2
    stay INTEGER; the median compare is decimal-exact; only the
    final z rounds (sql_jround)."""
    daily = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("x"))
    )
    wet = Window.partitionBy("event_type")
    from powersql_spark.catalog import track_persist

    # Both the median aggregate and the sign join consume `ranked`;
    # persist the metadata-sized daily table so the corpus collapse
    # runs once.
    ranked = track_persist(
        daily.select(
            "*",
            F.row_number().over(wet.orderBy("x", "day")).alias("rx"),
            F.count("*").over(wet).alias("n_days"),
        )
    )
    med = ranked.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rx") == ((F.col("n_days") + 1) / 2).cast("long"),
                F.col("x"),
            )
        ).alias("median_x")
    )
    signs = (
        ranked.join(med, "event_type")
        .where(F.col("x") != F.col("median_x"))
        .select(
            "event_type",
            "day",
            "n_days",
            F.when(F.col("x") > F.col("median_x"), 1)
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    lagged = signs.select(
        "*", F.lag("sgn").over(wet.orderBy("day")).alias("prev")
    )
    runs = lagged.groupBy("event_type").agg(
        F.first("n_days").alias("n_days"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_above"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_below"),
        (
            1
            + F.sum(
                F.when(F.col("sgn") != F.col("prev"), 1).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    n1, n2 = F.col("n_above"), F.col("n_below")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    sig = F.sqrt(
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    ok = (n1 > 0) & (n2 > 0) & (n1 + n2 > 1)
    z = (F.col("n_runs") - mu) / sig
    return runs.select(
        "event_type",
        "n_days",
        "n_above",
        "n_below",
        "n_runs",
        F.when(ok, F.round(z, 4)).alias("z_stat"),
        # The runs -> z normal approximation is a >= 10-per-side rule
        # (Wald-Wolfowitz); below it the randomness VERDICT is
        # withheld (NULL) while z stays reported under the domain
        # guard — asymptotic-verdict discipline, oracle-mirrored.
        F.when((n1 >= 10) & (n2 >= 10), F.abs(z) < 1.96).alias(
            "random_ok_05"
        ),
    )


# ---------------------------------------------------------------------------
# Dynamic Time Warping between hourly-of-day profiles.
# ---------------------------------------------------------------------------

_DTW_W = 24  # profile length (hours of day)
_DTW_INF = 1.0e18


@query(
    "ts_dtw_distance",
    # The DP recursion dp(i,j) = |a_i-b_j| + min(dp(i-1,j),
    # dp(i,j-1), dp(i-1,j-1)) is evaluated ONE CELL PER RECURSION in
    # a recursive CTE (j has a same-row dependency, so a row cannot
    # be built by an independent list_transform): state carries the
    # previous DP row and the growing current row as LISTs, exactly
    # like ts_holt_winters carries its seasonal list. Same double
    # arithmetic tree as Spark's nested fold -> bit-identical values.
    oracle=f"""
    WITH RECURSIVE prof AS (
        SELECT event_type,
               list(m ORDER BY hr) AS v
        FROM (
            SELECT event_type, hour(ts) AS hr,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(*) AS m
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        )
        GROUP BY event_type
        HAVING COUNT(*) = {_DTW_W}
    ),
    pairs AS (
        SELECT p1.event_type AS type_a, p2.event_type AS type_b,
               p1.v AS a, p2.v AS b
        FROM prof p1 JOIN prof p2 ON p1.event_type < p2.event_type
    ),
    dp AS (
        SELECT type_a, type_b, a, b, 1 AS i, 1 AS j,
               [0.0] || list_transform(range({_DTW_W}),
                                       x -> {_DTW_INF}) AS prev,
               [{_DTW_INF}] AS cur
        FROM pairs
        UNION ALL
        SELECT type_a, type_b, a, b,
               CASE WHEN j < {_DTW_W} THEN i ELSE i + 1 END,
               CASE WHEN j < {_DTW_W} THEN j + 1 ELSE 1 END,
               CASE WHEN j < {_DTW_W} THEN prev
                    ELSE list_append(cur,
                         abs(a[i] - b[j]) + least(prev[j], prev[j + 1],
                                                  cur[j])) END,
               CASE WHEN j < {_DTW_W} THEN
                   list_append(cur,
                       abs(a[i] - b[j]) + least(prev[j], prev[j + 1],
                                                cur[j]))
                    ELSE [{_DTW_INF}] END
        FROM dp WHERE i <= {_DTW_W}
    )
    SELECT type_a, type_b,
           round(prev[{_DTW_W + 1}], 4) AS dtw_distance,
           round(list_sum(list_transform(range(1, {_DTW_W + 1}),
               k -> abs(a[k] - b[k]))), 4) AS diag_distance,
           prev[{_DTW_W + 1}] <= list_sum(list_transform(
               range(1, {_DTW_W + 1}), k -> abs(a[k] - b[k])))
               AS dtw_le_diag
    FROM dp WHERE i = {_DTW_W + 1} AND j = 1
    """,
)
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Time Warping distance between every pair of
    event-type hourly-of-day profiles (24-point decimal-exact mean
    curves): the elastic similarity measure that aligns shifted /
    stretched shapes where Euclidean punishes any phase offset —
    THE series-similarity primitive behind shape clustering and
    pattern search (SAX words index it, DTW refines it). The
    L1-diagonal path bounds it from above (dtw_le_diag gates the
    admissibility invariant in-query).

    Spark shape: the corpus collapses once to O(types x 24) profile
    rows; pairs are a tiny self-join; the O(w^2) DP runs as a nested
    JVM higher-order fold — outer over a's elements carrying the
    previous DP ROW as the accumulator array, inner over b's
    elements appending cells (dp(i,j-1) = last element of the
    growing row, dp(i-1,*) = captured outer accumulator). No UDF, no
    driver loop; per-pair cost is constant (24x24), independent of
    corpus size."""
    prof = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy("event_type", F.hour("ts").alias("hr"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("m")
        )
        .groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("hr", "m"))),
                lambda s: s.m,
            ).alias("v"),
            F.count("*").alias("n_hr"),
        )
        .where(F.col("n_hr") == _DTW_W)
        .drop("n_hr")
    )
    from powersql_spark.catalog import track_persist

    # Both sides of the pair self-join read `prof`; persist the
    # O(types) profile table so the corpus collapse runs once.
    prof = track_persist(prof)
    pairs = (
        prof.alias("p1")
        .join(
            prof.alias("p2"),
            F.col("p1.event_type") < F.col("p2.event_type"),
        )
        .select(
            F.col("p1.event_type").alias("type_a"),
            F.col("p2.event_type").alias("type_b"),
            F.col("p1.v").alias("a"),
            F.col("p2.v").alias("b"),
        )
    )
    inf = F.lit(_DTW_INF)
    prev0 = F.concat(
        F.array(F.lit(0.0)), F.array_repeat(inf, _DTW_W)
    )

    def outer_step(prev, ai):
        # Build DP row i: cur starts at [inf] (dp(i,0)); computing
        # cell j reads dp(i-1,j-1)=prev[j], dp(i-1,j)=prev[j+1],
        # dp(i,j-1)=cur[-1], with j == size(cur).
        return F.aggregate(
            F.col("b"),
            F.array(inf),
            lambda cur, bj: F.concat(
                cur,
                F.array(
                    F.abs(ai - bj)
                    + F.least(
                        F.element_at(prev, F.size(cur)),
                        F.element_at(prev, F.size(cur) + 1),
                        F.element_at(cur, -1),
                    )
                ),
            ),
        )

    final_row = F.aggregate(F.col("a"), prev0, outer_step)
    diag = F.aggregate(
        F.zip_with(F.col("a"), F.col("b"), lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dtw = F.element_at(final_row, _DTW_W + 1)
    return pairs.select(
        "type_a",
        "type_b",
        F.round(dtw, 4).alias("dtw_distance"),
        F.round(diag, 4).alias("diag_distance"),
        (dtw <= diag).alias("dtw_le_diag"),
    )


# F(1, d) 0.95 quantiles as a step function of d = n - 3 (ADVICE r6: the
# chi2_1 asymptote 3.8415 is anti-conservative at small n — e.g. the true
# cutoff is ~4.21 at n=30). Each entry is (d_min, crit); crit decreases in
# d, and the step picks the entry with the LARGEST d_min <= d, so the
# applied cutoff is always >= the exact F quantile (conservative). Values
# are the standard F table (= t(d, .975)^2); the final bucket keeps 3.8508
# (d=1000) rather than the asymptote so even huge-n stays non-anti-
# conservative. One shared tuple builds BOTH the Spark CASE and the DuckDB
# CASE, so the engines cannot disagree.
_GRANGER_FTABLE: tuple[tuple[int, float], ...] = (
    (1000, 3.8508),
    (120, 3.9201),
    (60, 4.0012),
    (40, 4.0847),
    (30, 4.1709),
    (25, 4.2417),
    (20, 4.3512),
    (15, 4.5431),
    (12, 4.7472),
    (10, 4.9646),
    (9, 5.1174),
    (8, 5.3177),
    (7, 5.5914),
    (6, 5.9874),
    (5, 6.6079),
    (4, 7.7086),
    (3, 10.128),
    (2, 18.513),
    (1, 161.45),
)


def _granger_fcrit_sql(d_expr: str) -> str:
    """SQL CASE computing the conservative F(1, d) 0.95 cutoff."""
    arms = " ".join(
        f"WHEN {d_expr} >= {dmin} THEN {crit}"
        for dmin, crit in _GRANGER_FTABLE
    )
    # CAST: DuckDB types the numeric literals DECIMAL; Spark's twin
    # emits DOUBLE, and the driver's comparator is type-sensitive.
    return f"CAST((CASE {arms} END) AS DOUBLE)"


def _granger_fcrit_col(d):
    """Spark column twin of :func:`_granger_fcrit_sql` (same table)."""
    expr = F.lit(None).cast("double")
    for dmin, crit in reversed(_GRANGER_FTABLE):
        expr = F.when(d >= F.lit(dmin), F.lit(crit)).otherwise(expr)
    return expr


def _granger_dir_sql(name: str, resp: str, own: str, other: str) -> str:
    """One direction's closed-form nested-OLS F readout (SQL text) over
    the pinned raw moments of the lagged hourly frame."""
    return f"""
    SELECT '{name}' AS direction, n AS n_obs,
           CAST(round(CAST(CAST((
               ((syy - s1y * s1y / s11)
                - (syy - b1u * s1y - b2u * s2y))
               / ((syy - b1u * s1y - b2u * s2y) / (n - 3))
           ) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS f_stat,
           f_crit,
           ((syy - s1y * s1y / s11)
            - (syy - b1u * s1y - b2u * s2y))
           / ((syy - b1u * s1y - b2u * s2y) / (n - 3))
               > f_crit AS causal_5pct
    FROM (
        SELECT n, syy, s11, s22, s12, s1y, s2y,
               (s2y * s11 - s1y * s12)
                   / (s22 * s11 - s12 * s12) AS b2u,
               (s1y - (s2y * s11 - s1y * s12)
                      / (s22 * s11 - s12 * s12) * s12) / s11 AS b1u,
               {_granger_fcrit_sql("(n - 3)")} AS f_crit
        FROM (
            SELECT CAST(cnt AS BIGINT) AS n,
                   sum_{resp}2 - sum_{resp} * sum_{resp} / cnt AS syy,
                   sum_{own}2 - sum_{own} * sum_{own} / cnt AS s11,
                   sum_{other}2 - sum_{other} * sum_{other} / cnt
                       AS s22,
                   sum_{own}_{other}
                       - sum_{own} * sum_{other} / cnt AS s12,
                   sum_{own}_{resp}
                       - sum_{own} * sum_{resp} / cnt AS s1y,
                   sum_{other}_{resp}
                       - sum_{other} * sum_{resp} / cnt AS s2y
            FROM moments
        ) c
    ) s
    WHERE n > 3
    """


@query(
    "ts_granger_causality",
    oracle=f"""
    WITH hourly AS MATERIALIZED (
        SELECT epoch(date_trunc('hour', ts)) AS he,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                    THEN CAST(value AS DECIMAL(28,6)) END), 0) AS DOUBLE)
                   AS x,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(28,6)) END), 0) AS DOUBLE)
                   AS y
        FROM events
        WHERE value IS NOT NULL
          AND event_type IN ('click', 'purchase')
        GROUP BY 1
    ),
    lagged AS MATERIALIZED (
        SELECT y AS yt, x AS xt,
               LAG(y) OVER (ORDER BY he) AS yl,
               LAG(x) OVER (ORDER BY he) AS xl
        FROM hourly
        QUALIFY yl IS NOT NULL
    ),
    moments AS MATERIALIZED (
        SELECT
          CAST(SUM(CAST(round(yt, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sum_yt,
          CAST(SUM(CAST(round(xt, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sum_xt,
          CAST(SUM(CAST(round(yl, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sum_yl,
          CAST(SUM(CAST(round(xl, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sum_xl,
          CAST(SUM(CAST(round(yt * yt, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_yt2,
          CAST(SUM(CAST(round(xt * xt, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_xt2,
          CAST(SUM(CAST(round(yl * yl, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_yl2,
          CAST(SUM(CAST(round(xl * xl, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_xl2,
          CAST(SUM(CAST(round(yl * xl, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_yl_xl,
          CAST(SUM(CAST(round(xl * yl, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_xl_yl,
          CAST(SUM(CAST(round(yl * yt, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_yl_yt,
          CAST(SUM(CAST(round(xl * yt, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_xl_yt,
          CAST(SUM(CAST(round(xl * xt, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_xl_xt,
          CAST(SUM(CAST(round(yl * xt, 6) AS DECIMAL(38,6))) AS DOUBLE)
              AS sum_yl_xt,
          COUNT(*) AS cnt
        FROM lagged
    )
    {_granger_dir_sql("click->purchase", "yt", "yl", "xl")}
    UNION ALL
    {_granger_dir_sql("purchase->click", "xt", "xl", "yl")}
    ORDER BY direction
    """,
)
def ts_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (lag 1) between the hourly click and purchase
    value series, both directions: does adding last hour's OTHER
    series to an AR(1) of the response reduce the residual sum of
    squares more than chance — F = (RSS_restricted - RSS_full)
    / (RSS_full / (n-3)) against the n-dependent F(1, n-3) 0.95
    cutoff (conservative step table `_GRANGER_FTABLE`, emitted as
    `f_crit`; ADVICE r6 — the chi2 asymptote was anti-conservative at
    small n). Closed-form two-predictor OLS from centered moments (no
    iterative solver), the significance upgrade of
    ts_cross_correlation_lag's descriptive CCF.

    Scale shape: one events scan collapses to the hourly grid
    (decimal-summed, so the series is bit-identical across engines);
    the lag is one window over that bounded frame, and every raw
    moment is 6dp-decimal-pinned before the one-row closed-form
    solve — both directions read the same moment row."""
    from powersql_spark.catalog import track_persist

    e = spark.table("events").where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    dec = F.col("value").cast("decimal(28,6)")
    hourly = e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("he")
    ).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", dec)), F.lit(0)
        )
        .cast("double")
        .alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", dec)),
            F.lit(0),
        )
        .cast("double")
        .alias("y"),
    )
    w = Window.orderBy("he")
    lagged = (
        hourly.select(
            F.col("y").alias("yt"),
            F.col("x").alias("xt"),
            F.lag("y").over(w).alias("yl"),
            F.lag("x").over(w).alias("xl"),
        )
        .where(F.col("yl").isNotNull())
    )

    def pin(c):
        return F.sum(F.round(c, 6).cast("decimal(38,6)")).cast("double")

    yt, xt, yl, xl = (F.col(c) for c in ("yt", "xt", "yl", "xl"))
    moments = track_persist(
        lagged.agg(
            pin(yt).alias("sum_yt"),
            pin(xt).alias("sum_xt"),
            pin(yl).alias("sum_yl"),
            pin(xl).alias("sum_xl"),
            pin(yt * yt).alias("sum_yt2"),
            pin(xt * xt).alias("sum_xt2"),
            pin(yl * yl).alias("sum_yl2"),
            pin(xl * xl).alias("sum_xl2"),
            pin(yl * xl).alias("sum_yl_xl"),
            pin(xl * yl).alias("sum_xl_yl"),
            pin(yl * yt).alias("sum_yl_yt"),
            pin(xl * yt).alias("sum_xl_yt"),
            pin(xl * xt).alias("sum_xl_xt"),
            pin(yl * xt).alias("sum_yl_xt"),
            F.count("*").alias("cnt"),
        )
    )

    def direction(name: str, resp: str, own: str, other: str):
        n = F.col("cnt")
        syy = F.col(f"sum_{resp}2") - F.col(f"sum_{resp}") * F.col(
            f"sum_{resp}"
        ) / n
        s11 = F.col(f"sum_{own}2") - F.col(f"sum_{own}") * F.col(
            f"sum_{own}"
        ) / n
        s22 = F.col(f"sum_{other}2") - F.col(f"sum_{other}") * F.col(
            f"sum_{other}"
        ) / n
        s12 = F.col(f"sum_{own}_{other}") - F.col(f"sum_{own}") * F.col(
            f"sum_{other}"
        ) / n
        s1y = F.col(f"sum_{own}_{resp}") - F.col(f"sum_{own}") * F.col(
            f"sum_{resp}"
        ) / n
        s2y = F.col(f"sum_{other}_{resp}") - F.col(
            f"sum_{other}"
        ) * F.col(f"sum_{resp}") / n
        b2u = (s2y * s11 - s1y * s12) / (s22 * s11 - s12 * s12)
        b1u = (s1y - b2u * s12) / s11
        rss_u = syy - b1u * s1y - b2u * s2y
        rss_r = syy - s1y * s1y / s11
        f_stat = (rss_r - rss_u) / (rss_u / (n - 3))
        f_crit = _granger_fcrit_col(n - 3)
        return moments.where(n > 3).select(
            F.lit(name).alias("direction"),
            n.cast("bigint").alias("n_obs"),
            F.round(f_stat, 4).alias("f_stat"),
            f_crit.alias("f_crit"),
            (f_stat > f_crit).alias("causal_5pct"),
        )

    return (
        direction("click->purchase", "yt", "yl", "xl")
        .unionAll(direction("purchase->click", "xt", "xl", "yl"))
        .orderBy("direction")
    )


_HURST_SIZES = (8, 16, 32, 64)
_HURST_LX = tuple(math.log(m) for m in _HURST_SIZES)
_HURST_MX = sum(_HURST_LX) / len(_HURST_LX)
_HURST_SSX = sum((x - _HURST_MX) ** 2 for x in _HURST_LX)
# OLS slope weights: H = sum_i w_i * ln(mean_RS_i) — constants, so the
# log-log regression is a literal linear combination in both engines.
_HURST_W = tuple((x - _HURST_MX) / _HURST_SSX for x in _HURST_LX)


def _hurst_size_sql(m: int) -> str:
    """mean R/S at block size m (SQL text, one row: n_blocks, mean_rs)."""
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks_{m},
           CAST(SUM(CAST(round(rs, 8) AS DECIMAL(38,8))) AS DOUBLE)
               / COUNT(*) AS rs_{m}
    FROM (
        SELECT b,
               CAST(MAX(cum) - MIN(cum) AS DOUBLE)
                   / sqrt(CAST(SUM(CAST(round(d * d, 8)
                         AS DECIMAL(38,8))) AS DOUBLE) / {m}) AS rs
        FROM (
            SELECT b, d,
                   SUM(CAST(round(d, 6) AS DECIMAL(28,6)))
                       OVER (PARTITION BY b ORDER BY t
                             ROWS UNBOUNDED PRECEDING) AS cum
            FROM (
                SELECT b, t,
                       y - CAST(SUM(CAST(y AS DECIMAL(28,6)))
                                OVER (PARTITION BY b) AS DOUBLE)
                           / {m} AS d
                FROM (
                    SELECT y, t, (t - 1) // {m} AS b,
                           COUNT(*) OVER (
                               PARTITION BY (t - 1) // {m}) AS kk
                    FROM idx
                ) blk WHERE kk = {m}
            ) dev
        ) cums
        GROUP BY b
        HAVING SUM(CAST(round(d * d, 8) AS DECIMAL(38,8))) > 0
    ) per_block
    """


@query(
    "ts_hurst_exponent",
    oracle=f"""
    WITH hours AS MATERIALIZED (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1
    ),
    idx AS MATERIALIZED (
        SELECT y, ROW_NUMBER() OVER (ORDER BY hr) AS t FROM hours
    ),
    {", ".join(f"rs{m} AS MATERIALIZED ({_hurst_size_sql(m)})"
               for m in _HURST_SIZES)},
    n_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours FROM idx)
    SELECT n_hours,
           {", ".join(f"n_blocks_{m}, "
                      + "CAST(round(CAST(CAST(rs_" + str(m)
                      + " AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE)"
                      + f" AS mean_rs_{m}" for m in _HURST_SIZES)},
           CAST(round(CAST(CAST((
               {" + ".join(f"({w!r}) * round(ln(rs_{m}), 8)"
                           for m, w in zip(_HURST_SIZES, _HURST_W))}
           ) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS hurst_h
    FROM n_t, {", ".join(f"rs{m}" for m in _HURST_SIZES)}
    """,
)
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly event-count series by classical
    rescaled-range (R/S) analysis: for block sizes 8/16/32/64, split
    the series into full blocks, compute R (range of the cumulative
    mean-deviation) over S (block standard deviation), and fit
    H = slope of log mean(R/S) vs log block size. H ~ 0.5 is a
    memoryless series; H > 0.5 long-range persistence (busy hours
    cluster) — the long-memory diagnostic beside ts_autocorr's
    short-lag view. The log-log OLS weights are plan literals, so the
    whole fit is a 4-term linear combination.

    Scale shape: one scan collapses to the bounded hourly grid; each
    block size is an independent window + group pass on that frame
    (deviations and squares decimal-pinned, the running cumulative sum
    exact in DECIMAL, so R, S and every mean R/S are bit-identical
    across engines and partition counts); the four 1-row size frames
    broadcast into the final literal fit."""
    from powersql_spark.catalog import track_persist

    hours = spark.table("events").groupBy(
        F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("double").alias("y"))
    idx = track_persist(
        hours.select(
            "y", F.row_number().over(Window.orderBy("hr")).alias("t")
        )
    )

    def size_frame(m: int):
        b = ((F.col("t") - 1) / m).cast("bigint")
        blk = idx.select("y", "t", b.alias("b")).withColumn(
            "kk", F.count("*").over(Window.partitionBy("b"))
        ).where(F.col("kk") == m)
        mu = (
            F.sum(F.col("y").cast("decimal(28,6)"))
            .over(Window.partitionBy("b"))
            .cast("double")
            / m
        )
        dev = blk.select("b", "t", (F.col("y") - mu).alias("d"))
        cum = (
            F.sum(F.round(F.col("d"), 6).cast("decimal(28,6)"))
            .over(
                Window.partitionBy("b")
                .orderBy("t")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        )
        cums = dev.select("b", "d", cum.alias("cum"))
        sq = F.sum(
            F.round(F.col("d") * F.col("d"), 8).cast("decimal(38,8)")
        )
        per_block = (
            cums.groupBy("b")
            .agg(
                (
                    (F.max("cum") - F.min("cum")).cast("double")
                    / F.sqrt(sq.cast("double") / m)
                ).alias("rs"),
                sq.alias("ssq"),
            )
            .where(F.col("ssq") > 0)
        )
        return per_block.agg(
            F.count("*").cast("bigint").alias(f"n_blocks_{m}"),
            (
                F.sum(F.round(F.col("rs"), 8).cast("decimal(38,8)"))
                .cast("double")
                / F.count("*")
            ).alias(f"rs_{m}"),
        )

    out = idx.agg(F.count("*").cast("bigint").alias("n_hours"))
    for m in _HURST_SIZES:
        out = out.crossJoin(F.broadcast(size_frame(m)))
    h = None
    for m, w in zip(_HURST_SIZES, _HURST_W):
        term = F.lit(w) * F.round(F.log(F.col(f"rs_{m}")), 8)
        h = term if h is None else h + term
    return out.select(
        "n_hours",
        *[
            c
            for m in _HURST_SIZES
            for c in (
                F.col(f"n_blocks_{m}"),
                F.round(F.col(f"rs_{m}"), 4).alias(f"mean_rs_{m}"),
            )
        ],
        F.round(h, 4).alias("hurst_h"),
    )


# ---------------------------------------------------------------------------
# Round-11 technical-indicator family on per-type daily revenue.
#
# One shared construction: y = decimal-exact daily value sum per
# event_type (5 series x 30 days at any SF — the corpus collapses once;
# everything downstream rides the metadata-sized daily table).
# ---------------------------------------------------------------------------

_TSD_CTE = """
    daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    AS DECIMAL(18,6)) AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    )
"""


def _typed_daily(spark: SparkSession) -> DataFrame:
    """Spark twin of ``_TSD_CTE``: (event_type, day, y) with y an
    exact DECIMAL(18,6) daily sum."""
    return (
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


@query(
    "ts_bollinger_bands",
    oracle=f"""
    WITH {_TSD_CTE},
    roll AS (
        SELECT event_type, day, y,
               COUNT(*) OVER w AS n_w,
               CAST(SUM(y) OVER w AS DOUBLE) AS s1,
               CAST(SUM(CAST(y AS DECIMAL(19,6))
                        * CAST(y AS DECIMAL(19,6))) OVER w
                    AS DOUBLE) AS s2
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, CAST(y AS DOUBLE) AS y,
           {sql_jround("s1 / 7", 4)} AS mid,
           round(sqrt((s2 - s1 * s1 / 7) / 6), 4) AS sd,
           round(s1 / 7 + 2 * sqrt((s2 - s1 * s1 / 7) / 6), 4)
               AS upper_band,
           round(s1 / 7 - 2 * sqrt((s2 - s1 * s1 / 7) / 6), 4)
               AS lower_band,
           CAST(y AS DOUBLE)
               > s1 / 7 + 2 * sqrt((s2 - s1 * s1 / 7) / 6)
               OR CAST(y AS DOUBLE)
               < s1 / 7 - 2 * sqrt((s2 - s1 * s1 / 7) / 6)
               AS breakout
    FROM roll WHERE n_w = 7
    ORDER BY event_type, day
    """,
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (7-day rolling mean +/- 2 rolling sd) per
    event-type daily series, with breakout days flagged — the
    volatility-envelope anomaly screen: a breakout is a day more than
    two local standard deviations from its own recent level, the
    adaptive sibling of the global-threshold ts_anomaly_zscore.

    Scale shape: one corpus collapse to the per-type daily table;
    rolling sums ride ONE (event_type) exchange as window aggregates
    over exact decimals (y and y^2 both decimal — the rolling moments
    are order-independent), so mid/sd/bands replay exactly; only full
    7-day windows emit."""
    daily = _typed_daily(spark)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    y19 = F.col("y").cast("decimal(19,6)")
    roll = daily.select(
        "event_type",
        "day",
        "y",
        F.count("*").over(w).alias("n_w"),
        F.sum("y").over(w).cast("double").alias("s1"),
        F.sum(y19 * y19).over(w).cast("double").alias("s2"),
    )
    s1, s2 = F.col("s1"), F.col("s2")
    sd = F.sqrt((s2 - s1 * s1 / 7) / 6)
    up, lo = s1 / 7 + 2 * sd, s1 / 7 - 2 * sd
    yv = F.col("y").cast("double")
    return (
        roll.where(F.col("n_w") == 7)
        .select(
            "event_type",
            "day",
            yv.alias("y"),
            F.round(s1 / 7, 4).alias("mid"),
            F.round(sd, 4).alias("sd"),
            F.round(up, 4).alias("upper_band"),
            F.round(lo, 4).alias("lower_band"),
            ((yv > up) | (yv < lo)).alias("breakout"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "ts_rsi",
    oracle=f"""
    WITH {_TSD_CTE},
    delta AS (
        SELECT event_type, day,
               CAST(y - LAG(y) OVER (PARTITION BY event_type
                                     ORDER BY day)
                    AS DECIMAL(18,6)) AS d
        FROM daily
    ),
    gl AS (
        SELECT event_type, day,
               COUNT(d) OVER w AS n_w,
               CAST(SUM(CASE WHEN d > 0 THEN d
                        ELSE CAST(0 AS DECIMAL(18,6)) END) OVER w
                    AS DOUBLE) AS sg,
               CAST(SUM(CASE WHEN d < 0 THEN -d
                        ELSE CAST(0 AS DECIMAL(18,6)) END) OVER w
                    AS DOUBLE) AS sl
        FROM delta WHERE d IS NOT NULL
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           {sql_jround(
               "CASE WHEN sg + sl = 0 THEN 50.0"
               " ELSE 100.0 * sg / (sg + sl) END", 4)} AS rsi,
           CASE WHEN sg + sl = 0 THEN 50.0
                ELSE 100.0 * sg / (sg + sl) END > 70 AS overbought,
           CASE WHEN sg + sl = 0 THEN 50.0
                ELSE 100.0 * sg / (sg + sl) END < 30 AS oversold
    FROM gl WHERE n_w = 14
    ORDER BY event_type, day
    """,
)
def ts_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI (14-day simple-moving-average form) per
    event-type daily series: 100 * sum(gains) / (sum(gains) +
    sum(losses)) over the trailing 14 deltas, with the classic 70/30
    overbought/oversold flags — the mean-reversion momentum readout;
    Cutler's SMA variant is used (rather than Wilder's recursive
    smoothing) because it is windowed, hence backfill-stable and
    partition-exact.

    Scale shape: deltas and rolling gain/loss sums are window
    aggregates over exact decimals on ONE (event_type) exchange; the
    day with an incomplete 14-delta window is withheld. The RSI
    ratio's terminating-decimal rounding is replayed by the oracle's
    shortest-repr round."""
    daily = _typed_daily(spark)
    wlag = Window.partitionBy("event_type").orderBy("day")
    delta = daily.select(
        "event_type",
        "day",
        (F.col("y") - F.lag("y").over(wlag))
        .cast("decimal(18,6)")
        .alias("d"),
    ).where(F.col("d").isNotNull())
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, Window.currentRow)
    )
    zero = F.lit(0).cast("decimal(18,6)")
    gl = delta.select(
        "event_type",
        "day",
        F.count("d").over(w).alias("n_w"),
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(zero))
        .over(w)
        .cast("double")
        .alias("sg"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(zero))
        .over(w)
        .cast("double")
        .alias("sl"),
    )
    rsi = F.when(F.col("sg") + F.col("sl") == 0, F.lit(50.0)).otherwise(
        100.0 * F.col("sg") / (F.col("sg") + F.col("sl"))
    )
    return (
        gl.where(F.col("n_w") == 14)
        .select(
            "event_type",
            "day",
            F.round(rsi, 4).alias("rsi"),
            (rsi > 70).alias("overbought"),
            (rsi < 30).alias("oversold"),
        )
        .orderBy("event_type", "day")
    )


_MACD_FOLD = (
    "list_reduce(vals, (acc, x) -> acc * {om} + {a} * x)"
)


@query(
    "ts_macd",
    oracle=f"""
    WITH {_TSD_CTE},
    listed AS (
        SELECT event_type, day,
               list(CAST(y AS DOUBLE)) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS vals
        FROM daily
    ),
    line AS (
        SELECT event_type, day,
               {_MACD_FOLD.format(om=11.0 / 13.0, a=2.0 / 13.0)}
                   - {_MACD_FOLD.format(om=25.0 / 27.0, a=2.0 / 27.0)}
                   AS macd
        FROM listed
    ),
    sig AS (
        SELECT event_type, day, macd,
               list(macd) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS mvals
        FROM line
    )
    SELECT event_type, day,
           round(macd, 4) AS macd,
           round(list_reduce(mvals,
               (acc, x) -> acc * {8.0 / 10.0} + {2.0 / 10.0} * x), 4)
               AS signal,
           round(macd - list_reduce(mvals,
               (acc, x) -> acc * {8.0 / 10.0} + {2.0 / 10.0} * x), 4)
               AS histogram,
           macd > list_reduce(mvals,
               (acc, x) -> acc * {8.0 / 10.0} + {2.0 / 10.0} * x)
               AS bullish
    FROM sig
    ORDER BY event_type, day
    """,
)
def ts_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD (12/26-day EMA difference) with its 9-day EMA signal line
    and histogram per event-type daily series: the trend-following
    crossover indicator — histogram sign flips mark momentum
    reversals. EMAs use the pandas ``adjust=False`` recursion seeded
    at the first observation, computed as the ts_ewma running-list
    fold so both engines walk the identical prefix in the identical
    order (bit-identical doubles before the single final rounding).

    Scale shape: the series is the metadata-sized per-type daily
    table, so the O(L^2) running-frame fold is constant work (L = 30
    at any corpus scale — growth adds event types, not days); one
    (event_type) exchange carries all three folds."""
    daily = _typed_daily(spark)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vals = F.collect_list(F.col("y").cast("double")).over(w)

    def ema(col, alpha: float):
        a = F.lit(alpha)
        return F.aggregate(
            F.slice(col, 2, F.greatest(F.size(col) - 1, F.lit(0))),
            F.element_at(col, 1),
            lambda acc, x: acc * (F.lit(1.0) - a) + a * x,
        )

    line = daily.select(
        "event_type",
        "day",
        (ema(vals, 2.0 / 13.0) - ema(vals, 2.0 / 27.0)).alias("macd"),
    )
    mvals = F.collect_list("macd").over(w)
    sig = line.select(
        "event_type", "day", "macd", mvals.alias("mvals")
    )
    signal = ema(F.col("mvals"), 2.0 / 10.0)
    return sig.select(
        "event_type",
        "day",
        F.round("macd", 4).alias("macd"),
        F.round(signal, 4).alias("signal"),
        F.round(F.col("macd") - signal, 4).alias("histogram"),
        (F.col("macd") > signal).alias("bullish"),
    ).orderBy("event_type", "day")


@query(
    "ts_turning_points",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6)))
                    AS DECIMAL(18,6)) AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    ctx AS (
        SELECT event_type, y,
               LAG(y)  OVER (PARTITION BY event_type ORDER BY day)
                   AS yp,
               LEAD(y) OVER (PARTITION BY event_type ORDER BY day)
                   AS yn
        FROM daily
    ),
    marks AS (
        SELECT event_type,
               CAST(COUNT(*) + 2 AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN y > yp AND y > yn THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_peaks,
               CAST(SUM(CASE WHEN y < yp AND y < yn THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_troughs
        FROM ctx WHERE yp IS NOT NULL AND yn IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n_days, n_peaks, n_troughs,
           round(2.0 * (n_days - 2) / 3.0, 4) AS expected_turns,
           round((n_peaks + n_troughs - 2.0 * (n_days - 2) / 3.0)
                 / sqrt((16.0 * n_days - 29) / 90.0), 4) AS z_stat
    FROM marks
    ORDER BY event_type
    """,
)
def ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test of randomness per event-type daily series:
    count strict local maxima and minima and compare against the
    i.i.d. expectation 2(n-2)/3 with variance (16n-29)/90 — fewer
    turns than expected means trend/momentum, more means
    oscillation/over-differencing. The distribution-free
    trend-detection sibling of stats_runs_test (which tests sign
    runs; this tests shape).

    Scale shape: lag/lead neighbor tests on exact decimals over ONE
    (event_type) exchange; per-type counts are a constant-row
    aggregate. Interior ties break strictly (a plateau is not a
    turn), identically on both engines."""
    daily = _typed_daily(spark)
    wlag = Window.partitionBy("event_type").orderBy("day")
    ctx = daily.select(
        "event_type",
        "y",
        F.lag("y").over(wlag).alias("yp"),
        F.lead("y").over(wlag).alias("yn"),
    ).where(F.col("yp").isNotNull() & F.col("yn").isNotNull())
    marks = ctx.groupBy("event_type").agg(
        (F.count("*") + 2).cast("bigint").alias("n_days"),
        F.sum(
            F.when(
                (F.col("y") > F.col("yp")) & (F.col("y") > F.col("yn")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_peaks"),
        F.sum(
            F.when(
                (F.col("y") < F.col("yp")) & (F.col("y") < F.col("yn")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_troughs"),
    )
    n = F.col("n_days")
    mu = 2.0 * (n - 2) / 3.0
    return marks.select(
        "event_type",
        "n_days",
        "n_peaks",
        "n_troughs",
        F.round(mu, 4).alias("expected_turns"),
        F.round(
            (F.col("n_peaks") + F.col("n_troughs") - mu)
            / F.sqrt((16.0 * n - 29) / 90.0),
            4,
        ).alias("z_stat"),
    ).orderBy("event_type")


@query(
    "ts_variance_ratio",
    oracle=f"""
    WITH {_TSD_CTE},
    ret AS (
        SELECT event_type, day,
               ln(CAST(y AS DOUBLE)
                  / CAST(LAG(y) OVER (PARTITION BY event_type
                                      ORDER BY day) AS DOUBLE)) AS r
        FROM daily
    ),
    base AS (
        SELECT event_type, CAST(COUNT(r) AS BIGINT) AS n,
               CAST(SUM(CAST(round(r, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sr,
               CAST(SUM(CAST(round(r * r, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS srr
        FROM ret WHERE r IS NOT NULL GROUP BY event_type
    ),
    qs AS (
        SELECT event_type, day, q,
               SUM(r) OVER (PARTITION BY event_type, q ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                   AS s_raw,
               COUNT(r) OVER (PARTITION BY event_type, q ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                   AS cnt_w,
               SUM(r) OVER (PARTITION BY event_type, q ORDER BY day
                            ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
                   AS s2_raw,
               COUNT(r) OVER (PARTITION BY event_type, q ORDER BY day
                            ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
                   AS cnt2_w
        FROM ret, (SELECT 2 AS q UNION ALL SELECT 4) qq
        WHERE r IS NOT NULL
    ),
    qsum AS (
        SELECT event_type, q,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST(round(CASE WHEN q = 2 THEN s2_raw
                        ELSE s_raw END, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS ss,
               CAST(SUM(CAST(round(pow(CASE WHEN q = 2 THEN s2_raw
                        ELSE s_raw END, 2), 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sss
        FROM qs
        WHERE (q = 2 AND cnt2_w = 2) OR (q = 4 AND cnt_w = 4)
        GROUP BY event_type, q
    )
    SELECT b.event_type, CAST(q.q AS BIGINT) AS q, b.n AS n_returns,
           round(((q.sss - q.ss * q.ss / q.m) / (q.m - 1))
                 / (q.q * ((b.srr - b.sr * b.sr / b.n) / (b.n - 1))),
                 4) AS variance_ratio
    FROM qsum q JOIN base b ON b.event_type = q.event_type
    ORDER BY b.event_type, q
    """,
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio statistic VR(q) for q = 2 and 4 on
    per-type daily log returns: Var(q-period overlapping sums) /
    (q * Var(1-period)) — 1 under a random walk, > 1 under momentum
    (positive autocorrelation), < 1 under mean reversion. The
    random-walk diagnostic that complements ts_hurst_exponent's
    long-memory view with short-horizon ratios.

    Scale shape: log returns and overlapping q-sums are window ops on
    ONE (event_type) exchange (the q spine is a constant 2-row
    broadcast); all variance terms are 8dp-rounded and decimal-summed
    so both numerator and denominator are order-independent."""
    daily = _typed_daily(spark)
    wlag = Window.partitionBy("event_type").orderBy("day")
    ret = daily.select(
        "event_type",
        "day",
        F.log(
            F.col("y").cast("double")
            / F.lag("y").over(wlag).cast("double")
        ).alias("r"),
    ).where(F.col("r").isNotNull())
    dec8 = lambda c: F.sum(F.round(c, 8).cast("decimal(38,8)")).cast(
        "double"
    )
    base = ret.groupBy("event_type").agg(
        F.count("r").cast("bigint").alias("n"),
        dec8(F.col("r")).alias("sr"),
        dec8(F.col("r") * F.col("r")).alias("srr"),
    )
    qspine = spark.range(1).select(
        F.explode(F.array(F.lit(2), F.lit(4))).alias("q")
    )
    qs = ret.crossJoin(F.broadcast(qspine))
    w4 = (
        Window.partitionBy("event_type", "q")
        .orderBy("day")
        .rowsBetween(-3, Window.currentRow)
    )
    w2 = (
        Window.partitionBy("event_type", "q")
        .orderBy("day")
        .rowsBetween(-1, Window.currentRow)
    )
    qs = qs.select(
        "event_type",
        "q",
        "day",
        F.sum("r").over(w4).alias("s_raw"),
        F.count("r").over(w4).alias("cnt_w"),
        F.sum("r").over(w2).alias("s2_raw"),
        F.count("r").over(w2).alias("cnt2_w"),
    )
    s = F.when(F.col("q") == 2, F.col("s2_raw")).otherwise(
        F.col("s_raw")
    )
    qsum = (
        qs.where(
            ((F.col("q") == 2) & (F.col("cnt2_w") == 2))
            | ((F.col("q") == 4) & (F.col("cnt_w") == 4))
        )
        .groupBy("event_type", "q")
        .agg(
            F.count("*").cast("bigint").alias("m"),
            dec8(s).alias("ss"),
            dec8(F.pow(s, 2)).alias("sss"),
        )
    )
    var_q = (F.col("sss") - F.col("ss") * F.col("ss") / F.col("m")) / (
        F.col("m") - 1
    )
    var_1 = (F.col("srr") - F.col("sr") * F.col("sr") / F.col("n")) / (
        F.col("n") - 1
    )
    return (
        qsum.join(base, "event_type")
        .select(
            "event_type",
            F.col("q").cast("bigint").alias("q"),
            F.col("n").alias("n_returns"),
            F.round(var_q / (F.col("q") * var_1), 4).alias(
                "variance_ratio"
            ),
        )
        .orderBy("event_type", "q")
    )


# ---------------------------------------------------------------------------
# Round-12 technical/diagnostic family on the per-type daily series.
#
# Second shared construction beside _TSD_CTE: daily OHLC candles per
# event type (the day-granularity twin of ts_resample_ohlc's hourly
# key, value-null-filtered so open/close tie-breaks see only real
# observations). 5 types x 30 days at any SF — metadata-sized.
# ---------------------------------------------------------------------------

_DOHLC_CTE = """
    dohlc AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               arg_min(value,
                       lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                       || lpad(CAST(event_id AS VARCHAR), 10, '0'))
                   AS o,
               max(value) AS h,
               min(value) AS l,
               arg_max(value,
                       lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                       || lpad(CAST(event_id AS VARCHAR), 10, '0'))
                   AS c,
               CAST(COUNT(*) AS BIGINT) AS vol
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    )
"""


def _daily_ohlc(spark: SparkSession) -> DataFrame:
    """Spark twin of ``_DOHLC_CTE``: (event_type, day, o, h, l, c,
    vol) via one aggregation pass; open/close are MIN_BY/MAX_BY over
    the zero-padded (epoch-micros, event_id) key so simultaneous
    events tie-break identically on both engines (the
    ts_resample_ohlc device at day granularity)."""
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    return (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(
            F.min_by("value", key).alias("o"),
            F.max("value").alias("h"),
            F.min("value").alias("l"),
            F.max_by("value", key).alias("c"),
            F.count(F.lit(1)).cast("bigint").alias("vol"),
        )
    )


@query(
    "ts_dickey_fuller",
    oracle=f"""
    WITH {_TSD_CTE},
    lagd AS (
        SELECT event_type,
               LAG(y) OVER (PARTITION BY event_type ORDER BY day) AS x,
               y - LAG(y) OVER (PARTITION BY event_type ORDER BY day)
                   AS dy
        FROM daily
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(dy) AS DOUBLE) AS sy,
               -- widen before multiplying: DuckDB keeps the operand
               -- width for decimal products and overflows at (18,6)
               CAST(SUM(CAST(x AS DECIMAL(19,6))
                        * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(x AS DECIMAL(19,6))
                        * CAST(dy AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(dy AS DECIMAL(19,6))
                        * CAST(dy AS DECIMAL(19,6))) AS DOUBLE) AS syy
        FROM lagd WHERE x IS NOT NULL
        GROUP BY event_type
    ),
    fit AS (
        SELECT event_type, n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                   / n AS alpha,
               sxx - sx * sx / n AS sxx_c
        FROM s
    ),
    tt AS (
        SELECT f.event_type, f.n, f.beta,
               (s.syy - f.alpha * s.sy - f.beta * s.sxy)
                   / (f.n - 2) AS s2,
               f.sxx_c
        FROM fit f JOIN s ON s.event_type = f.event_type
    )
    SELECT event_type, n AS n_diffs,
           {sql_jround("beta", 6)} AS beta,
           {sql_jround("beta / sqrt(s2 / sxx_c)", 4)} AS df_tstat,
           {sql_jround(
               "-2.86154 - 2.8903 / CAST(n AS DOUBLE)"
               " - 4.234 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
               " - 40.04 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
               " * CAST(n AS DOUBLE))", 4)} AS crit_5pct,
           beta / sqrt(s2 / sxx_c)
               < -2.86154 - 2.8903 / CAST(n AS DOUBLE)
                 - 4.234 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 - 40.04 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * CAST(n AS DOUBLE))
               AS stationary_5pct
    FROM tt WHERE n > 2 AND sxx_c > 0 AND s2 > 0
    ORDER BY event_type
    """,
)
def ts_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test per event-type daily series:
    regress the first difference on the lagged level (with
    intercept), Delta y_t = alpha + beta y_(t-1); beta's t statistic
    against the MacKinnon (2010) response-surface 5% critical value
    (tau_c, N=1: -2.86154 - 2.8903/n - 4.234/n^2 - 40.04/n^3,
    interpolated from the regression's own n rather than a fixed
    n~100 tabulation — ADVICE r12) decides whether the series
    mean-reverts (stationary — safe to model levels) or walks
    randomly (difference it first). The critical value itself is
    emitted as ``crit_5pct`` so the finite-sample approximation in
    force is visible in the output. The pre-flight check for every
    forecasting key in this family (Holt/ARIMA-class models assume
    the answer).

    The regression's sufficient statistics are EXACT: y is a
    DECIMAL(18,6) daily sum, so the lag, the difference, and all
    cross products stay in decimal arithmetic until the final
    closed-form ratio — no rounding discipline needed at all.

    Scale shape: one corpus collapse to the daily table, one lag
    window on its (event_type) exchange, one aggregation to five
    sufficient-statistic rows."""
    daily = _typed_daily(spark)
    w = Window.partitionBy("event_type").orderBy("day")
    lagd = daily.select(
        "event_type",
        F.lag("y").over(w).alias("x"),
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
    ).where(F.col("x").isNotNull())
    s = lagd.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("dy").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("dy")).cast("double").alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).cast("double").alias("syy"),
    )
    n = F.col("n")
    beta = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    alpha = (F.col("sy") - beta * F.col("sx")) / n
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / n
    s2 = (
        F.col("syy") - alpha * F.col("sy") - beta * F.col("sxy")
    ) / (n - 2)
    t = beta / F.sqrt(s2 / sxx_c)
    # MacKinnon (2010) response surface, tau_c N=1 at 5%: identical
    # double expression tree on both engines (bit-exact from bigint n).
    nd = n.cast("double")
    crit = (
        F.lit(-2.86154)
        - F.lit(2.8903) / nd
        - F.lit(4.234) / (nd * nd)
        - F.lit(40.04) / (nd * nd * nd)
    )
    return (
        s.where((n > 2) & (sxx_c > 0) & (s2 > 0))
        .select(
            "event_type",
            n.alias("n_diffs"),
            F.round(beta, 6).alias("beta"),
            F.round(t, 4).alias("df_tstat"),
            F.round(crit, 4).alias("crit_5pct"),
            (t < crit).alias("stationary_5pct"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_stochastic_oscillator",
    oracle=f"""
    WITH {_TSD_CTE},
    roll AS (
        SELECT event_type, day, y,
               COUNT(*) OVER w AS n_w,
               MIN(y) OVER w AS mn,
               MAX(y) OVER w AS mx
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT event_type, day,
               CASE WHEN mx > mn THEN
                   round(100.0 * CAST(y - mn AS DOUBLE)
                         / CAST(mx - mn AS DOUBLE), 8)
               END AS pct_k
        FROM roll WHERE n_w = 14
    ),
    d AS (
        SELECT event_type, day, pct_k,
               COUNT(pct_k) OVER w3 AS k_cnt,
               CAST(SUM(CAST(pct_k AS DECIMAL(28,8))) OVER w3
                    AS DOUBLE) AS k_sum
        FROM k
        WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           {sql_jround("pct_k", 4)} AS pct_k,
           CASE WHEN k_cnt = 3 AND pct_k IS NOT NULL
                THEN {sql_jround("k_sum / 3", 4)} END AS pct_d,
           pct_k > 80 AS overbought,
           pct_k < 20 AS oversold
    FROM d
    ORDER BY event_type, day
    """,
)
def ts_stochastic_oscillator(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stochastic oscillator %K/%D per event-type daily series:
    %K = 100 (y - min14)/(max14 - min14) locates today inside its
    own trailing 14-day range, %D is %K's 3-day simple average —
    the range-position momentum readout complementing ts_rsi's
    gain/loss ratio (RSI says how one-sided moves were; the
    stochastic says where the level sits in its recent band), with
    the classic 80/20 bands. A flat 14-day window (max = min) yields
    NULL %K on both engines rather than a 0/0 artifact.

    Scale shape: rolling extrema and the %K average ride ONE
    (event_type) exchange as window aggregates; y/min/max are exact
    decimals so the range ratio is bit-identical; %K is 8dp-rounded
    before the %D decimal-sum (order independence)."""
    daily = _typed_daily(spark)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, Window.currentRow)
    )
    roll = daily.select(
        "event_type",
        "day",
        "y",
        F.count("*").over(w).alias("n_w"),
        F.min("y").over(w).alias("mn"),
        F.max("y").over(w).alias("mx"),
    )
    k = roll.where(F.col("n_w") == 14).select(
        "event_type",
        "day",
        F.when(
            F.col("mx") > F.col("mn"),
            F.round(
                100.0
                * (F.col("y") - F.col("mn")).cast("double")
                / (F.col("mx") - F.col("mn")).cast("double"),
                8,
            ),
        ).alias("pct_k"),
    )
    w3 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-2, Window.currentRow)
    )
    d = k.select(
        "event_type",
        "day",
        "pct_k",
        F.count("pct_k").over(w3).alias("k_cnt"),
        F.sum(F.col("pct_k").cast("decimal(28,8)"))
        .over(w3)
        .cast("double")
        .alias("k_sum"),
    )
    return d.select(
        "event_type",
        "day",
        F.round(F.col("pct_k"), 4).alias("pct_k"),
        F.when(
            (F.col("k_cnt") == 3) & F.col("pct_k").isNotNull(),
            F.round(F.col("k_sum") / 3, 4),
        ).alias("pct_d"),
        (F.col("pct_k") > 80).alias("overbought"),
        (F.col("pct_k") < 20).alias("oversold"),
    ).orderBy("event_type", "day")


@query(
    "ts_atr",
    oracle=f"""
    WITH {_DOHLC_CTE},
    tr AS (
        SELECT event_type, day,
               round(GREATEST(
                   h - l,
                   abs(h - LAG(c) OVER (PARTITION BY event_type
                                        ORDER BY day)),
                   abs(l - LAG(c) OVER (PARTITION BY event_type
                                        ORDER BY day))), 2) AS tr
        FROM dohlc
    ),
    roll AS (
        SELECT event_type, day, tr,
               COUNT(tr) OVER w AS n_w,
               CAST(SUM(CAST(tr AS DECIMAL(18,2))) OVER w AS DOUBLE)
                   AS tr_sum
        FROM tr WHERE tr IS NOT NULL
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, CAST(tr AS DOUBLE) AS true_range,
           {sql_jround("tr_sum / 14", 4)} AS atr
    FROM roll WHERE n_w = 14
    ORDER BY event_type, day
    """,
)
def ts_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average true range per event-type daily OHLC candles: true
    range = max(high - low, |high - prev close|, |low - prev close|)
    — the gap-aware volatility unit (a plain high-low range misses
    overnight jumps) — smoothed by a 14-day simple average (the
    windowed, backfill-stable variant of Wilder's recursion, the
    same choice ts_rsi documents). The position-sizing volatility
    number, complementing Bollinger's sd bands.

    True ranges are differences of 2dp event values, so round(tr, 2)
    recovers the exact 2dp decimal on both engines and the ATR sum
    is decimal-exact; only the final /14 touches doubles.

    Scale shape: one corpus collapse to daily candles (pure partial
    aggregation); the lag and rolling sum ride one (event_type)
    exchange."""
    ohlc = _daily_ohlc(spark)
    w_lag = Window.partitionBy("event_type").orderBy("day")
    pc = F.lag("c").over(w_lag)
    tr = F.round(
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - pc),
            F.abs(F.col("l") - pc),
        ),
        2,
    )
    trf = ohlc.select("event_type", "day", tr.alias("tr")).where(
        F.col("tr").isNotNull()
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, Window.currentRow)
    )
    roll = trf.select(
        "event_type",
        "day",
        "tr",
        F.count("tr").over(w).alias("n_w"),
        F.sum(F.col("tr").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("tr_sum"),
    )
    return (
        roll.where(F.col("n_w") == 14)
        .select(
            "event_type",
            "day",
            F.col("tr").cast("double").alias("true_range"),
            F.round(F.col("tr_sum") / 14, 4).alias("atr"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "ts_donchian_channels",
    oracle=f"""
    WITH {_TSD_CTE},
    roll AS (
        SELECT event_type, day, y,
               COUNT(*) OVER w AS n_w,
               MAX(y) OVER w AS upper_ch,
               MIN(y) OVER w AS lower_ch
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, CAST(y AS DOUBLE) AS y,
           CAST(upper_ch AS DOUBLE) AS upper_ch,
           CAST(lower_ch AS DOUBLE) AS lower_ch,
           y > upper_ch AS breakout_up,
           y < lower_ch AS breakout_down
    FROM roll WHERE n_w = 10
    ORDER BY event_type, day
    """,
)
def ts_donchian_channels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Donchian channels per event-type daily series: the prior
    10-day high/low band (window EXCLUDES the current day — the
    channel must be known before today's value arrives, or every new
    high trivially "breaks out" of a band containing itself), with
    breakout flags above/below — the turtle-trading breakout screen;
    for metrics pipelines, a distribution-free new-regime detector
    complementing Bollinger's parametric sd bands.

    Scale shape: two window extrema on one (event_type) exchange;
    y and the channel bounds are exact decimals, so the breakout
    comparisons are bit-identical across engines and partition
    counts."""
    daily = _typed_daily(spark)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-10, -1)
    )
    roll = daily.select(
        "event_type",
        "day",
        "y",
        F.count("*").over(w).alias("n_w"),
        F.max("y").over(w).alias("upper_ch"),
        F.min("y").over(w).alias("lower_ch"),
    )
    return (
        roll.where(F.col("n_w") == 10)
        .select(
            "event_type",
            "day",
            F.col("y").cast("double").alias("y"),
            F.col("upper_ch").cast("double").alias("upper_ch"),
            F.col("lower_ch").cast("double").alias("lower_ch"),
            (F.col("y") > F.col("upper_ch")).alias("breakout_up"),
            (F.col("y") < F.col("lower_ch")).alias("breakout_down"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "ts_ulcer_index",
    oracle=f"""
    WITH {_TSD_CTE},
    dd AS (
        SELECT event_type, day, y,
               100.0 * CAST(y - MAX(y) OVER (PARTITION BY event_type
                            ORDER BY day ROWS UNBOUNDED PRECEDING)
                            AS DOUBLE)
                     / CAST(MAX(y) OVER (PARTITION BY event_type
                            ORDER BY day ROWS UNBOUNDED PRECEDING)
                            AS DOUBLE) AS dd_pct
        FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_jround("MIN(dd_pct)", 4)} AS max_drawdown_pct,
           {sql_jround(
               "sqrt(CAST(SUM(CAST(round(dd_pct * dd_pct, 8)"
               "     AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*))", 6)}
               AS ulcer_index
    FROM dd
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ts_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index per event-type daily series: the root-mean-square
    of percentage drawdowns below the running peak — the
    depth-AND-duration risk number (ts_max_drawdown reports only the
    single worst dip; a series that spends months 5% underwater can
    hurt more than one brief 10% spike, and only the ulcer index
    sees that). Peaks are exact decimal order statistics; the
    squared drawdowns are 8dp-rounded then decimal-summed.

    Scale shape: one running-max window and one aggregation, both on
    the same (event_type) exchange of the metadata-sized daily
    table."""
    daily = _typed_daily(spark)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("y").over(w)
    dd = daily.select(
        "event_type",
        (
            100.0
            * (F.col("y") - peak).cast("double")
            / peak.cast("double")
        ).alias("dd_pct"),
    )
    return (
        dd.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(F.min("dd_pct"), 4).alias("max_drawdown_pct"),
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(
                            F.col("dd_pct") * F.col("dd_pct"), 8
                        ).cast("decimal(38,8)")
                    ).cast("double")
                    / F.count("*")
                ),
                6,
            ).alias("ulcer_index"),
        )
        .orderBy("event_type")
    )


@query(
    "ts_garman_klass",
    oracle=f"""
    WITH {_DOHLC_CTE},
    terms AS (
        -- zero-valued observations exist at larger SFs: a candle
        -- whose low or open is 0 has no defined log range and is
        -- excluded on both engines (documented degenerate-day guard)
        SELECT event_type,
               round(ln(h / l), 8) AS u,
               round(ln(c / o), 8) AS d
        FROM dohlc WHERE l > 0 AND o > 0
    ),
    gk AS (
        SELECT event_type,
               round(0.5 * u * u - (2 * ln(2) - 1) * d * d, 10) AS g
        FROM terms
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
                   / COUNT(*) AS gk_var
        FROM gk GROUP BY event_type
    )
    SELECT event_type, n_days,
           {sql_jround("gk_var", 8)} AS gk_variance,
           CASE WHEN gk_var >= 0
                THEN {sql_jround("sqrt(gk_var)", 6)} END AS gk_vol
    FROM s
    ORDER BY event_type
    """,
)
def ts_garman_klass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Garman-Klass volatility per event-type daily OHLC:
    sigma^2 = mean(0.5 ln(H/L)^2 - (2 ln 2 - 1) ln(C/O)^2) — the
    range-based estimator that is ~7x more efficient than
    close-to-close variance because each candle's high-low span
    already contains intraday information a single close throws
    away. The per-day log terms are 8dp-rounded (cross-engine libm
    discipline), the daily GK values 10dp-rounded and decimal-summed;
    a negative mean (possible for the GK combination on extreme
    candles) reports NULL volatility on both engines rather than a
    NaN from sqrt.

    Scale shape: candles are pure partial aggregation; everything
    after is per-row arithmetic plus one aggregation of the
    metadata-sized daily table."""
    ohlc = _daily_ohlc(spark).where(
        (F.col("l") > 0) & (F.col("o") > 0)
    )
    u = F.round(F.log(F.col("h") / F.col("l")), 8)
    d = F.round(F.log(F.col("c") / F.col("o")), 8)
    import math

    g = F.round(
        0.5 * u * u - (2 * math.log(2) - 1) * d * d, 10
    )
    s = (
        ohlc.select("event_type", g.alias("g"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            (
                F.sum(F.col("g").cast("decimal(38,10)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("gk_var"),
        )
    )
    return s.select(
        "event_type",
        "n_days",
        F.round(F.col("gk_var"), 8).alias("gk_variance"),
        F.when(
            F.col("gk_var") >= 0,
            F.round(F.sqrt(F.col("gk_var")), 6),
        ).alias("gk_vol"),
    ).orderBy("event_type")


@query(
    "ts_obv",
    oracle=f"""
    WITH {_DOHLC_CTE},
    daily2 AS (
        SELECT event_type, day, c, vol,
               CASE WHEN c > LAG(c) OVER w THEN vol
                    WHEN c < LAG(c) OVER w THEN -vol
                    WHEN LAG(c) OVER w IS NULL THEN NULL
                    ELSE 0 END AS signed_vol
        FROM dohlc
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, vol, signed_vol,
           CAST(SUM(COALESCE(signed_vol, 0)) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM daily2
    ORDER BY event_type, day
    """,
)
def ts_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per event-type day: each day's event count
    (volume) signed by the direction of the daily close-to-close
    move, accumulated — the classic volume-confirms-price readout
    (price rising on swelling OBV is broad participation; rising on
    flat OBV is a thin move). The first day has no direction and
    contributes 0 to the running sum (reported as NULL signed_vol).

    Everything is integer or exact-value comparison: closes are raw
    event values compared exactly, volumes are counts, OBV is an
    integer running sum — bit-identical by construction.

    Scale shape: candles are pure partial aggregation; the lag and
    running sum share one (event_type) exchange."""
    ohlc = _daily_ohlc(spark)
    w = Window.partitionBy("event_type").orderBy("day")
    pc = F.lag("c").over(w)
    signed = (
        F.when(F.col("c") > pc, F.col("vol"))
        .when(F.col("c") < pc, -F.col("vol"))
        .when(pc.isNull(), F.lit(None))
        .otherwise(F.lit(0))
    )
    daily2 = ohlc.select(
        "event_type", "day", "vol", signed.alias("signed_vol")
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily2.select(
        "event_type",
        "day",
        "vol",
        "signed_vol",
        F.sum(F.coalesce(F.col("signed_vol"), F.lit(0)))
        .over(w_run)
        .cast("bigint")
        .alias("obv"),
    ).orderBy("event_type", "day")


@query(
    "ts_aroon",
    oracle=f"""
    WITH {_TSD_CTE},
    idx AS (
        SELECT event_type, day, y,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS rn
        FROM daily
    ),
    win AS (  -- trailing 11-row window as an entity-bounded self-join
        SELECT a.event_type, a.day, a.rn,
               COUNT(*) AS n_w,
               MAX(b.y) AS hi, MIN(b.y) AS lo
        FROM idx a JOIN idx b
          ON b.event_type = a.event_type
         AND b.rn BETWEEN a.rn - 10 AND a.rn
        GROUP BY a.event_type, a.day, a.rn
    ),
    hilo AS (  -- second pass: most-recent row index of each extreme
        SELECT w.event_type, w.day, w.rn, w.n_w,
               MAX(CASE WHEN b.y = w.hi THEN b.rn END) AS rn_hi,
               MAX(CASE WHEN b.y = w.lo THEN b.rn END) AS rn_lo
        FROM win w JOIN idx b
          ON b.event_type = w.event_type
         AND b.rn BETWEEN w.rn - 10 AND w.rn
        GROUP BY w.event_type, w.day, w.rn, w.n_w
    )
    SELECT event_type, day,
           CAST(100 * (10 - (rn - rn_hi)) / 10 AS DOUBLE) AS aroon_up,
           CAST(100 * (10 - (rn - rn_lo)) / 10 AS DOUBLE)
               AS aroon_down,
           (100 * (10 - (rn - rn_hi)) / 10)
             - (100 * (10 - (rn - rn_lo)) / 10) > 50 AS strong_up,
           (100 * (10 - (rn - rn_lo)) / 10)
             - (100 * (10 - (rn - rn_hi)) / 10) > 50 AS strong_down
    FROM hilo WHERE n_w = 11
    ORDER BY event_type, day
    """,
)
def ts_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon indicator per event-type daily series: aroon_up =
    100 (10 - days since the trailing-11-day high)/10 (aroon_down
    likewise for the low) — "how recently did this series set a
    local extreme", the trend-age readout that distinguishes a fresh
    breakout (aroon 100) from a stale drifting high. Ties on the
    extreme value resolve to the MOST RECENT day on both engines
    (MAX of the qualifying row index), the standard convention. The
    oscillator difference over +/-50 flags strong trends.

    Values are exact decimals compared exactly, so "b.y = hi" is
    deterministic; aroon values are exact multiples of 10.

    Scale shape: the trailing window is an entity-bounded self-join
    of the persisted <= 150-row daily index (11 rows per anchor day
    — metadata-sized, the stats_more pair-join discipline), never a
    corpus-sized operation; the daily table itself is the usual one
    corpus collapse."""
    from powersql_spark.catalog import track_persist

    w_rn = Window.partitionBy("event_type").orderBy("day")
    idx = track_persist(
        _typed_daily(spark).select(
            "event_type",
            "day",
            "y",
            F.row_number().over(w_rn).alias("rn"),
        )
    )
    a = idx.alias("a")
    b = idx.alias("b")
    joined = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.rn") >= F.col("a.rn") - 10)
        & (F.col("b.rn") <= F.col("a.rn")),
    )
    win = joined.groupBy(
        F.col("a.event_type").alias("event_type"),
        F.col("a.day").alias("day"),
        F.col("a.rn").alias("rn"),
    ).agg(
        F.count("*").alias("n_w"),
        F.max("b.y").alias("hi"),
        F.min("b.y").alias("lo"),
        F.max_by("b.rn", F.struct(F.col("b.y"), F.col("b.rn"))).alias(
            "rn_hi"
        ),
        F.min_by(
            "b.rn",
            F.struct(F.col("b.y"), (-F.col("b.rn")).alias("neg")),
        ).alias("rn_lo"),
    )
    up = 100 * (10 - (F.col("rn") - F.col("rn_hi"))) / 10
    dn = 100 * (10 - (F.col("rn") - F.col("rn_lo"))) / 10
    return (
        win.where(F.col("n_w") == 11)
        .select(
            "event_type",
            "day",
            up.cast("double").alias("aroon_up"),
            dn.cast("double").alias("aroon_down"),
            (up - dn > 50).alias("strong_up"),
            (dn - up > 50).alias("strong_down"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "ts_permutation_entropy",
    oracle=f"""
    WITH {_TSD_CTE},
    trip AS (
        SELECT event_type,
               LAG(y, 2) OVER w AS y1,
               LAG(y, 1) OVER w AS y2,
               y AS y3
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    pat AS (  -- stable ordinal pattern: ties resolve to earlier index
        SELECT event_type,
               (1 + CASE WHEN y2 < y1 THEN 1 ELSE 0 END
                  + CASE WHEN y3 < y1 THEN 1 ELSE 0 END) * 100
             + (1 + CASE WHEN y1 <= y2 THEN 1 ELSE 0 END
                  + CASE WHEN y3 < y2 THEN 1 ELSE 0 END) * 10
             + (1 + CASE WHEN y1 <= y3 THEN 1 ELSE 0 END
                  + CASE WHEN y2 <= y3 THEN 1 ELSE 0 END) AS pattern
        FROM trip WHERE y1 IS NOT NULL
    ),
    cnts AS (
        SELECT event_type, pattern, CAST(COUNT(*) AS BIGINT) AS m
        FROM pat GROUP BY event_type, pattern
    ),
    withtot AS (
        SELECT event_type, m,
               SUM(m) OVER (PARTITION BY event_type) AS ntot
        FROM cnts
    ),
    s AS (
        SELECT event_type,
               CAST(SUM(m) AS BIGINT) AS n_windows,
               CAST(COUNT(*) AS BIGINT) AS n_patterns,
               CAST(SUM(m * CAST(round(ln(CAST(m AS DOUBLE) / ntot),
                                       8)
                        AS DECIMAL(38,8))) AS DOUBLE) AS s_mlnp
        FROM withtot
        GROUP BY event_type
    )
    SELECT event_type, n_windows, n_patterns,
           {sql_jround("-s_mlnp / n_windows", 6)} AS perm_entropy,
           {sql_jround("-s_mlnp / n_windows / ln(6)", 6)}
               AS normalized_pe
    FROM s
    ORDER BY event_type
    """,
)
def ts_permutation_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Permutation entropy (order m = 3, Bandt-Pompe) per event-type
    daily series: slide a 3-day window, map each triple to its
    ordinal pattern (which of the 6 orderings the values take, ties
    resolved to the earlier day — the stable convention), and take
    the Shannon entropy of the pattern distribution, normalized by
    ln 6. Near 1 = the series orders like noise; low = persistent
    deterministic structure. The complexity readout complementing
    ts_hurst_exponent (memory) and ts_dominant_period (cycles),
    robust to any monotone transform of the values.

    Patterns are computed from exact-decimal comparisons (integer
    rank codes); only ln(p) is rounded (8dp) before the
    integer-weighted decimal sum.

    Scale shape: two lags on one (event_type) exchange, then the
    corpus collapses to at most 6 pattern counts per type."""
    daily = _typed_daily(spark)
    w = Window.partitionBy("event_type").orderBy("day")
    trip = daily.select(
        "event_type",
        F.lag("y", 2).over(w).alias("y1"),
        F.lag("y", 1).over(w).alias("y2"),
        F.col("y").alias("y3"),
    ).where(F.col("y1").isNotNull())
    y1, y2, y3 = F.col("y1"), F.col("y2"), F.col("y3")
    r1 = (
        1
        + F.when(y2 < y1, 1).otherwise(0)
        + F.when(y3 < y1, 1).otherwise(0)
    )
    r2 = (
        1
        + F.when(y1 <= y2, 1).otherwise(0)
        + F.when(y3 < y2, 1).otherwise(0)
    )
    r3 = (
        1
        + F.when(y1 <= y3, 1).otherwise(0)
        + F.when(y2 <= y3, 1).otherwise(0)
    )
    pat = trip.select(
        "event_type", (r1 * 100 + r2 * 10 + r3).alias("pattern")
    )
    cnts = pat.groupBy("event_type", "pattern").agg(
        F.count("*").cast("bigint").alias("m")
    )
    w_t = Window.partitionBy("event_type")
    s = (
        cnts.select(
            "event_type",
            "m",
            F.round(
                F.log(
                    F.col("m").cast("double") / F.sum("m").over(w_t)
                ),
                8,
            )
            .cast("decimal(38,8)")
            .alias("lnp"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("m").cast("bigint").alias("n_windows"),
            F.count("*").cast("bigint").alias("n_patterns"),
            F.sum(F.col("m") * F.col("lnp"))
            .cast("double")
            .alias("s_mlnp"),
        )
    )
    import math

    return s.select(
        "event_type",
        "n_windows",
        "n_patterns",
        F.round(-F.col("s_mlnp") / F.col("n_windows"), 6).alias(
            "perm_entropy"
        ),
        F.round(
            -F.col("s_mlnp") / F.col("n_windows") / math.log(6), 6
        ).alias("normalized_pe"),
    ).orderBy("event_type")


@query(
    "ts_cci",
    oracle=f"""
    WITH {_DOHLC_CTE},
    tp AS (
        SELECT event_type, day,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS rn,
               (h + l + c) / 3.0 AS tp
        FROM dohlc
    ),
    sma AS (
        SELECT a.event_type, a.day, a.rn, a.tp,
               COUNT(*) AS n_w,
               CAST(SUM(CAST(round(b.tp, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) / 20 AS sma
        FROM tp a JOIN tp b
          ON b.event_type = a.event_type
         AND b.rn BETWEEN a.rn - 19 AND a.rn
        GROUP BY a.event_type, a.day, a.rn, a.tp
    ),
    md AS (
        SELECT s.event_type, s.day, s.tp, s.sma, s.n_w,
               CAST(SUM(CAST(round(abs(b.tp - s.sma), 8)
                    AS DECIMAL(28,8))) AS DOUBLE) / 20 AS mean_dev
        FROM sma s JOIN tp b
          ON b.event_type = s.event_type
         AND b.rn BETWEEN s.rn - 19 AND s.rn
        GROUP BY s.event_type, s.day, s.tp, s.sma, s.n_w
    )
    SELECT event_type, day,
           {sql_jround("tp", 4)} AS typical_price,
           {sql_jround("sma", 4)} AS sma20,
           {sql_jround(
               "(tp - sma) / (0.015 * mean_dev)", 4)} AS cci,
           (tp - sma) / (0.015 * mean_dev) > 100 AS overbought,
           (tp - sma) / (0.015 * mean_dev) < -100 AS oversold
    FROM md WHERE n_w = 20 AND mean_dev > 0
    ORDER BY event_type, day
    """,
)
def ts_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity channel index per event-type daily candles:
    CCI = (tp - SMA20(tp)) / (0.015 MD) with tp the typical price
    (H+L+C)/3 and MD the mean ABSOLUTE deviation from the current
    SMA — the volatility-unit momentum score whose 0.015 constant
    puts ~70-80% of values inside +/-100. MAD-around-current-SMA is
    not expressible as a plain running window (each window element's
    deviation references the anchor row's own mean), so both engines
    compute it as two entity-bounded self-joins of the persisted
    daily typical-price table — the stats_more pair-join discipline,
    metadata-sized at any corpus scale.

    Scale shape: one corpus collapse to candles; two 20-row-per-
    anchor self-joins of a <= 150-row frame; rounded decimal sums
    inside both windows for order independence."""
    from powersql_spark.catalog import track_persist

    ohlc = _daily_ohlc(spark)
    w_rn = Window.partitionBy("event_type").orderBy("day")
    tp = track_persist(
        ohlc.select(
            "event_type",
            "day",
            F.row_number().over(w_rn).alias("rn"),
            ((F.col("h") + F.col("l") + F.col("c")) / 3.0).alias(
                "tp"
            ),
        )
    )
    a = tp.alias("a")
    b = tp.alias("b")
    in_win = (
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.rn") >= F.col("a.rn") - 19)
        & (F.col("b.rn") <= F.col("a.rn"))
    )
    sma = a.join(b, in_win).groupBy(
        F.col("a.event_type").alias("event_type"),
        F.col("a.day").alias("day"),
        F.col("a.rn").alias("rn"),
        F.col("a.tp").alias("tp"),
    ).agg(
        F.count("*").alias("n_w"),
        (
            F.sum(
                F.round(F.col("b.tp"), 6).cast("decimal(28,6)")
            ).cast("double")
            / 20
        ).alias("sma"),
    )
    s = sma.alias("s")
    b2 = tp.alias("b")
    in_win2 = (
        (F.col("b.event_type") == F.col("s.event_type"))
        & (F.col("b.rn") >= F.col("s.rn") - 19)
        & (F.col("b.rn") <= F.col("s.rn"))
    )
    md = s.join(b2, in_win2).groupBy(
        F.col("s.event_type").alias("event_type"),
        F.col("s.day").alias("day"),
        F.col("s.tp").alias("tp"),
        F.col("s.sma").alias("sma"),
        F.col("s.n_w").alias("n_w"),
    ).agg(
        (
            F.sum(
                F.round(
                    F.abs(F.col("b.tp") - F.col("s.sma")), 8
                ).cast("decimal(28,8)")
            ).cast("double")
            / 20
        ).alias("mean_dev")
    )
    cci = (F.col("tp") - F.col("sma")) / (0.015 * F.col("mean_dev"))
    return (
        md.where((F.col("n_w") == 20) & (F.col("mean_dev") > 0))
        .select(
            "event_type",
            "day",
            F.round(F.col("tp"), 4).alias("typical_price"),
            F.round(F.col("sma"), 4).alias("sma20"),
            F.round(cci, 4).alias("cci"),
            (cci > 100).alias("overbought"),
            (cci < -100).alias("oversold"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Round-12 second wave: cointegration and spectral entropy.
# ---------------------------------------------------------------------------

_EG_A, _EG_B = "view", "click"  # the cointegration pair


@query(
    "ts_cointegration_eg",
    oracle=f"""
    WITH {_TSD_CTE},
    pair AS (
        SELECT a.day, a.y AS ya, b.y AS yb
        FROM (SELECT day, y FROM daily
              WHERE event_type = '{_EG_A}') a
        JOIN (SELECT day, y FROM daily
              WHERE event_type = '{_EG_B}') b USING (day)
    ),
    ols AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ya) AS DOUBLE) AS sa,
               CAST(SUM(yb) AS DOUBLE) AS sb,
               CAST(SUM(CAST(ya AS DECIMAL(19,6))
                        * CAST(yb AS DECIMAL(19,6))) AS DOUBLE) AS sab,
               CAST(SUM(CAST(yb AS DECIMAL(19,6))
                        * CAST(yb AS DECIMAL(19,6))) AS DOUBLE) AS sbb
        FROM pair
    ),
    fit AS (
        SELECT n,
               (n * sab - sa * sb) / (n * sbb - sb * sb) AS beta,
               (sa - (n * sab - sa * sb) / (n * sbb - sb * sb) * sb)
                   / n AS alpha
        FROM ols WHERE n > 2 AND n * sbb - sb * sb > 0
    ),
    resid AS (
        SELECT p.day,
               CAST(p.ya AS DOUBLE) - f.alpha
                   - f.beta * CAST(p.yb AS DOUBLE) AS e,
               f.n, f.beta, f.alpha
        FROM pair p, fit f
    ),
    lagd AS (
        SELECT n, beta, alpha,
               LAG(e) OVER (ORDER BY day) AS el,
               e - LAG(e) OVER (ORDER BY day) AS de
        FROM resid
    ),
    df AS (
        SELECT ANY_VALUE(n) AS n, ANY_VALUE(beta) AS beta,
               ANY_VALUE(alpha) AS alpha,
               CAST(COUNT(*) AS BIGINT) AS n_diffs,
               CAST(SUM(CAST(round(el * de, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sed,
               CAST(SUM(CAST(round(el * el, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS see,
               CAST(SUM(CAST(round(de * de, 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS sdd
        FROM lagd WHERE el IS NOT NULL
    )
    SELECT n AS n_days, {sql_jround("beta", 6)} AS beta,
           {sql_jround("alpha", 4)} AS alpha,
           {sql_jround(
               "(sed / see) / sqrt(((sdd - sed * sed / see)"
               " / (n_diffs - 1)) / see)", 4)} AS eg_tstat,
           {sql_jround(
               "-3.33613 - 6.1101 / CAST(n_diffs AS DOUBLE)"
               " - 6.823 / (CAST(n_diffs AS DOUBLE)"
               " * CAST(n_diffs AS DOUBLE))", 4)} AS crit_5pct,
           (sed / see) / sqrt(((sdd - sed * sed / see)
               / (n_diffs - 1)) / see)
               < -3.33613 - 6.1101 / CAST(n_diffs AS DOUBLE)
                 - 6.823 / (CAST(n_diffs AS DOUBLE)
                            * CAST(n_diffs AS DOUBLE))
               AS cointegrated_5pct
    FROM df WHERE see > 0 AND n_diffs > 1
    """,
)
def ts_cointegration_eg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration test between the 'view'
    and 'click' daily series: OLS of one level on the
    other, then a no-constant Dickey-Fuller regression on the
    residuals (Delta e_t = gamma e_(t-1)); gamma's t against the
    MacKinnon (2010) response-surface 5% critical value (tau_c, N=2,
    fitted constant: -3.33613 - 6.1101/n - 6.823/n^2, interpolated
    from the residual regression's own n rather than a fixed n~100
    tabulation — ADVICE r12; emitted as ``crit_5pct``). Two trending
    series can each fail ts_dickey_fuller
    yet share a stationary spread — the cointegration property that
    makes a hedge/ratio model valid where correlating raw levels
    (the classic spurious-regression trap) is not.

    The level regression's sufficient statistics are decimal-exact
    (the daily y values); the residual stage's products are
    8dp-rounded decimal sums (residuals are doubles, identical
    expression trees on both engines).

    Scale shape: one corpus collapse to the daily table; the pair
    join is day-equi on 30 rows; both regressions are one-row
    sufficient-statistic aggregations."""
    from powersql_spark.catalog import track_persist

    # Persist the daily table: BOTH sides of the pair filter it, so
    # without the cache the corpus would collapse twice.
    daily = track_persist(_typed_daily(spark))
    a = daily.where(F.col("event_type") == _EG_A).select(
        "day", F.col("y").alias("ya")
    )
    b = daily.where(F.col("event_type") == _EG_B).select(
        "day", F.col("y").alias("yb")
    )
    pair = track_persist(a.join(b, "day"))
    ya19 = F.col("ya").cast("decimal(19,6)")
    yb19 = F.col("yb").cast("decimal(19,6)")
    ols = pair.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("ya").cast("double").alias("sa"),
        F.sum("yb").cast("double").alias("sb"),
        F.sum(ya19 * yb19).cast("double").alias("sab"),
        F.sum(yb19 * yb19).cast("double").alias("sbb"),
    )
    n = F.col("n")
    beta = (n * F.col("sab") - F.col("sa") * F.col("sb")) / (
        n * F.col("sbb") - F.col("sb") * F.col("sb")
    )
    alpha = (F.col("sa") - beta * F.col("sb")) / n
    fit = ols.where(
        (n > 2) & (n * F.col("sbb") - F.col("sb") * F.col("sb") > 0)
    ).select("n", beta.alias("beta"), alpha.alias("alpha"))
    resid = pair.crossJoin(F.broadcast(fit)).select(
        "day",
        "n",
        "beta",
        "alpha",
        (
            F.col("ya").cast("double")
            - F.col("alpha")
            - F.col("beta") * F.col("yb").cast("double")
        ).alias("e"),
    )
    w = Window.orderBy("day")
    lagd = resid.select(
        "n",
        "beta",
        "alpha",
        F.lag("e").over(w).alias("el"),
        (F.col("e") - F.lag("e").over(w)).alias("de"),
    ).where(F.col("el").isNotNull())
    df = lagd.agg(
        F.any_value("n").alias("n"),
        F.any_value("beta").alias("beta"),
        F.any_value("alpha").alias("alpha"),
        F.count("*").cast("bigint").alias("n_diffs"),
        F.sum(
            F.round(F.col("el") * F.col("de"), 8).cast(
                "decimal(38,8)"
            )
        )
        .cast("double")
        .alias("sed"),
        F.sum(
            F.round(F.col("el") * F.col("el"), 8).cast(
                "decimal(38,8)"
            )
        )
        .cast("double")
        .alias("see"),
        F.sum(
            F.round(F.col("de") * F.col("de"), 8).cast(
                "decimal(38,8)"
            )
        )
        .cast("double")
        .alias("sdd"),
    )
    gamma = F.col("sed") / F.col("see")
    s2 = (
        F.col("sdd") - F.col("sed") * F.col("sed") / F.col("see")
    ) / (F.col("n_diffs") - 1)
    t = gamma / F.sqrt(s2 / F.col("see"))
    # MacKinnon (2010) response surface, tau_c N=2 at 5%: identical
    # double expression tree on both engines (bit-exact from bigint n).
    nd = F.col("n_diffs").cast("double")
    crit = (
        F.lit(-3.33613)
        - F.lit(6.1101) / nd
        - F.lit(6.823) / (nd * nd)
    )
    return (
        df.where((F.col("see") > 0) & (F.col("n_diffs") > 1))
        .select(
            F.col("n").alias("n_days"),
            F.round(F.col("beta"), 6).alias("beta"),
            F.round(F.col("alpha"), 4).alias("alpha"),
            F.round(t, 4).alias("eg_tstat"),
            F.round(crit, 4).alias("crit_5pct"),
            (t < crit).alias("cointegrated_5pct"),
        )
    )


_SE_MAX_K = 14  # frequency bins (daily series, ~30 points)


@query(
    "ts_spectral_entropy",
    oracle=f"""
    WITH {_TSD_CTE},
    idx AS (
        SELECT event_type, y,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS t,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    ks AS (SELECT unnest(range(1, {_SE_MAX_K} + 1)) AS k),
    terms AS (
        SELECT i.event_type, ks.k, i.n,
               CAST(round(cos(2 * pi() * ks.k * i.t / i.n), 8)
                    AS DECIMAL(12,8))
                   * CAST(i.y AS DECIMAL(19,6)) AS yc,
               CAST(round(sin(2 * pi() * ks.k * i.t / i.n), 8)
                    AS DECIMAL(12,8))
                   * CAST(i.y AS DECIMAL(19,6)) AS ys
        FROM idx i JOIN ks ON ks.k <= (i.n - 1) // 2
    ),
    spec AS (
        SELECT event_type, k, ANY_VALUE(n) AS n,
               CAST(SUM(yc) AS DOUBLE) AS ck,
               CAST(SUM(ys) AS DOUBLE) AS sk
        FROM terms GROUP BY event_type, k
    ),
    pw AS (
        -- ptot decimal-summed: a bare double window sum would add in
        -- engine-dependent order
        SELECT event_type, k, n,
               ck * ck + sk * sk AS p,
               CAST(SUM(CAST(round(ck * ck + sk * sk, 6)
                    AS DECIMAL(38,6))) OVER (PARTITION BY event_type)
                    AS DOUBLE) AS ptot,
               COUNT(*) OVER (PARTITION BY event_type) AS n_freqs
        FROM spec
    ),
    ent AS (
        SELECT event_type, ANY_VALUE(n) AS n_days,
               CAST(ANY_VALUE(n_freqs) AS BIGINT) AS n_freqs,
               CAST(SUM(CAST(round((p / ptot) * ln(p / ptot), 8)
                    AS DECIMAL(38,8))) AS DOUBLE) AS s_plnp,
               CAST(SUM(CAST(round(ln(p), 8) AS DECIMAL(38,8)))
                    AS DOUBLE) AS s_lnp,
               CAST(SUM(CAST(round(p, 6) AS DECIMAL(38,6)))
                    AS DOUBLE) AS s_p
        FROM pw WHERE ptot > 0 AND p > 0
        GROUP BY event_type
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days, n_freqs,
           {sql_jround("-s_plnp", 6)} AS spectral_entropy,
           {sql_jround("-s_plnp / ln(n_freqs)", 6)} AS normalized_se,
           {sql_jround(
               "exp(s_lnp / n_freqs) / (s_p / n_freqs)", 6)}
               AS spectral_flatness
    FROM ent
    ORDER BY event_type
    """,
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy and flatness of each event-type daily series:
    an unrolled DFT periodogram at frequencies k = 1..floor((n-1)/2),
    the Shannon entropy of the normalized power spectrum (near 1 =
    white-noise-flat, low = concentrated seasonality), plus spectral
    flatness (the geometric/arithmetic power-mean ratio — Wiener
    entropy). The frequency-domain complement of
    ts_permutation_entropy's time-domain complexity and
    ts_dominant_period's single-peak readout: entropy says how MUCH
    of the spectrum the peaks explain.

    Cross-engine float discipline: the cos/sin factors (different
    libm implementations) are 8dp-rounded into decimals BEFORE
    multiplying the exact-decimal y, so the DFT sums are exact given
    the rounded trig values; power ratios and logs follow the usual
    8dp-rounded decimal-sum rule.

    Scale shape: one corpus collapse; the DFT is a constant
    (k-spine x days) fan-out of the metadata-sized daily table —
    entity-bounded, never corpus-sized."""
    import math

    daily = _typed_daily(spark)
    w_rn = Window.partitionBy("event_type").orderBy("day")
    w_n = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(w_rn).alias("t"),
        F.count("*").over(w_n).alias("n"),
    )
    ks = spark.range(1, _SE_MAX_K + 1).select(
        F.col("id").cast("int").alias("k")
    )
    angle = (
        2 * math.pi * F.col("k") * F.col("t") / F.col("n")
    )
    terms = idx.join(
        F.broadcast(ks),
        F.col("k") <= F.floor((F.col("n") - 1) / 2),
    ).select(
        "event_type",
        "k",
        "n",
        (
            F.round(F.cos(angle), 8).cast("decimal(12,8)")
            * F.col("y").cast("decimal(19,6)")
        ).alias("yc"),
        (
            F.round(F.sin(angle), 8).cast("decimal(12,8)")
            * F.col("y").cast("decimal(19,6)")
        ).alias("ys"),
    )
    spec = terms.groupBy("event_type", "k").agg(
        F.any_value("n").alias("n"),
        F.sum("yc").cast("double").alias("ck"),
        F.sum("ys").cast("double").alias("sk"),
    )
    p = F.col("ck") * F.col("ck") + F.col("sk") * F.col("sk")
    w_t = Window.partitionBy("event_type")
    pw = spec.select(
        "event_type",
        "k",
        "n",
        p.alias("p"),
        F.sum(F.round(p, 6).cast("decimal(38,6)"))
        .over(w_t)
        .cast("double")
        .alias("ptot"),
        F.count("*").over(w_t).alias("n_freqs"),
    )
    pr = F.col("p") / F.col("ptot")
    ent = (
        pw.where((F.col("ptot") > 0) & (F.col("p") > 0))
        .groupBy("event_type")
        .agg(
            F.any_value("n").cast("bigint").alias("n_days"),
            F.any_value("n_freqs").cast("bigint").alias("n_freqs"),
            F.sum(
                F.round(pr * F.log(pr), 8).cast("decimal(38,8)")
            )
            .cast("double")
            .alias("s_plnp"),
            F.sum(
                F.round(F.log(F.col("p")), 8).cast("decimal(38,8)")
            )
            .cast("double")
            .alias("s_lnp"),
            F.sum(F.round(F.col("p"), 6).cast("decimal(38,6)"))
            .cast("double")
            .alias("s_p"),
        )
    )
    return ent.select(
        "event_type",
        "n_days",
        "n_freqs",
        F.round(-F.col("s_plnp"), 6).alias("spectral_entropy"),
        F.round(
            -F.col("s_plnp") / F.log(F.col("n_freqs").cast("double")),
            6,
        ).alias("normalized_se"),
        F.round(
            F.exp(F.col("s_lnp") / F.col("n_freqs"))
            / (F.col("s_p") / F.col("n_freqs")),
            6,
        ).alias("spectral_flatness"),
    ).orderBy("event_type")


@query(
    "ts_amihud_illiquidity",
    oracle=f"""
    WITH {_DOHLC_CTE},
    rets AS (
        SELECT event_type, day, vol,
               abs(c / LAG(c) OVER (PARTITION BY event_type
                                    ORDER BY day) - 1) AS abs_ret,
               LAG(c) OVER (PARTITION BY event_type ORDER BY day)
                   AS pc
        FROM dohlc
    ),
    terms AS (
        SELECT event_type,
               round(1e6 * abs_ret / vol, 8) AS illiq
        FROM rets WHERE pc IS NOT NULL AND pc > 0 AND vol > 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_jround(
               "CAST(SUM(CAST(illiq AS DECIMAL(38,8))) AS DOUBLE)"
               " / COUNT(*)", 6)} AS amihud_illiq,
           {sql_jround("MAX(illiq)", 6)} AS max_day_illiq
    FROM terms
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ts_amihud_illiquidity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Amihud illiquidity per event-type daily candles: the average
    of |daily close-to-close return| / volume (scaled by 1e6) — "how
    much does one unit of activity move the level", the standard
    price-impact proxy computable from daily data alone. For metrics
    pipelines: a series whose level jumps on thin volume (high
    Amihud) is noise-dominated and needs wider anomaly bands than
    ts_bollinger_bands would fit on level alone. Degenerate days
    (zero/undefined previous close, zero volume) are excluded on
    both engines.

    Scale shape: candles are pure partial aggregation; the lag and
    the per-type average ride one (event_type) exchange; daily
    ratios are 8dp-rounded then decimal-summed."""
    ohlc = _daily_ohlc(spark)
    w = Window.partitionBy("event_type").orderBy("day")
    # Filter BEFORE any division is projected (ANSI mode: c / 0 on a
    # to-be-dropped row must never evaluate; don't rely on predicate
    # pushdown through the window's project).
    lagged = ohlc.select(
        "event_type",
        "vol",
        "c",
        F.lag("c").over(w).alias("pc"),
    ).where(
        F.col("pc").isNotNull()
        & (F.col("pc") > 0)
        & (F.col("vol") > 0)
    )
    terms = lagged.select(
        "event_type",
        F.round(
            1e6 * F.abs(F.col("c") / F.col("pc") - 1) / F.col("vol"),
            8,
        ).alias("illiq"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(
                F.sum(F.col("illiq").cast("decimal(38,8)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("amihud_illiq"),
            F.round(F.max("illiq"), 6).alias("max_day_illiq"),
        )
        .orderBy("event_type")
    )
