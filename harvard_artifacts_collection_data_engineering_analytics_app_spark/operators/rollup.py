"""Hypertable-style multi-granularity time rollup (continuous aggregates).

Timescale-style hypertables serve the same aggregate at several time
grains (hour/day/month). The naive Spark form — ``GROUPING SETS`` over
derived bucket columns — Expands every input row once per grain *before*
the shuffle, so a 3-grain rollup shuffles 3x the raw table.

The scale-correct formulation is hierarchical: aggregate the raw table to
the finest grain once (one scan, one shuffle, map-side partial agg), then
re-aggregate that already-tiny result upward — each coarser grain costs a
shuffle of |distinct finest buckets| rows, which at 100 TB is the
difference between re-shuffling the fact table per grain and re-shuffling
a few thousand rows. Requires the aggregates to be decomposable
(count/sum/min/max re-aggregate exactly; avg is carried as sum+count).

The reference app has no time-series operator (events are this repo's
extension surface); sums follow the cents-integer convention so the
DuckDB oracle hash-matches exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..queries.registry import register
from ..session import ensure_analytics_conf

# finest → coarsest; each level re-aggregates the previous one.
GRAINS = ("hour", "day", "month")


def hierarchical_rollup(
    df: DataFrame,
    ts_col: str,
    key_cols: tuple[str, ...],
    value_col: str,
    grains: tuple[str, ...] = GRAINS,
) -> DataFrame:
    """count/sum of ``value_col`` per (grain, bucket_ts, *key_cols) for every
    grain, computed as a cascade: raw → grains[0] → grains[1] → ...

    Returns columns: grain, bucket_ts, *key_cols, cnt, sum_value. The sum is
    accumulated in integer cents internally so re-aggregation is exact and
    partition-order independent.
    """
    finest = df.groupBy(
        F.date_trunc(grains[0], F.col(ts_col)).alias("bucket_ts"), *key_cols
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col(value_col) * F.lit(100)).cast("bigint")).alias("_cents"),
    )

    levels = [finest.withColumn("grain", F.lit(grains[0]))]
    prev = finest
    for g in grains[1:]:
        prev = prev.groupBy(
            F.date_trunc(g, F.col("bucket_ts")).alias("bucket_ts"), *key_cols
        ).agg(F.sum("cnt").alias("cnt"), F.sum("_cents").alias("_cents"))
        levels.append(prev.withColumn("grain", F.lit(g)))

    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out.select(
        "grain",
        "bucket_ts",
        *key_cols,
        "cnt",
        (F.col("_cents") / F.lit(100.0)).alias("sum_value"),
    )


@register(
    "ht_rollup_multigrain",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS bucket_ts,
               event_type,
               COUNT(*) AS cnt,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events
        GROUP BY bucket_ts, event_type
    )
    SELECT 'hour' AS grain, bucket_ts, event_type, cnt, cents / 100.0 AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day', date_trunc('day', bucket_ts), event_type,
           CAST(SUM(cnt) AS BIGINT), CAST(SUM(cents) AS BIGINT) / 100.0
    FROM hourly GROUP BY 2, 3
    UNION ALL
    SELECT 'month', date_trunc('month', bucket_ts), event_type,
           CAST(SUM(cnt) AS BIGINT), CAST(SUM(cents) AS BIGINT) / 100.0
    FROM hourly GROUP BY 2, 3
    """,
    tags=("rollup", "timeseries", "hypertable"),
)
def ht_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour/day/month continuous aggregate over events via the hierarchical
    cascade (raw shuffled once; coarser grains re-aggregate the hourly
    result). The oracle re-aggregates the same hourly CTE, proving the
    cascade is exact."""
    ensure_analytics_conf(spark)
    e = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    return hierarchical_rollup(e, "ts", ("event_type",), "value")


# --- gap fill + linear interpolation ------------------------------------------------

GAP_FILL_USERS_LT = 10  # bound the demo grid; the plan is per-key generic


@register(
    "ht_gap_fill",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events WHERE user_id < {GAP_FILL_USERS_LT}
        GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
        SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    g AS (
        SELECT grid.user_id, grid.h, hourly.cents
        FROM grid LEFT JOIN hourly USING (user_id, h)
    ),
    w AS (
        SELECT user_id, h, cents,
               LAST_VALUE(cents IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               LAST_VALUE(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
               FIRST_VALUE(cents IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        FROM g
    )
    SELECT user_id, h AS hour,
           ROUND(
               CASE WHEN cents IS NOT NULL THEN cents::DOUBLE
                    ELSE pv::DOUBLE + (nv - pv)::DOUBLE *
                         ((epoch_us(h) - epoch_us(ph))::DOUBLE
                          / (epoch_us(nh) - epoch_us(ph))::DOUBLE)
               END / 100.0, 6) AS value_filled,
           CASE WHEN cents IS NOT NULL THEN 'observed' ELSE 'interp' END AS src
    FROM w
    """,
    tags=("timeseries", "gap-fill", "interpolation"),
)
def ht_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timescale-style gap filling: densify each user's hourly series onto
    a complete grid and linearly interpolate missing buckets between their
    nearest observed neighbors (`locf`+`interpolate` of a timeseries DB).

    Grid generation is sequence()-per-key (no cross join with a calendar
    table); neighbor lookup is two IGNORE NULLS window passes over the
    SAME (user, hour) sort — one shuffle total for windows after the
    hourly rollup shuffle. Interpolation arithmetic is fixed structure
    (pv + (nv−pv)·ratio on exact cents/epoch-micros ints) so both engines
    produce bit-identical doubles before the shared ROUND.

    At 100 TB the grid is |keys|·|hours| rows — dense but tiny next to the
    raw events (the hourly rollup already shrank the data); windows
    partition by key, so no single-task ordering bottleneck.
    """
    ensure_analytics_conf(spark)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < GAP_FILL_USERS_LT
    )
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    g = grid.join(hourly, ["user_id", "h"], "left")

    from pyspark.sql import Window

    wprev = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wnext = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("cents").isNotNull(), F.col("h"))
    g = (
        g.withColumn("pv", F.last("cents", ignorenulls=True).over(wprev))
        .withColumn("ph", F.last(obs_h, ignorenulls=True).over(wprev))
        .withColumn("nv", F.first("cents", ignorenulls=True).over(wnext))
        .withColumn("nh", F.first(obs_h, ignorenulls=True).over(wnext))
    )
    ratio = (
        (F.unix_micros(F.col("h")) - F.unix_micros(F.col("ph"))).cast("double")
        / (F.unix_micros(F.col("nh")) - F.unix_micros(F.col("ph"))).cast("double")
    )
    filled = F.when(
        F.col("cents").isNotNull(), F.col("cents").cast("double")
    ).otherwise(
        F.col("pv").cast("double")
        + (F.col("nv") - F.col("pv")).cast("double") * ratio
    )
    src = F.when(F.col("cents").isNotNull(), "observed").otherwise("interp")
    return g.select(
        "user_id",
        F.col("h").alias("hour"),
        F.round(filled / 100.0, 6).alias("value_filled"),
        src.alias("src"),
    )


@register(
    "ht_m4_downsample",
    oracle="""
    WITH b AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket,
               ts, event_id, value,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'view'
    ),
    ranked AS (
        SELECT bucket, ts, event_id, value, cents,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY ts, event_id)
                   AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY ts DESC,
                                  event_id DESC) AS rn_last
        FROM b
    )
    SELECT bucket,
           MIN(cents) AS min_cents,
           MAX(cents) AS max_cents,
           CAST(MIN(CASE WHEN rn_first = 1 THEN cents END) AS BIGINT)
               AS first_cents,
           CAST(MIN(CASE WHEN rn_last = 1 THEN cents END) AS BIGINT)
               AS last_cents,
           COUNT(*) AS n
    FROM ranked
    GROUP BY bucket
    """,
    tags=("timeseries", "downsample", "m4"),
)
def ht_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): per time
    bucket keep min, max, first, and last — the four values that make a
    line chart of the bucket pixel-identical to plotting every raw point.

    The visualization-tier standard (Grafana/Timescale serve exactly
    this) and a pure decomposable aggregate: min/max directly, first/last
    as min/max over (ts, event_id)-keyed structs — so the whole
    downsample is ONE map-side-combined aggregation, no window function
    and no second shuffle at any scale. Values carried in exact integer
    cents per the repo convention.
    """
    ensure_analytics_conf(spark)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    key = F.struct(F.col("ts"), F.col("event_id"), cents.alias("c"))
    return (
        e.select(
            F.window("ts", "1 hour").start.alias("bucket"),
            cents.alias("cents"),
            key.alias("k"),
        )
        .groupBy("bucket")
        .agg(
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.min("k").getField("c").alias("first_cents"),
            F.max("k").getField("c").alias("last_cents"),
            F.count("*").alias("n"),
        )
    )


EWMA_N = 16  # lookback horizon (latest N events per user)
EWMA_TOP = 20


@register(
    "ht_ewma_smooth",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    tail AS (SELECT * FROM ranked WHERE rn <= {EWMA_N}),
    agg AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(cents * (CAST(1 AS BIGINT) << ({EWMA_N} - rn)))
                    AS BIGINT) AS ewma_num,
               CAST(SUM(CAST(1 AS BIGINT) << ({EWMA_N} - rn))
                    AS BIGINT) AS ewma_den
        FROM tail GROUP BY user_id
    )
    SELECT user_id, n_events, ewma_num,
           ewma_num // ewma_den AS ewma_cents
    FROM agg
    ORDER BY ewma_cents DESC, user_id
    LIMIT {EWMA_TOP}
    """,
    tags=("timeseries", "ewma", "window"),
)
def ht_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = 1/2) of each user's
    event values over their latest {EWMA_N} events; top-20 users by the
    smoothed value.

    EWMA is an order-dependent recurrence, which normally makes it both
    a sequential scan AND a float-summation-order hazard. Both are
    dissolved by the same trick: with α = 1/2 the weights are exact
    powers of two, so truncating the horizon at N events turns the
    recurrence into a plain weighted SUM with integer weights
    2^(N-rn) — a decomposable aggregate over exact BIGINTs (cents ≤
    ~2^16 times 2^15 max weight stays far under 2^63). The smoothed
    value is reported as the exact integer quotient num DIV den
    (den = 2^N − 2^(N-n)), so no float division can disagree between
    engines.

    Plan shape (100 TB): one row_number window partitioned by user_id
    (high cardinality — no skew), one map-side-combined groupBy on the
    same key (the sort-window output is already co-partitioned, so AQE
    plans the agg without a second exchange), and a TakeOrdered top-k.
    The horizon bound N caps per-key state exactly like a streaming
    last-N buffer would.
    """
    from pyspark.sql import Window

    ensure_analytics_conf(spark)
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = e.select(
        "user_id", "cents", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= EWMA_N)
    weight = F.expr(f"shiftleft(CAST(1 AS BIGINT), {EWMA_N} - rn)")
    agg = ranked.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("cents") * weight).alias("ewma_num"),
        F.sum(weight).alias("ewma_den"),
    )
    return (
        agg.select(
            "user_id",
            "n_events",
            "ewma_num",
            F.expr("ewma_num DIV ewma_den").alias("ewma_cents"),
        )
        .orderBy(F.desc("ewma_cents"), F.asc("user_id"))
        .limit(EWMA_TOP)
    )


# --- seasonal-naive forecast evaluation ---------------------------------------

SEASONAL_LAG_H = 24


@register(
    "ht_seasonal_naive_error",
    oracle=f"""
    WITH h AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hr,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY event_type, hr
    ),
    j AS (
        SELECT a.event_type, a.cents AS actual, b.cents AS forecast
        FROM h a
        JOIN h b ON b.event_type = a.event_type
                AND b.hr = a.hr - INTERVAL {SEASONAL_LAG_H} HOUR
    )
    SELECT event_type,
           COUNT(*) AS n_hours,
           CAST(SUM(abs(actual - forecast)) AS BIGINT) AS total_abs_err_cents,
           CAST(SUM(abs(actual - forecast)) // COUNT(*) AS BIGINT) AS mae_cents
    FROM j GROUP BY event_type ORDER BY event_type
    """,
    tags=("hypertable", "forecast", "timeseries"),
)
def ht_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each (event_type,
    hour) total as the value 24 hours earlier and report per-type MAE —
    the baseline every real forecasting pipeline must beat, and the
    shape of backtest jobs generally (join a series to its own lagged
    self, aggregate the errors).

    Hours are compared by EXISTENCE join (hr − 24h must itself have
    data), not a row-offset lag — gaps in the series never silently pair
    wrong hours. Exact integer cents end to end; MAE on an integer grid
    (BIGINT DIV).

    Plan shape (100 TB): one map-side-combined hourly rollup (the same
    first cascade stage as ht_rollup_multigrain), then an equi-join of
    the hourly relation with itself on (type, hr−24h) — |hours|-sized
    inputs, AQE-broadcastable — and a per-type re-aggregation. The raw
    fact is scanned once.
    """
    ensure_analytics_conf(spark)
    e = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    h = (
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hr")
        )
        .agg(F.sum(cents).alias("cents"))
        .localCheckpoint(eager=True)  # feeds both sides of the self-join
    )
    a = h.alias("a")
    b = h.select(
        F.col("event_type").alias("b_type"),
        (F.col("hr") + F.expr(f"INTERVAL {SEASONAL_LAG_H} HOURS")).alias("b_hr"),
        F.col("cents").alias("forecast"),
    )
    err = F.abs(F.col("a.cents") - F.col("forecast"))
    return (
        a.join(
            b,
            (F.col("b_type") == F.col("a.event_type"))
            & (F.col("b_hr") == F.col("a.hr")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.count("*").alias("n_hours"),
            F.sum(err).alias("total_abs_err_cents"),
            F.expr(
                "CAST(SUM(abs(a.cents - forecast)) DIV COUNT(*) AS BIGINT)"
            ).alias("mae_cents"),
        )
        .orderBy("event_type")
    )


# --- LTTB-style visualization downsampling ------------------------------------

LTTB_BUCKET_H = 24  # one representative point per day per series


@register(
    "ht_lttb_downsample",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               epoch_us(time_bucket(INTERVAL '1 hour', ts)) // 3600000000
                   AS x,
               COUNT(*) AS y
        FROM events GROUP BY event_type,
             time_bucket(INTERVAL '1 hour', ts)
    ),
    p AS (SELECT event_type, x, y, x // {LTTB_BUCKET_H} AS b FROM h),
    s AS (
        SELECT event_type, b, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
        FROM p GROUP BY event_type, b
    ),
    sc AS (
        SELECT p.event_type, p.b, p.x, p.y,
               sp.n IS NOT NULL AND sn.n IS NOT NULL AS anchored,
               CASE WHEN sp.n IS NOT NULL AND sn.n IS NOT NULL THEN
                   abs( (sp.sx * sn.n - sn.sx * sp.n)
                            * (p.y * sp.n - sp.sy)
                      - (sp.sx - p.x * sp.n)
                            * (sn.sy * sp.n - sp.sy * sn.n) )
               ELSE p.y END AS sel
        FROM p
        LEFT JOIN s sp ON sp.event_type = p.event_type AND sp.b = p.b - 1
        LEFT JOIN s sn ON sn.event_type = p.event_type AND sn.b = p.b + 1
    )
    SELECT event_type, b AS bucket, x AS hr_idx, CAST(y AS BIGINT) AS cnt,
           anchored
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY event_type, b ORDER BY sel DESC, x
                  ) AS rn
        FROM sc
    ) WHERE rn = 1
    ORDER BY event_type, bucket
    """,
    tags=("timeseries", "downsample", "lttb"),
)
def ht_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB-style visualization downsampling of each event type's hourly
    series to one point per day — the OTHER classic downsampler next to
    M4 (ht_m4_downsample), picking per bucket the point that subtends the
    largest triangle against its neighbor buckets, which preserves visual
    shape where M4 preserves extrema.

    This is the PARALLEL variant: triangle anchors are the neighbor
    buckets' AVERAGE points rather than the previously-selected point
    (classic LTTB's selected-point recursion is inherently sequential
    across buckets — the published parallel simplification trades that
    dependency for bucket means, which is also what makes it a pure
    two-join + argmax relational plan). Exactness: the area comparison is
    cleared of divisions by multiplying through by n_prev²·n_next —
    |A·B − C·D| over exact BIGINTs (hour indexes × counts stay ≪ 2⁶³) —
    and edge buckets (missing a neighbor) deterministically keep their
    max-count point. Ties break on the earlier hour.

    Plan shape (100 TB): one map-side-combined hourly rollup (the only
    pass over the fact), bucket sums over the |type|·|days| relation, two
    self-equi-joins on (type, bucket±1), one per-bucket argmax window —
    everything after the rollup is days-sized, not events-sized.
    """
    ensure_analytics_conf(spark)
    e = load_table(spark, sf_dir, "events")
    h = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("y"))
        .select(
            "event_type",
            F.expr("unix_micros(hr) DIV 3600000000").alias("x"),
            "y",
        )
    )
    p = h.withColumn("b", F.expr(f"x DIV {LTTB_BUCKET_H}"))
    s = p.groupBy("event_type", "b").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    sp = s.select(
        F.col("event_type").alias("et_p"),
        (F.col("b") + 1).alias("b_p"),
        F.col("n").alias("n_p"),
        F.col("sx").alias("sx_p"),
        F.col("sy").alias("sy_p"),
    )
    sn = s.select(
        F.col("event_type").alias("et_n"),
        (F.col("b") - 1).alias("b_n"),
        F.col("n").alias("n_n"),
        F.col("sx").alias("sx_n"),
        F.col("sy").alias("sy_n"),
    )
    j = (
        p.join(
            sp,
            (F.col("event_type") == F.col("et_p")) & (F.col("b") == F.col("b_p")),
            "left",
        )
        .join(
            sn,
            (F.col("event_type") == F.col("et_n")) & (F.col("b") == F.col("b_n")),
            "left",
        )
    )
    anchored = F.col("n_p").isNotNull() & F.col("n_n").isNotNull()
    # Twice the triangle area (prev-anchor, candidate, next-anchor), cleared
    # of divisions by multiplying through by n_p²·n_n: with P=(sx_p/n_p,
    # sy_p/n_p), C=(x,y), N=(sx_n/n_n, sy_n/n_n),
    #   area2·n_p²·n_n = |(sx_p·n_n − sx_n·n_p)(y·n_p − sy_p)
    #                     − (sx_p − x·n_p)(sy_n·n_p − sy_p·n_n)|.
    # The second factor is (sy_n·n_p − sy_p·n_n) — the round-6 advisor
    # caught the sign flipped, which turned |T1−T2| into |T1+T2| and could
    # score a collinear candidate ABOVE an off-line one (unit-tested in
    # tests/test_rollup_lttb.py).
    area2 = F.abs(
        (F.col("sx_p") * F.col("n_n") - F.col("sx_n") * F.col("n_p"))
        * (F.col("y") * F.col("n_p") - F.col("sy_p"))
        - (F.col("sx_p") - F.col("x") * F.col("n_p"))
        * (F.col("sy_n") * F.col("n_p") - F.col("sy_p") * F.col("n_n"))
    )
    sel = F.when(anchored, area2).otherwise(F.col("y"))
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("event_type", "b").orderBy(F.desc("sel"), F.asc("x"))
    )
    return (
        j.select(
            "event_type",
            "b",
            "x",
            F.col("y").cast("long").alias("cnt"),
            anchored.alias("anchored"),
            sel.alias("sel"),
        )
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("b").alias("bucket"),
            F.col("x").alias("hr_idx"),
            "cnt",
            "anchored",
        )
        .orderBy("event_type", "bucket")
    )


# --- CUSUM change-point detection --------------------------------------------

CUSUM_TOP = 5


@register(
    "ht_cusum_changepoint",
    oracle=f"""
    WITH d AS (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS cnt
        FROM events GROUP BY day
    ),
    s AS (
        SELECT day, cnt,
               SUM(cnt) OVER (ORDER BY day) AS rs,
               ROW_NUMBER() OVER (ORDER BY day) AS k,
               COUNT(*) OVER () AS n,
               SUM(cnt) OVER () AS total
        FROM d
    )
    SELECT day, CAST(cnt AS BIGINT) AS cnt,
           CAST(n * rs - k * total AS BIGINT) AS cusum_scaled
    FROM s
    ORDER BY abs(CAST(n * rs - k * total AS BIGINT)) DESC, day
    LIMIT {CUSUM_TOP}
    """,
    tags=("hypertable", "changepoint"),
)
def ht_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point candidates over the daily event-count series: the
    top-5 days by |cumulative deviation from the series mean|.

    The classic offline CUSUM estimator: argmax_k |Σ_{{i<=k}} (x_i - mean)|
    locates the most likely level shift in a rate series (traffic drop,
    ingestion stall, bot burst). The statistic is computed in EXACT integer
    arithmetic — n·RS(k) − k·total is the deviation sum scaled by n, which
    avoids the fractional mean entirely, so both engines hash identically
    and the estimator is immune to float summation order.

    Plan shape (100 TB): the raw scan collapses to |days| rows in one
    map-side-combined aggregate; every window after that runs over the
    tiny daily series (a single in-memory partition of ~365·years rows —
    the series, not the events, is what the unpartitioned window sees).
    """
    ensure_analytics_conf(spark)
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    w_ord = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    s = d.select(
        "day",
        "cnt",
        F.sum("cnt").over(w_ord).alias("rs"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("k"),
        F.count("*").over(w_all).alias("n"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    return (
        s.select(
            "day",
            F.col("cnt").cast("long").alias("cnt"),
            (F.col("n") * F.col("rs") - F.col("k") * F.col("total"))
            .cast("long")
            .alias("cusum_scaled"),
        )
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), "day")
        .limit(CUSUM_TOP)
    )


# --- autocorrelation function -------------------------------------------------

ACF_MAX_LAG = 7


@register(
    "ht_acf",
    oracle=f"""
    WITH d AS (
        SELECT date_trunc('day', ts) AS day, COUNT(*) AS cnt
        FROM events GROUP BY day
    ),
    s AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS k, cnt,
               COUNT(*) OVER () AS n, SUM(cnt) OVER () AS total
        FROM d
    ),
    u AS (SELECT k, n, CAST(n * cnt - total AS BIGINT) AS u FROM s),
    den AS (SELECT SUM(u * u) AS den FROM u),
    lags AS (SELECT UNNEST(range(1, {ACF_MAX_LAG} + 1)) AS lag),
    num AS (
        SELECT l.lag, SUM(a.u * b.u) AS num, COUNT(*) AS n_pairs
        FROM lags l
        JOIN u a ON TRUE
        JOIN u b ON b.k = a.k + l.lag
        GROUP BY l.lag
    )
    SELECT num.lag AS lag,
           CAST(num.n_pairs AS BIGINT) AS n_pairs,
           CAST((1000 * num.num) // den.den AS BIGINT) AS acf_milli
    FROM num, den
    ORDER BY lag
    """,
    tags=("hypertable", "autocorrelation"),
)
def ht_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..7, in
    exact milli units — the seasonality detector (a lag-7 spike means
    weekly periodicity; near-zero everywhere means the series is noise;
    slow decay means trend). Feeds the seasonal models (ht_seasonal_*)
    with the RIGHT period instead of an assumed one.

    Exactness trick: mean-center without fractions by scaling through n —
    u_i = n·x_i − Σx is the deviation times n, so num/den are exact
    integer sums (order-independent) and the n² factor cancels in the
    ratio. Counts up to ~1e7/day stay far inside int64; at extreme scales
    pre-divide the daily counts (cnt DIV 1000) before centering — the
    ACF is scale-invariant.

    Plan shape (100 TB): the raw scan collapses to |days| rows in one
    map-side-combined aggregate; the lag self-join and windows all run on
    the tiny daily series (~365·years rows), so the cost is the scan.
    """
    ensure_analytics_conf(spark)
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    w_all = Window.partitionBy()
    s = d.select(
        F.row_number().over(Window.orderBy("day")).cast("long").alias("k"),
        "cnt",
        F.count("*").over(w_all).alias("n"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    u = s.select(
        "k", (F.col("n") * F.col("cnt") - F.col("total")).cast("long").alias("u")
    )
    den = u.agg(F.sum(F.col("u") * F.col("u")).alias("den"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a, b = u.alias("a"), u.alias("b")
    num = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("b.k") == F.col("a.k") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("a.u") * F.col("b.u")).alias("num"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.expr("CAST((1000 * num) DIV den AS BIGINT)").alias("acf_milli"),
        )
        .orderBy("lag")
    )


# --- rolling median/MAD anomaly detection --------------------------------------

MAD_WINDOW_D = 7  # trailing days forming the robust baseline
MAD_SIGMAS = 3  # flag when |cnt - med| > MAD_SIGMAS * MAD


@register(
    "ht_rolling_mad_anomaly",
    oracle=f"""
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'
                   AS day_num,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY day_num
    ),
    win AS (
        SELECT c.day_num, c.cnt,
               CAST(2 * median(p.cnt) AS BIGINT) AS med2,
               CAST(COUNT(*) AS BIGINT) AS n_base
        FROM d c JOIN d p
          ON p.day_num BETWEEN c.day_num - {MAD_WINDOW_D} AND c.day_num - 1
        GROUP BY c.day_num, c.cnt
        HAVING COUNT(*) = {MAD_WINDOW_D}
    ),
    mad AS (
        SELECT w.day_num, w.cnt, w.med2,
               CAST(2 * median(abs(2 * p.cnt - w.med2)) AS BIGINT) AS mad4
        FROM win w JOIN d p
          ON p.day_num BETWEEN w.day_num - {MAD_WINDOW_D} AND w.day_num - 1
        GROUP BY w.day_num, w.cnt, w.med2
    )
    SELECT day_num, cnt, med2, mad4,
           2 * abs(2 * cnt - med2) > {MAD_SIGMAS} * mad4 AS is_anomaly
    FROM mad
    ORDER BY day_num
    """,
    tags=("hypertable", "anomaly", "robust"),
)
def ht_rolling_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median/MAD anomaly detection over the daily event-count
    series: each day is scored against the robust center/spread of its
    TRAILING 7 days (median + median-absolute-deviation — immune to the
    very outliers it hunts, unlike mean/stddev z-scores), flagged when
    |cnt − med| > 3·MAD. Days without a full 7-day baseline are omitted.

    Exactness: medians of integers land on the half-grid, so the
    comparison is carried in exact integer units — med2 = 2·median(cnt),
    mad4 = 2·median(|2·cnt − med2|) (quarter-units of MAD), and the flag
    2·|2·cnt − med2| > 3·mad4 is an exact BIGINT inequality equivalent to
    |cnt − med| > 3·MAD. No float ever reaches the hash.

    Plan shape (100 TB): the raw scan collapses to |days| rows in one
    map-side-combined aggregate; the trailing windows materialize as a
    days×7 self-join (a |days|·W relation — nested medians don't compose
    as window functions, and W is a constant), so every stage after the
    first aggregation is calendar-sized, never event-sized. Per-series
    extension partitions both join sides by the series key.
    """
    ensure_analytics_conf(spark)
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_num")
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    p = d.select(
        F.col("day_num").alias("p_day"), F.col("cnt").alias("p_cnt")
    )
    base = d.join(
        p,
        (F.col("p_day") >= F.col("day_num") - MAD_WINDOW_D)
        & (F.col("p_day") <= F.col("day_num") - 1),
    )
    win = (
        base.groupBy("day_num", "cnt")
        .agg(
            F.floor(2 * F.expr("median(p_cnt)") + 0.5).cast("long").alias("med2"),
            F.count("*").cast("long").alias("n_base"),
        )
        .filter(F.col("n_base") == MAD_WINDOW_D)
    )
    mad = (
        win.join(
            p,
            (F.col("p_day") >= F.col("day_num") - MAD_WINDOW_D)
            & (F.col("p_day") <= F.col("day_num") - 1),
        )
        .groupBy("day_num", "cnt", "med2")
        .agg(
            F.floor(
                2 * F.expr("median(abs(2 * p_cnt - med2))") + 0.5
            )
            .cast("long")
            .alias("mad4")
        )
    )
    return mad.select(
        F.col("day_num").cast("long").alias("day_num"),
        "cnt",
        "med2",
        "mad4",
        (
            2 * F.abs(2 * F.col("cnt") - F.col("med2"))
            > MAD_SIGMAS * F.col("mad4")
        ).alias("is_anomaly"),
    ).orderBy("day_num")


# --- day-of-week seasonal decomposition ------------------------------------------


@register(
    "ht_dow_seasonal",
    oracle="""
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'
                   AS day_num,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY day_num
    ),
    t AS (
        SELECT day_num, cnt,
               SUM(cnt) OVER (
                   ORDER BY day_num
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
               ) AS trend7_sum,
               COUNT(*) OVER (
                   ORDER BY day_num
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
               ) AS n_win
        FROM d
    ),
    det AS (
        SELECT day_num % 7 AS dow,
               7 * cnt - trend7_sum AS d7
        FROM t WHERE n_win = 7
    )
    SELECT CAST(dow AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(d7) AS BIGINT) AS d7_sum,
           CAST((1000 * SUM(d7)) // (7 * COUNT(*)) AS BIGINT)
               AS seasonal_milli
    FROM det GROUP BY dow
    ORDER BY dow
    """,
    tags=("hypertable", "seasonality", "decomposition"),
)
def ht_dow_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of the daily event-count series — the
    additive-decomposition building block (classic STL's seasonal step,
    restricted to the weekly period): detrend by a CENTERED 7-day moving
    window, then average the detrended residual per weekday. A positive
    seasonal_milli for dow k means day k runs above its local trend —
    the number behind "is Monday traffic really lower or is that the
    trend?".

    Exactness: the trend is carried as the 7-day SUM (not mean), so the
    detrended residual 7·cnt − trend7_sum is an exact BIGINT; the per-dow
    index divides once at the end with the truncating-DIV pair. Edge days
    without a full centered window are excluded by the window-count
    guard, not padded — no partial-window bias.

    Plan shape (100 TB): the raw scan collapses to |days| rows map-side;
    the RANGE window and the 7-row aggregate run over the calendar-sized
    relation (same bounded-window argument as ht_cusum_changepoint). A
    per-series extension partitions the window by the series key.
    """
    ensure_analytics_conf(spark)
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_num")
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.orderBy("day_num").rangeBetween(-3, 3)
    t = d.select(
        "day_num",
        "cnt",
        F.sum("cnt").over(w).alias("trend7_sum"),
        F.count("*").over(w).alias("n_win"),
    ).filter(F.col("n_win") == 7)
    det = t.select(
        (F.col("day_num") % 7).cast("long").alias("dow"),
        (7 * F.col("cnt") - F.col("trend7_sum")).alias("d7"),
    )
    return (
        det.groupBy("dow")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("d7").cast("long").alias("d7_sum"),
        )
        .select(
            "dow",
            "n_days",
            "d7_sum",
            F.expr("(1000 * d7_sum) DIV (7 * n_days)").alias("seasonal_milli"),
        )
        .orderBy("dow")
    )


# --- Theil-Sen robust trend slope ----------------------------------------------

TS_SLOPE_SCALE = 1_000_000  # slope resolution: micro-cents per hour


@register(
    "ht_theil_sen_slope",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS h,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY event_type, h
    ),
    pairs AS (
        SELECT a.event_type,
               ((b.y - a.y) * {TS_SLOPE_SCALE}) // (b.h - a.h) AS slope_micro,
               a.h AS h1, b.h AS h2
        FROM hourly a JOIN hourly b
          ON a.event_type = b.event_type AND a.h < b.h
    ),
    ranked AS (
        SELECT event_type, slope_micro,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY slope_micro, h1, h2
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
        FROM pairs
    ),
    npts AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points
        FROM hourly GROUP BY event_type
    )
    SELECT r.event_type, n.n_points, CAST(r.n_pairs AS BIGINT) AS n_pairs,
           r.slope_micro AS ts_slope_micro
    FROM ranked r JOIN npts n USING (event_type)
    WHERE r.rn = (r.n_pairs + 1) // 2
    ORDER BY r.event_type
    """,
    tags=("hypertable", "trend", "robust"),
)
def ht_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate per event type: the MEDIAN of all
    pairwise slopes of the hourly value series — the outlier-immune
    alternative to least-squares trend (breakdown point 29%), the
    estimator monitoring stacks reach for when one spiky hour would drag
    OLS. Slopes live on an integer micro-cents-per-hour grid
    ((Δcents·1e6) DIV Δhours — the cross-engine truncating pair); the
    median is the rank-picked lower median (rank (n+1)//2 with a full
    (slope, h1, h2) tie-order), never an interpolation, so both engines
    select the identical integer.

    Plan shape (100 TB): the pairwise relation is quadratic in the
    NUMBER OF HOURLY BUCKETS (720 points/month → 259k pairs per type),
    not in raw event volume — the hourly pre-aggregation is the
    map-side-combined pass that absorbs the 100 TB, after which the
    pairwise slopes and the rank-median pick run as ONE numpy kernel per
    type over only the hourly rows (guide §4.2: the former self-join +
    full window sort shuffled the quadratic pair relation twice; now
    nothing quadratic crosses an exchange). Types partition
    independently; for multi-year spans switch to per-window Theil-Sen
    over sliding blocks, same plan.
    """
    ensure_analytics_conf(spark)
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("unix_micros(ts) DIV 3600000000").alias("h"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )

    # Pairwise slopes + lower-median pick as ONE Arrow kernel per type
    # (guide §4.2): the former self-join materialized the quadratic pair
    # relation through an exchange and ranked it with a full window sort;
    # here only the HOURLY rows (per-type bounded: the pair count is
    # quadratic in hourly buckets, never in event volume — ~260k pairs
    # per type-month) cross the Python boundary, and numpy broadcasting
    # scores every pair in one shot. Semantics pinned to the engine/
    # oracle pair: slope = (Δcents·1e6) DIV Δhours with DIV truncating
    # toward ZERO (numpy's // floors toward -inf — corrected below for
    # negative numerators; Δh is always > 0), and the median is the
    # rank-(n+1)//2 element under the full (slope, h1, h2) tie order —
    # np.lexsort with keys in reverse significance reproduces it exactly.
    # An hour whose values are all NULL has y NULL: every pair touching it
    # has a NULL slope, counted in n_pairs and sorted last (the oracle's
    # ORDER BY default, NULLS LAST), so the median is NULL when the rank
    # lands among them.
    def ts_median(pdf):
        import numpy as np
        import pandas as pd

        h = pdf["h"].to_numpy(dtype="int64")
        y_null = pdf["y"].isna().to_numpy()
        y = pdf["y"].fillna(0).to_numpy(dtype="int64")
        order = np.argsort(h)
        h, y, y_null = h[order], y[order], y_null[order]
        m = len(h)
        if m < 2:
            return pd.DataFrame(
                {
                    "event_type": pd.Series(dtype=object),
                    "n_points": pd.Series(dtype="int64"),
                    "n_pairs": pd.Series(dtype="int64"),
                    "ts_slope_micro": pd.Series(dtype="int64"),
                }
            )
        ia, ib = np.triu_indices(m, k=1)  # all i<j pairs; h sorted asc
        num = (y[ib] - y[ia]) * TS_SLOPE_SCALE
        den = h[ib] - h[ia]  # > 0 by construction
        q = num // den  # floor division
        # truncate toward zero: floor == trunc except for negative
        # non-exact quotients, where trunc = floor + 1
        q += (num - q * den != 0) & (num < 0)
        q_null = y_null[ia] | y_null[ib]
        n_pairs = len(q)
        rank = (n_pairs + 1) // 2 - 1  # 0-based lower median
        sel = np.lexsort((h[ib], h[ia], q, q_null))[rank]
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_points": np.array([m], dtype="int64"),
                "n_pairs": np.array([n_pairs], dtype="int64"),
                "ts_slope_micro": pd.array(
                    [None if q_null[sel] else int(q[sel])], dtype="Int64"
                ),
            }
        )

    # NULL event_type produces no output in either engine (the oracle's
    # equi-joins drop it); filter it out rather than shipping the group.
    return (
        hourly.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .applyInPandas(
            ts_median,
            "event_type string, n_points long, n_pairs long, "
            "ts_slope_micro long",
        )
        .orderBy("event_type")
    )


# --- arrival-process dispersion (index of dispersion) ---------------------------------


@register(
    "ht_dispersion_index",
    oracle="""
    WITH h AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hr,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, hr
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM h GROUP BY event_type
    )
    SELECT event_type, n AS n_hours,
           (1000 * sx) // n AS mean_milli,
           (1000 * (n * sxx - sx * sx)) // (n * sx) AS dispersion_milli
    FROM s
    ORDER BY event_type
    """,
    tags=("hypertable", "dispersion", "burstiness", "diagnostics"),
)
def ht_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of each event type's
    hourly arrival counts — the Poisson-ness test: ≈1000 milli means
    memoryless arrivals (rate-based capacity planning is safe), ≫1000
    means bursty/clustered traffic (provision for peaks; pair with
    tw_burst_detection to find WHEN), ≪1000 means smoothed/regulated
    flow. The one-number companion to ht_acf's full correlogram.

    Exactness: dispersion = (n·Σx² − (Σx)²) / (n·Σx) carried entirely in
    exact BIGINT sums with ONE trailing truncating DIV onto the milli
    grid — no float mean or variance exists at any point (hourly counts
    ≤10⁶ keep n·Σx² far below 2⁶³ at any realistic volume).

    Plan shape (100 TB): one map-side-combined hourly rollup (the same
    first exchange every ht_ op shares), then a per-type fold of three
    integer partials — decomposable, combiner-friendly, nothing wider
    than (type, n, Σx, Σx²) past the first shuffle.
    """
    ensure_analytics_conf(spark)
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("long").alias("x"))
    s = h.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return (
        s.select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.expr("(1000 * sx) DIV n").alias("mean_milli"),
            F.expr("(1000 * (n * sxx - sx * sx)) DIV (n * sx)").alias(
                "dispersion_milli"
            ),
        )
        .orderBy("event_type")
    )


# --- classical seasonal decomposition ----------------------------------------------

DECOMP_HALF = 12  # centered moving-average half-width (25-hour trend window)


@register(
    "ht_classical_decompose",
    oracle=f"""
    WITH y0 AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS h,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY event_type, h
    ),
    bounds AS (
        SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM y0 GROUP BY event_type
    ),
    hours AS (
        SELECT event_type, UNNEST(generate_series(h0, h1)) AS h FROM bounds
    ),
    g AS (
        SELECT hours.event_type, hours.h, COALESCE(y0.y, 0) AS y
        FROM hours LEFT JOIN y0
          ON y0.event_type = hours.event_type AND y0.h = hours.h
    ),
    t AS (
        SELECT event_type, h, y,
               CAST(SUM(y) OVER w AS BIGINT) AS s25,
               COUNT(*) OVER w AS c25
        FROM g
        WINDOW w AS (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN {DECOMP_HALF} PRECEDING
                              AND {DECOMP_HALF} FOLLOWING)
    ),
    d AS (
        SELECT event_type, h % 24 AS hod,
               y * {2 * DECOMP_HALF + 1} - s25 AS dx
        FROM t WHERE c25 = {2 * DECOMP_HALF + 1}
    )
    SELECT event_type, hod,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(dx) * 1000 // ({2 * DECOMP_HALF + 1} * COUNT(*)) AS BIGINT)
               AS seasonal_milli_cents
    FROM d
    GROUP BY event_type, hod
    ORDER BY event_type, hod
    """,
    tags=("timeseries", "decomposition", "window"),
)
def ht_classical_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition, hour-of-day profile:
    detrend the hourly revenue series per event_type with a centered
    25-hour moving average, then average the detrended values by
    hour-of-day — the seasonal index an anomaly detector subtracts
    before thresholding (ht_rolling_mad_anomaly's natural upstream).

    Exactness: the trend subtraction is computed on the ×25 integer grid
    (y·25 − Σ₂₅y) so NO division happens before the final aggregate —
    one DIV at the end, summation-order-proof. Hours are epoch-integer;
    the series is gap-filled per type (sequence + left join + zero) so
    the 25-ROW frame is exactly the 25-HOUR frame; edge hours without a
    full window are excluded (c25 = 25), matching textbook practice.

    Plan shape (100 TB): one map-side-combined agg to the (type, hour)
    relation — the only fact-sized shuffle — then windows/joins over
    |types|·|hours| rows (720/type/month regardless of event volume,
    the ht_theil_sen_slope invariance argument). Gap-fill explodes from
    a |types|-row bounds relation, never from raw events.
    """
    from pyspark.sql import Window

    ensure_analytics_conf(spark)
    e = load_table(spark, sf_dir, "events")
    span = 2 * DECOMP_HALF + 1
    y0 = e.groupBy(
        "event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("y"))
    bounds = y0.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    hours = bounds.select(
        "event_type", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    g = hours.join(y0, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("y", F.lit(0)).alias("y")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-DECOMP_HALF, DECOMP_HALF)
    )
    t = g.select(
        "event_type",
        "h",
        "y",
        F.sum("y").over(w).alias("s25"),
        F.count("*").over(w).alias("c25"),
    )
    d = t.filter(F.col("c25") == span).select(
        "event_type",
        (F.col("h") % 24).alias("hod"),
        (F.col("y") * span - F.col("s25")).alias("dx"),
    )
    return (
        d.groupBy("event_type", "hod")
        .agg(
            F.count("*").cast("long").alias("n_hours"),
            F.expr(f"SUM(dx) * 1000 DIV ({span} * COUNT(*))").alias(
                "seasonal_milli_cents"
            ),
        )
        .orderBy("event_type", "hod")
    )
