"""Scalar-function and relational-surface extensions.

The reference's SQL surface stops at `=`, `!=`, `>`, `<=`, BETWEEN, LIKE,
IS NOT NULL, COUNT, AVG (SURVEY.md §2.2). Everything here is the surface a
user of a general analytics engine expects on top: date/string/math/JSON/
array scalar functions, CASE, set operators, HAVING, subqueries, semi/anti
and outer joins, ROLLUP/CUBE. All built-in Catalyst expressions — no Python
UDFs — so whole-stage codegen applies end-to-end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table, persisted_artifact
from ..session import ensure_analytics_conf
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_analytics_conf(spark)
    return load_table(spark, sf_dir, name)


# --- date/time functions -----------------------------------------------------


@register(
    "fx_date_extract",
    oracle="""
    SELECT EXTRACT(YEAR FROM o_orderdate) AS order_year,
           EXTRACT(MONTH FROM o_orderdate) AS order_month,
           COUNT(*) AS cnt,
           ROUND(AVG(o_totalprice), 6) AS avg_price
    FROM orders
    GROUP BY order_year, order_month
    """,
    tags=("functions", "date", "agg"),
)
def fx_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction feeding a grouped aggregate."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        )
    )


@register(
    "fx_date_trunc_diff",
    oracle="""
    SELECT o_orderkey,
           DATE_TRUNC('month', o_orderdate) AS order_month_start,
           CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
               AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey < 100
    """,
    tags=("functions", "date"),
)
def fx_date_trunc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc + datediff scalar functions."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 100).select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
    )


# --- string functions ----------------------------------------------------------


@register(
    "fx_string_funcs",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           SUBSTR(c_name, 1, 8) AS name_prefix,
           CAST(LENGTH(c_name) AS BIGINT) AS name_len,
           REPLACE(c_name, 'Customer#', 'C-') AS name_short,
           TRIM(CONCAT(c_mktsegment, ' ')) AS seg_trim
    FROM customer
    WHERE c_custkey < 50
    """,
    tags=("functions", "string"),
)
def fx_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/lower/substring/length/replace/trim/concat."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") < 50).select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("C-")).alias("name_short"),
        F.trim(F.concat(F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
    )


@register(
    "fx_regexp",
    oracle="""
    SELECT p_partkey,
           REGEXP_EXTRACT(p_name, '^(\\w+)', 1) AS first_word,
           REGEXP_MATCHES(p_name, 'w.dget') AS matches_pattern,
           REGEXP_REPLACE(p_name, '\\s+', '_', 'g') AS snake_name
    FROM part
    WHERE p_partkey < 100
    """,
    tags=("functions", "string", "regex"),
)
def fx_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp extract/match/replace (Spark regexp_replace is global like 'g')."""
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") < 100).select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.col("p_name").rlike("w.dget").alias("matches_pattern"),
        F.regexp_replace("p_name", r"\s+", "_").alias("snake_name"),
    )


# --- math functions ------------------------------------------------------------


@register(
    "fx_math_funcs",
    oracle="""
    SELECT o_orderkey,
           ROUND(ABS(o_totalprice - 100000), 6) AS abs_centered,
           CAST(CEIL(o_totalprice / 1000) AS BIGINT) AS price_kilo_ceil,
           CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_kilo_floor,
           ROUND(SQRT(o_totalprice), 6) AS price_sqrt,
           ROUND(LN(o_totalprice + 1), 6) AS price_ln,
           CAST(o_orderkey % 7 AS BIGINT) AS key_mod7
    FROM orders
    WHERE o_orderkey < 100 AND o_totalprice > 0
    """,
    tags=("functions", "math"),
)
def fx_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/ceil/floor/sqrt/ln/mod scalar math."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter((F.col("o_orderkey") < 100) & (F.col("o_totalprice") > 0))
        .select(
            "o_orderkey",
            F.round(F.abs(F.col("o_totalprice") - 100000), 6).alias("abs_centered"),
            F.ceil(F.col("o_totalprice") / 1000).alias("price_kilo_ceil"),
            F.floor(F.col("o_totalprice") / 1000).alias("price_kilo_floor"),
            F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
            F.round(F.log(F.col("o_totalprice") + 1), 6).alias("price_ln"),
            (F.col("o_orderkey") % 7).cast("long").alias("key_mod7"),
        )
    )


# --- JSON ------------------------------------------------------------------------


@register(
    "fx_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    """,
    tags=("functions", "json", "agg"),
)
def fx_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (`props` is a JSON string column) + aggregate."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("props").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.avg(F.get_json_object("props", "$.k").cast("int")), 6
            ).alias("avg_k"),
        )
    )


# --- arrays (embeddings) -----------------------------------------------------------


@register(
    "fx_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 6)
               AS sq_norm,
           ROUND(embedding[1]::DOUBLE, 6) AS first_val
    FROM embeddings
    WHERE vec_id < 50
    """,
    tags=("functions", "array"),
)
def fx_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions on the embedding column (no UDFs)."""
    e = _t(spark, sf_dir, "embeddings")
    sq_norm = F.aggregate(
        F.col("embedding"),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return e.filter(F.col("vec_id") < 50).select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(sq_norm, 6).alias("sq_norm"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
    )


# --- CASE WHEN ----------------------------------------------------------------------


@register(
    "fx_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS price_bucket,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY price_bucket
    """,
    tags=("functions", "case"),
)
def fx_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing feeding an aggregate."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("price_bucket")).agg(F.count("*").alias("cnt"))


# --- set operators --------------------------------------------------------------------


@register(
    "fx_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setops",),
)
def fx_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of customer and supplier nation keys."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "fx_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setops",),
)
def fx_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of customer and supplier nation keys."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "fx_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setops",),
)
def fx_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): nations with customers but no suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


# --- HAVING -----------------------------------------------------------------------------


@register(
    "fx_having",
    oracle="""
    SELECT l_suppkey, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 100
    """,
    tags=("agg", "having"),
)
def fx_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + post-aggregation filter (HAVING)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 100)
    )


# --- subqueries ----------------------------------------------------------------------------


@register(
    "fx_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    tags=("subquery", "topk"),
)
def fx_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (orders well above average price).

    Expressed via spark.sql over a temp view — Catalyst plans the scalar
    subquery as a broadcast single-row join.
    """
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders_v
        WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders_v)
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25
        """
    )


@register(
    "fx_in_subquery",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_regionkey = 2
    )
    """,
    tags=("subquery", "semijoin"),
)
def fx_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery → planned as a (broadcast) left-semi join."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    return c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "fx_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("subquery", "antijoin"),
)
def fx_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (customers with no orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- outer joins -------------------------------------------------------------------------------


@register(
    "fx_left_outer_join",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           SUM(CAST(ROUND(COALESCE(o.o_totalprice, 0) * 100) AS BIGINT)) / 100.0
               AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
    tags=("join", "outer", "agg"),
)
def fx_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (count = 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (
                F.sum(
                    F.round(F.coalesce(F.col("o_totalprice"), F.lit(0.0)) * 100).cast(
                        "bigint"
                    )
                )
                / 100.0
            ).alias("total_spent"),
        )
    )


@register(
    "fx_full_outer_join",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey FROM supplier)
    SELECT COALESCE(cn.c_nationkey, sn.s_nationkey) AS nationkey,
           cn.c_nationkey IS NOT NULL AS has_customers,
           sn.s_nationkey IS NOT NULL AS has_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.c_nationkey = sn.s_nationkey
    """,
    tags=("join", "outer"),
)
def fx_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join over distinct nation keys from two tables."""
    cn = _t(spark, sf_dir, "customer").select("c_nationkey").distinct()
    sn = _t(spark, sf_dir, "supplier").select("s_nationkey").distinct()
    j = cn.join(sn, cn.c_nationkey == sn.s_nationkey, "full_outer")
    return j.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.col("c_nationkey").isNotNull().alias("has_customers"),
        F.col("s_nationkey").isNotNull().alias("has_suppliers"),
    )


# --- grouping sets ------------------------------------------------------------------------------


@register(
    "fx_rollup",
    oracle="""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    tags=("agg", "rollup"),
)
def fx_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with subtotal and grand-total rows (labelled 'ALL')."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "cnt",
        )
    )


@register(
    "fx_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def fx_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two group keys (all 4 grouping combinations)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "cnt",
        )
    )


# --- extended aggregate functions -----------------------------------------------------------------


@register(
    "fx_agg_stats",
    oracle="""
    SELECT l_returnflag,
           SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS std_qty,
           COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def fx_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX/STDDEV/COUNT-DISTINCT aggregate surface.

    STDDEV of ~20k doubles is summation-order dependent in the last bits;
    round(…, 6) pins it (values are O(10)).
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")) / 100.0).alias(
            "sum_qty"
        ),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@register(
    "fx_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(l_extendedprice), 6) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def fx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median and interpolated percentiles (both engines use the
    linear-interpolation definition)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 6).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 6).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias("p95_price"),
    )


@register(
    "fx_approx_count_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_cnt, TRUE AS approx_within_5pct
    FROM lineitem
    """,
    tags=("agg", "approx"),
)
def fx_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count with a self-checking error bound.

    The sketch value itself is engine-specific, so the oracle-checked
    output is the exact count plus a boolean asserting the approximation
    landed within 5% — the accuracy claim is what gets value-checked.
    """
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("exact_cnt"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_cnt"),
    )
    return agg.select(
        "exact_cnt",
        (
            F.abs(F.col("approx_cnt") - F.col("exact_cnt"))
            / F.col("exact_cnt").cast("double")
            <= 0.05
        ).alias("approx_within_5pct"),
    )


@register(
    "fx_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def fx_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) over a known value set."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


@register(
    "fx_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
    tags=("agg", "groupingsets"),
)
def fx_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): two independent
    one-dimension subtotals plus the grand total."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COUNT(*) AS cnt
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "fx_exists_correlated",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49.5
    )
    """,
    tags=("subquery", "semijoin"),
)
def fx_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with an extra predicate → left-semi join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49.5)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "fx_lateral_explode",
    oracle="""
    SELECT e.vec_id,
           CAST(u.i - 1 AS INTEGER) AS pos,
           ROUND(e.embedding[u.i]::DOUBLE, 6) AS component
    FROM embeddings e, (SELECT UNNEST(range(1, 4)) AS i) u
    WHERE e.vec_id < 20
    """,
    tags=("array", "explode"),
)
def fx_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (lateral view) of the first 3 embedding components."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.filter(F.col("vec_id") < 20)
        .select(
            "vec_id",
            F.posexplode(F.slice("embedding", 1, 3)).alias("pos", "component"),
        )
        .select(
            "vec_id",
            F.col("pos").cast("int").alias("pos"),
            F.round(F.col("component").cast("double"), 6).alias("component"),
        )
    )


_REGR_ORACLE = """
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(regr_slope(value, epoch_us(ts) / 1000000.0), 6) AS value_trend
    FROM events
    WHERE user_id < 10
    GROUP BY user_id
    """


@register(
    "fx_regr_slope",
    oracle=_REGR_ORACLE,
    tags=("agg", "regression"),
)
def fx_regr_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event value over time (built-in regr_slope)."""
    e = _t(spark, sf_dir, "events")
    x = F.unix_micros("ts") / F.lit(1_000_000.0)
    return (
        e.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.regr_slope(F.col("value"), x), 6).alias("value_trend"),
        )
    )


@register(
    "pd_user_trend",
    oracle=_REGR_ORACLE,
    tags=("agg", "regression", "pandas-udf"),
)
def pd_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same statistic via a custom grouped-map applyInPandas aggregation.

    Demonstrates the batch Arrow grouped-map path (custom per-group Python
    logic) while staying value-checked: numpy least squares must agree
    with the SQL regr_slope oracle to 1e-6.
    """
    import numpy as np
    import pandas as pd

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)

    def trend(pdf: pd.DataFrame) -> pd.DataFrame:
        n_all = len(pdf)
        uid = int(pdf["user_id"].iloc[0])  # before dropna: group key always present
        # regr_slope semantics: NULL pairs are excluded row-wise, and the
        # zero-variance / single-point case yields NULL (not NaN).
        pdf = pdf.dropna(subset=["ts", "value"])
        x = pdf["ts"].astype("int64").to_numpy() / 1e9  # ns → seconds
        y = pdf["value"].to_numpy(dtype="float64")
        xc = x - x.mean() if len(x) else x
        denom = (xc * xc).sum()
        slope = round(float((xc * (y - y.mean())).sum() / denom), 6) if denom else None
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [n_all],
                "value_trend": [slope],
            }
        )

    return e.select("user_id", "ts", "value").groupBy("user_id").applyInPandas(
        trend, "user_id long, n_events long, value_trend double"
    )


@register(
    "fx_hash_sample",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE CAST(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15)) AS BIGINT) % 20 = 0
    """,
    tags=("sample",),
)
def fx_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% bernoulli sample via the portable hash.

    Unlike rand()-based sampling this is reproducible across engines and
    runs — the property a training-data pipeline needs for held-out
    splits.
    """
    from ..functions.text import portable_hash60

    o = _t(spark, sf_dir, "orders")
    h = portable_hash60(F.col("o_orderkey").cast("string"))
    return o.filter(h % 20 == 0).select("o_orderkey", "o_totalprice")


@register(
    "fx_stratified_sample",
    oracle="""
    WITH rates AS (
        SELECT * FROM (VALUES
            ('BUILDING', 2), ('AUTOMOBILE', 4), ('MACHINERY', 10)
        ) AS t(seg, one_in)
    )
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c JOIN rates r ON c.c_mktsegment = r.seg
    WHERE CAST(('0x' || substr(md5(c.c_custkey::VARCHAR), 1, 15)) AS BIGINT)
          % r.one_in = 0
    """,
    tags=("sample", "stratified"),
)
def fx_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling rates (sampleBy semantics) made deterministic.

    ``df.sampleBy`` is seed-dependent and engine-specific; hashing the key
    per stratum gives reproducible train/eval splits — the portable-hash
    analogue of stratified sampling. The rates relation is a literal
    broadcast join, so the scan stays a single filter pass at any scale.
    """
    from ..functions.text import portable_hash60

    c = _t(spark, sf_dir, "customer")
    rates = F.broadcast(
        c.sparkSession.createDataFrame(
            [("BUILDING", 2), ("AUTOMOBILE", 4), ("MACHINERY", 10)],
            "seg string, one_in long",
        )
    )
    h = portable_hash60(F.col("c_custkey").cast("string"))
    return (
        c.join(rates, c["c_mktsegment"] == rates["seg"])
        .filter(h % F.col("one_in") == 0)
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "fx_scd2_intervals",
    oracle="""
    SELECT o_custkey,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to,
           o_orderkey,
           o_orderstatus,
           CASE WHEN LEAD(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL THEN 1 ELSE 0 END AS is_current
    FROM orders
    WHERE o_custkey < 50
    """,
    tags=("etl", "scd2", "window"),
)
def fx_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval construction.

    Turns a change log (each order = a state change per customer) into
    validity intervals: valid_from = change date, valid_to = next change
    date (NULL = current row). This is the standard warehouse pattern for
    building SCD2 dimensions in one window pass — one shuffle on the
    business key, no self-join. The reference app only ever overwrites
    state (INSERT IGNORE); interval history is an extension.
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        "o_orderkey",
        "o_orderstatus",
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).cast("int").alias("is_current"),
    )


@register(
    "fx_hll_sketch_merge",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_cnt,
           TRUE AS merged_within_5pct
    FROM lineitem
    """,
    tags=("sketch", "approx", "agg"),
)
def fx_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-group HLL → union → estimate.

    The pre-aggregation pattern for 100 TB: build a DataSketches HLL per
    partition/day once, persist the binary sketch, and answer any later
    union (global, rolling window, cross-segment) by merging sketches —
    never rescanning the raw data. The oracle checks the merged estimate
    lands within 5% of the exact distinct count, so the sketch path
    itself is value-gated.
    """
    li = _t(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("exact_cnt"))
    return exact.crossJoin(F.broadcast(merged)).select(
        "exact_cnt",
        (
            F.abs(F.col("est") - F.col("exact_cnt"))
            <= 0.05 * F.col("exact_cnt")
        ).alias("merged_within_5pct"),
    )


@register(
    "fx_pandas_udaf_rms",
    oracle="""
    SELECT o_orderpriority,
           ROUND(
               sqrt(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        * CAST(ROUND(o_totalprice * 100) AS BIGINT))::DOUBLE
                    / COUNT(*)) / 100.0,
               6
           ) AS rms_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("udaf", "pandas-udf", "agg"),
)
def fx_pandas_udaf_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via a GROUPED_AGG pandas UDF (Arrow-vectorized).

    Root-mean-square price per priority. The squares are summed in exact
    integer cents so the result is independent of partitioning and
    accumulation order — the same trick the SUM(double) oracles use,
    applied inside a UDAF. The sum-of-squares is accumulated in
    arbitrary-precision Python ints (object dtype): an int64 accumulator
    silently wraps once row counts grow (~1e10 cents² per row × rows —
    sf1 already exceeds int64), while DuckDB's oracle sums into HUGEINT.
    This is the vectorized-UDAF slow path; everything expressible as
    built-ins elsewhere stays JVM-side.
    """
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations` stringifies
    # type hints, which defeats the signature-based eval-type inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def rms_cents(v):
        cents = np.rint(v.to_numpy() * 100).astype(np.int64).astype(object)
        sum_sq = int((cents * cents).sum())  # Python-int exact, no wraparound
        # float(sum_sq) then divide = oracle's CAST(SUM AS DOUBLE) / COUNT(*)
        return float((float(sum_sq) / len(cents)) ** 0.5 / 100.0)

    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(rms_cents("o_totalprice"), 6).alias("rms_price")
    )


# --- multiset ops + unpivot (round 4: relational-surface completion) ----------------


@register(
    "fx_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_custkey < 50
    INTERSECT ALL
    SELECT c_custkey AS custkey FROM customer WHERE c_custkey < 80
    """,
    tags=("setops", "multiset"),
)
def fx_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics): each custkey keeps
    min(count_left, count_right) copies — Spark's intersectAll, which
    plans as a counted hash join rather than a distinct-then-join."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50).select(
        F.col("o_custkey").alias("custkey")
    )
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 80).select(
        F.col("c_custkey").alias("custkey")
    )
    return o.intersectAll(c)


@register(
    "fx_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_custkey < 50
    EXCEPT ALL
    SELECT c_custkey AS custkey FROM customer WHERE c_custkey < 80
    """,
    tags=("setops", "multiset"),
)
def fx_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics): multiplicities subtract instead of the
    whole group vanishing."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50).select(
        F.col("o_custkey").alias("custkey")
    )
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 80).select(
        F.col("c_custkey").alias("custkey")
    )
    return o.exceptAll(c)


@register(
    "fx_unpivot",
    oracle="""
    SELECT o_orderkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
        SELECT o_orderkey, o_totalprice, CAST(o_custkey AS DOUBLE) AS custkey_d
        FROM orders WHERE o_orderkey < 200
    )
    UNPIVOT (val FOR metric IN (o_totalprice AS 'totalprice',
                                custkey_d AS 'custkey'))
    """,
    tags=("reshape", "unpivot"),
)
def fx_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: wide metric columns to (key, metric, value) long
    form — the inverse of fx_pivot, via the native unpivot operator (a
    generator expression, no shuffle and no per-metric scan)."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_custkey").cast("double").alias("custkey_d"),
        )
    )
    return o.unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "custkey_d"],
        variableColumnName="metric",
        valueColumnName="val",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "o_totalprice", "totalprice").otherwise(
            "custkey"
        ),
    )


@register(
    "fx_weighted_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ROUND(
                   ln((CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
                       + 1) / 1152921504606846976.0)
                   / n_chars,
                   6
               ) AS priority
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, priority
    FROM keyed
    ORDER BY priority DESC, doc_id
    LIMIT 50
    """,
    tags=("sample", "weighted"),
)
def fx_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES keys).

    Efraimidis & Spirakis (IPL 2006): draw u ~ U(0,1] per row and keep the
    top-k by u^(1/w) — equivalent to, and computed as, ln(u)/w. Rows with
    larger weights (here: document length, a proxy for "sample long docs
    proportionally more") win more often, and because u comes from the
    portable hash rather than rand(), the sample is reproducible across
    engines, runs, and partitionings — the property a training-data
    pipeline needs for auditable subsampling. The priority is rounded to
    6 decimals with a doc_id tie-break, the repo-wide contract that keeps
    cross-engine float ulps from reordering the selection. Plan: one scan
    + TakeOrderedAndProject (per-partition heaps, k rows to the driver) —
    no global sort at any scale.
    """
    from ..functions.text import portable_hash60

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (portable_hash60(F.col("doc_id").cast("string")) + 1) / F.lit(
        float(1 << 60)
    )
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.round(F.log(u) / F.col("n_chars"), 6).alias("priority"),
        )
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(50)
    )


@register(
    "fx_snapshot_diff",
    oracle="""
    WITH oldsnap AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    newsnap AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderpriority = '1-URGENT'
                    THEN (cents * 11) // 10 ELSE cents END AS cents
        FROM (SELECT o.*, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders o)
        WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 0)
        UNION ALL
        SELECT o_orderkey + 10000000000, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    diff AS (
        SELECT CASE
                   WHEN o.o_orderkey IS NULL THEN 'added'
                   WHEN n.o_orderkey IS NULL THEN 'removed'
                   WHEN o.o_orderstatus != n.o_orderstatus
                        OR o.cents != n.cents THEN 'changed'
                   ELSE 'unchanged'
               END AS change_type
        FROM oldsnap o FULL OUTER JOIN newsnap n USING (o_orderkey)
    )
    SELECT change_type, COUNT(*) AS n FROM diff GROUP BY change_type
    """,
    tags=("etl", "diff", "versioning"),
)
def fx_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: classify every key as added/removed/changed/unchanged.

    The data-versioning primitive (what Delta's CDF / iceberg's changelog
    computes between table versions): one full outer join on the primary
    key with a value comparison on the carried columns. The "new" snapshot
    is derived deterministically from orders (simulated deletes of F-status
    keys, a 10% urgent-order price bump in exact integer cents, inserts
    with shifted keys) so both engines diff identical inputs. At 100 TB
    the join shuffles both snapshots on the PK once; with both snapshots
    bucketed by PK (etl/warehouse.py) it is shuffle-free, and the
    comparison columns prune to exactly those carried here.
    """
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    oldsnap = o.select(
        "o_orderkey", "o_orderstatus", cents.alias("cents")
    )
    newsnap = (
        o.select("o_orderkey", "o_orderstatus", "o_orderpriority", cents.alias("cents"))
        .filter(~((F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 0)))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                F.expr("(cents * 11) div 10"),
            )
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .union(
            o.filter(F.col("o_orderkey") % 100 == 0).select(
                (F.col("o_orderkey") + 10000000000).alias("o_orderkey"),
                "o_orderstatus",
                cents.alias("cents"),
            )
        )
    )
    old_a, new_a = oldsnap.alias("o"), newsnap.alias("n")
    diff = old_a.join(
        new_a, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    ).select(
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when(
            (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
            | (F.col("o.cents") != F.col("n.cents")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("change_type")
    )
    return diff.groupBy("change_type").agg(F.count("*").alias("n"))


@register(
    "fx_quality_checks",
    oracle="""
    WITH checks AS (
        SELECT 'orders_pk_unique' AS check_name,
               (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS violations
        UNION ALL
        SELECT 'orders_custkey_not_null',
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
        UNION ALL
        SELECT 'orders_price_positive',
               (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
        UNION ALL
        SELECT 'orders_customer_fk',
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (
                    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitem_orders_fk',
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (
                    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'lineitem_qty_range',
               (SELECT COUNT(*) FROM lineitem
                WHERE l_quantity < 1 OR l_quantity > 50)
    )
    SELECT check_name, violations, violations = 0 AS passed FROM checks
    """,
    tags=("etl", "data-quality"),
)
def fx_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality suite: PK uniqueness,
    completeness, value ranges, and referential integrity as one report.

    The gate a production pipeline runs before publishing a snapshot.
    Each constraint is a violation COUNT, so the whole suite is scans +
    anti-joins that AQE executes together; none of the checks collects
    rows, so the report costs one pass per constraint table at any scale
    (and the two FK checks broadcast the smaller key side).
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
        )

    checks = [
        one(
            "orders_pk_unique",
            o.agg(
                (F.count("*") - F.countDistinct("o_orderkey")).alias("violations")
            ),
        ),
        one(
            "orders_custkey_not_null",
            o.agg(
                F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
                    "violations"
                )
            ),
        ),
        one(
            "orders_price_positive",
            o.agg(
                F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
                    "violations"
                )
            ),
        ),
        one(
            "orders_customer_fk",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
                F.count("*").alias("violations")
            ),
        ),
        one(
            "lineitem_orders_fk",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count("*").alias("violations")
            ),
        ),
        one(
            "lineitem_qty_range",
            li.agg(
                F.sum(
                    F.when(
                        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                    ).otherwise(0)
                ).alias("violations")
            ),
        ),
    ]
    report = checks[0]
    for df in checks[1:]:
        report = report.union(df)
    return report.select(
        "check_name", "violations", (F.col("violations") == 0).alias("passed")
    )


# --- skyline / Pareto frontier ------------------------------------------------


@register(
    "fx_skyline_pareto",
    # The oracle is the DEFINITION (n² NOT EXISTS dominance test); the
    # Spark side is the scalable sweep — agreeing results prove the sweep
    # lossless, the same independent-formulation pattern as the dedup
    # prune-then-verify oracles.
    oracle="""
    SELECT p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
    )
    ORDER BY p_partkey
    """,
    tags=("relational", "skyline", "pareto"),
)
def fx_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: parts not dominated on
    (minimize p_retailprice, minimize p_size) — the classic multi-criteria
    shortlist operator (Borzsony et al., "The Skyline Operator").

    The naive formulation is an n² anti-self-join (the oracle runs it at
    toy scale); the scalable plan is the 2-d sweep: per distinct price,
    the minimum size (one map-side-combined aggregation), a running
    minimum over prices (window over the |distinct price| relation —
    orders of magnitude smaller than the fact), and one equi-join back.
    A point is dominated iff a strictly-cheaper point has size <= its
    own (lagged running min), or an equal-or-cheaper point has size
    strictly smaller (current running min). Ties in BOTH dimensions are
    mutually non-dominating and correctly survive.

    Plan shape (100 TB): one agg shuffle on price, one tiny sort, one
    equi-join back on price (broadcastable — the frontier relation is
    distinct-price-sized). No n² anywhere; higher dimensions d>2 switch
    to the grid/partition skyline algorithms but keep this verify shape.
    """
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    per_price = p.groupBy("p_retailprice").agg(
        F.min("p_size").alias("min_size")
    )
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    running = per_price.select(
        "p_retailprice",
        F.min("min_size").over(w).alias("m2"),  # min size at price <= current
    )
    sweep = running.select(
        "p_retailprice",
        "m2",
        # min size at price < current = previous distinct price's running min
        F.lag("m2").over(Window.orderBy("p_retailprice")).alias("m1"),
    )
    return (
        p.join(sweep, "p_retailprice")
        .filter(
            (F.col("m1").isNull() | (F.col("m1") > F.col("p_size")))
            & (F.col("m2") >= F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


# --- Benford first-digit audit ------------------------------------------------

# round(log10(1 + 1/d) * 1000) for d = 1..9 — generated once, embedded in
# BOTH engines' plans so the expectation cannot drift.
BENFORD_MILLI = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67, 7: 58, 8: 51, 9: 46}


def _benford_case() -> str:
    arms = " ".join(f"WHEN {d} THEN {m}" for d, m in BENFORD_MILLI.items())
    return f"CASE digit {arms} END"


@register(
    "fx_benford_digits",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS BIGINT) AS digit
        FROM orders
    ),
    t AS (SELECT COUNT(*) AS n FROM d),
    c AS (SELECT digit, COUNT(*) AS cnt FROM d GROUP BY digit)
    SELECT digit, cnt,
           CAST((1000 * cnt) // (SELECT n FROM t) AS BIGINT) AS obs_milli,
           CAST({_benford_case()} AS BIGINT) AS exp_milli,
           CAST((1000 * cnt) // (SELECT n FROM t)
                - {_benford_case()} AS BIGINT) AS dev_milli
    FROM c ORDER BY digit
    """,
    tags=("relational", "quality", "benford"),
)
def fx_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic-accounting / data-quality screen (a synthetic or tampered
    money column deviates from log10(1+1/d); this one does, loudly, which
    is exactly what the audit is for). Reports per leading digit the
    observed vs expected frequency on an integer milli-grid.

    First digits are extracted EXACTLY — floor to BIGINT, first character
    of the decimal rendering — never via float log10, whose boundary at
    10^k could disagree between engines for values like 999.9999....

    Plan shape (100 TB): one scan → 9-group map-side-combined count; the
    corpus total is the broadcast single-row-aggregate scalar pattern.
    Constants are generated once into both plans.
    """
    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    t = d.agg(F.count("*").alias("n"))
    exp = F.lit(None).cast("bigint")
    arms = None
    for dig, m in BENFORD_MILLI.items():
        arms = (
            F.when(F.col("digit") == dig, m)
            if arms is None
            else arms.when(F.col("digit") == dig, m)
        )
    exp = arms.cast("bigint")
    obs = F.expr("CAST((1000 * cnt) DIV n AS BIGINT)")
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            "cnt",
            obs.alias("obs_milli"),
            exp.alias("exp_milli"),
            (obs - exp).cast("bigint").alias("dev_milli"),
        )
        .orderBy("digit")
    )


# --- incremental materialized-view refresh ------------------------------------

MV_CUTOFF = "2024-01-21"  # base/delta split: ~2/3 of the event-time range


@register(
    "fx_incremental_agg_refresh",
    oracle="""
    SELECT user_id, COUNT(*) AS cnt,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("relational", "materialized-view", "incremental"),
)
def fx_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance for a decomposable
    aggregate: the per-user totals BEFORE the cutoff live in a stored
    base-aggregate table (built once, reused across runs — the
    materialized view); each refresh aggregates only the DELTA (events
    at/after the cutoff) and merges it with the stored partials by
    re-aggregating the union. The oracle is the full recompute over all
    events — value-equality proves the merge algebra (count/sum are
    commutative monoids; exact integer cents, so no float re-association
    gap between the incremental and full plans).

    Plan shape (100 TB): the refresh reads |users| stored partial rows
    plus only the new partition's events — the whole point: refresh cost
    tracks the delta, not the history. The cutoff predicate pushes to the
    scan (partition pruning on a date-partitioned sink, row-group skipping
    here); the merge is one map-side-combined aggregation. A production
    loop persists the merged result back via the MERGE upsert
    (etl.warehouse.merge_upsert_partitioned) — the same algebra, so the
    returned relation is exactly what would be stored.

    The stored table is content-keyed on the events parquet
    (catalog.persisted_artifact): regenerating the parquet under the same
    path mints a new name and forces a rebuild, where a path-keyed MV
    would silently merge stale partials into wrong totals.
    """
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")

    def write(tbl: str) -> None:
        (
            e.filter(F.col("ts") < MV_CUTOFF)
            .groupBy("user_id")
            .agg(F.count("*").alias("cnt"), F.sum(cents).alias("sum_cents"))
            .write.mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )

    (tbl,) = persisted_artifact(
        spark, sf_dir, "events", ("mv_user_totals",), write
    )
    base = spark.table(tbl)
    delta = (
        e.filter(F.col("ts") >= MV_CUTOFF)
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"), F.sum(cents).alias("sum_cents"))
    )
    return (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_cents").alias("sum_cents"),
        )
        .orderBy("user_id")
    )


# --- robust outlier detection (median absolute deviation) ---------------------

MAD_K = 3  # flag deviations beyond K * MAD


@register(
    "fx_mad_outliers",
    oracle=f"""
    WITH c AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
    ),
    m AS (
        SELECT event_type, quantile_cont(c, 0.5) AS med
        FROM c GROUP BY event_type
    ),
    d AS (
        SELECT c.event_type, abs(c.c - m.med) AS dev
        FROM c JOIN m USING (event_type)
    ),
    md AS (
        SELECT event_type, quantile_cont(dev, 0.5) AS mad
        FROM d GROUP BY event_type
    ),
    sel AS (
        SELECT d.event_type, d.dev, m.med, md.mad
        FROM d JOIN m USING (event_type) JOIN md USING (event_type)
    )
    SELECT event_type, COUNT(*) AS n,
           MIN(med) AS med_cents, MIN(mad) AS mad_cents,
           CAST(COUNT(*) FILTER (WHERE dev > {MAD_K} * mad) AS BIGINT)
               AS n_outliers
    FROM sel GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "quality", "robust-stats"),
)
def fx_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: per event type, the count of values whose
    absolute deviation from the MEDIAN exceeds MAD_K x the median absolute
    deviation — the data-cleaning filter that, unlike the z-score
    (st_anomaly_flags' test), a few huge outliers cannot drag along with
    themselves (50% breakdown point vs 0).

    Exactness without rounding: medians run over integer CENTS, so every
    interpolated median is (a+b)/2 of integers — an exact double — and
    deviations land on an exact half-cent grid whose own median is an
    exact quarter-cent; MAD_K*mad and the comparison stay exact, so no
    float boundary exists for engines to disagree on. (The 1.4826 normal-
    consistency constant is deliberately omitted — it would put the
    threshold off the exact grid; K absorbs it.)

    Plan shape (100 TB): two grouped EXACT percentiles (Spark's
    percentile aggregate — per-group sorted state; for heavy groups swap
    in approx_percentile or a t-digest at a documented tolerance, same
    plan) plus broadcast-size joins of the per-type medians back to the
    fact. Group count = |event_type| (tiny); the fact is scanned twice
    (once per percentile stage) — the second scan reuses the cached cents
    projection.
    """
    e = _t(spark, sf_dir, "events")
    c = e.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("c")
    )
    m = c.groupBy("event_type").agg(
        F.percentile(F.col("c"), F.lit(0.5)).alias("med")
    )
    d = c.join(F.broadcast(m), "event_type").select(
        "event_type", "med", F.abs(F.col("c") - F.col("med")).alias("dev")
    )
    md = d.groupBy("event_type").agg(
        F.percentile(F.col("dev"), F.lit(0.5)).alias("mad")
    )
    sel = d.join(F.broadcast(md), "event_type")
    return (
        sel.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("med").alias("med_cents"),
            F.min("mad").alias("mad_cents"),
            F.count(F.when(F.col("dev") > MAD_K * F.col("mad"), True))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# --- sequence-gap audit -------------------------------------------------------

GAP_BUCKET = 1000  # audit granularity: ids per bucket


@register(
    "fx_id_gap_audit",
    oracle=f"""
    WITH b AS (
        SELECT event_id // {GAP_BUCKET} AS bucket,
               COUNT(*) AS present,
               MIN(event_id) AS lo,
               MAX(event_id) AS hi
        FROM events WHERE event_type = 'purchase'
        GROUP BY event_id // {GAP_BUCKET}
    )
    SELECT bucket,
           present,
           CAST(hi - lo + 1 - present AS BIGINT) AS missing_inside,
           CAST({GAP_BUCKET} - present AS BIGINT) AS missing_total
    FROM b
    ORDER BY bucket
    """,
    tags=("relational", "quality", "sequence"),
)
def fx_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit: quantify holes in an id stream — the
    data-loss / dropped-partition screen a pipeline runs after every
    backfill, here pointed at the purchase event feed (a sub-feed with
    real holes; a loss-free feed reports zeros). Per GAP_BUCKET-sized id
    bucket: ids present, missing WITHIN the observed [min, max] span
    (interior holes), and missing vs full bucket capacity (boundary
    truncation too).

    The naive formulation is a window lead() over the GLOBAL id order —
    a single-partition sort at scale. This is the aggregate rewrite:
    bucketize ids, then per-bucket COUNT vs span arithmetic — one
    map-side-combined shuffle on the bucket key, embarrassingly parallel,
    and exact for hole COUNTS (individual hole positions, if needed, are
    then hunted only inside flagged buckets — a second, tiny pass). All
    integer arithmetic.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    b = e.groupBy(
        # Integer DIV, not double-divide-then-cast: exact above 2^53 and
        # truncation semantics identical to the oracle's DuckDB `//`.
        F.expr(f"event_id DIV {GAP_BUCKET}").alias("bucket")
    ).agg(
        F.count("*").alias("present"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
    )
    missing_inside = (
        F.col("hi") - F.col("lo") + 1 - F.col("present")
    ).cast("bigint")
    missing_total = (F.lit(GAP_BUCKET) - F.col("present")).cast("bigint")
    return b.select(
        "bucket",
        "present",
        missing_inside.alias("missing_inside"),
        missing_total.alias("missing_total"),
    ).orderBy("bucket")


# --- distribution-drift report (PSI breakdown) --------------------------------

PSI_CUTOFF = "2024-01-16"  # expected window = first half, actual = second
PSI_BUCKET_CENTS = 2000  # $20-wide value buckets
PSI_MAX_BUCKET = 19  # cap: 20 buckets, last one open-ended
PSI_SCALE = 1_000_000


@register(
    "fx_psi_drift",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               least(CAST(ROUND(value * 100) AS BIGINT) // {PSI_BUCKET_CENTS},
                     {PSI_MAX_BUCKET}) AS bucket,
               ts >= TIMESTAMP '{PSI_CUTOFF}' AS actual
        FROM events
    ),
    b AS (
        SELECT event_type, bucket,
               COUNT(*) FILTER (WHERE NOT actual) AS n_expected,
               COUNT(*) FILTER (WHERE actual) AS n_actual
        FROM c GROUP BY event_type, bucket
    ),
    t AS (
        SELECT event_type,
               SUM(n_expected)::DOUBLE AS te, SUM(n_actual)::DOUBLE AS ta
        FROM b GROUP BY event_type
    )
    SELECT b.event_type, b.bucket, b.n_expected, b.n_actual,
           ROUND(((b.n_expected + 1) / (t.te + {PSI_MAX_BUCKET + 1})
                  - (b.n_actual + 1) / (t.ta + {PSI_MAX_BUCKET + 1}))
                 * CAST(floor(ln(((b.n_expected + 1)
                                  / (t.te + {PSI_MAX_BUCKET + 1}))
                                 / ((b.n_actual + 1)
                                    / (t.ta + {PSI_MAX_BUCKET + 1})))
                              * {PSI_SCALE} + 0.5) AS BIGINT)
                 / {PSI_SCALE}.0, 6) AS psi_contrib
    FROM b JOIN t USING (event_type)
    ORDER BY b.event_type, b.bucket
    """,
    tags=("relational", "quality", "drift", "mlops"),
)
def fx_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift report: compare each event type's
    value distribution between the first and second half of the time
    range, per $20 bucket — the model-monitoring screen that catches
    feature drift before a model silently degrades. Reported as the
    per-bucket PSI breakdown ((p−q)·ln(p/q), add-1 smoothed) rather than
    one pre-summed scalar: the breakdown is what an analyst acts on, and
    per-row values dodge any float-summation-order question entirely
    (the ln factor snaps to the 1e6 grid; p, q and their difference are
    exact small rationals).

    Plan shape (100 TB): one scan → (type, bucket)-keyed conditional
    aggregation (both windows counted in ONE pass — no second scan) →
    per-type totals re-aggregated from the 20·|types| bucket relation →
    broadcast join back. The cutoff predicate is a scan expression, not
    a filter: both halves are needed, so splitting into two scans would
    double IO.
    """
    e = _t(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        F.least(
            F.expr(f"CAST(ROUND(value * 100) AS BIGINT) DIV {PSI_BUCKET_CENTS}"),
            F.lit(PSI_MAX_BUCKET).cast("bigint"),
        ).alias("bucket"),
        (F.col("ts") >= PSI_CUTOFF).alias("actual"),
    )
    b = c.groupBy("event_type", "bucket").agg(
        F.count(F.when(~F.col("actual"), True)).alias("n_expected"),
        F.count(F.when(F.col("actual"), True)).alias("n_actual"),
    )
    t = b.groupBy("event_type").agg(
        F.sum("n_expected").cast("double").alias("te"),
        F.sum("n_actual").cast("double").alias("ta"),
    )
    nb = PSI_MAX_BUCKET + 1
    p = (F.col("n_expected") + 1) / (F.col("te") + nb)
    q = (F.col("n_actual") + 1) / (F.col("ta") + nb)
    ln_fp = F.floor(F.log(p / q) * PSI_SCALE + F.lit(0.5)).cast("bigint")
    return (
        b.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "bucket",
            "n_expected",
            "n_actual",
            F.round((p - q) * ln_fp / float(PSI_SCALE), 6).alias("psi_contrib"),
        )
        .orderBy("event_type", "bucket")
    )


# --- source-mix entropy -------------------------------------------------------

ENTROPY_SCALE = 1_000_000  # ln fixed-point grid (the tx_unigram_logprob rule)


@register(
    "fx_entropy_source_mix",
    oracle=f"""
    WITH c AS (
        SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
    ),
    t AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_sources FROM c),
    g AS (
        SELECT SUM(cnt * CAST(floor(ln(cnt::DOUBLE) * {ENTROPY_SCALE} + 0.5)
                              AS BIGINT)) AS sterm
        FROM c
    )
    SELECT (SELECT n_sources FROM t) AS n_sources,
           (SELECT CAST(total AS BIGINT) FROM t) AS total_docs,
           ROUND((CAST(floor(ln((SELECT total FROM t)::DOUBLE)
                             * {ENTROPY_SCALE} + 0.5) AS BIGINT)
                  * (SELECT total FROM t) - (SELECT sterm FROM g))::DOUBLE
                 / ((SELECT total FROM t)::DOUBLE * {ENTROPY_SCALE}), 6)
               AS entropy_nats
    FROM t
    """,
    tags=("relational", "statistics", "data-mix"),
)
def fx_entropy_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the documents-per-source distribution —
    the data-mix balance number an LLM curation pipeline tracks per
    snapshot (max ln(n_sources) = perfectly balanced; falling entropy =
    one source swallowing the mix; pairs with tx_source_mix's share table
    and fx_psi_drift's drift test).

    Determinism: H = ln(N) − Σ cᵢ·ln(cᵢ)/N, with every ln snapped to the
    ENTROPY_SCALE integer grid per SOURCE before the sum — aggregation
    order can't move the result, and the one double division at the end
    sees identical integers on both engines.

    Plan shape (100 TB): one map-side-combined count per source (|sources|
    rows), two scalar aggregates over it, 1-row output. The corpus scan
    reads ONE column.
    """
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count("*").alias("cnt"))
    lnm = lambda col: F.floor(
        F.log(col.cast("double")) * ENTROPY_SCALE + F.lit(0.5)
    ).cast("bigint")
    s = c.agg(
        F.sum("cnt").alias("total"),
        F.count("*").alias("n_sources"),
        F.sum(F.col("cnt") * lnm(F.col("cnt"))).alias("sterm"),
    )
    return s.select(
        F.col("n_sources"),
        F.col("total").alias("total_docs"),
        F.round(
            (lnm(F.col("total")) * F.col("total") - F.col("sterm")).cast("double")
            / (F.col("total").cast("double") * ENTROPY_SCALE),
            6,
        ).alias("entropy_nats"),
    )


# --- single-pass column profiling --------------------------------------------

PROFILE_COLS = ("event_type", "user_id", "value", "props")


@register(
    "fx_column_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null,
               COUNT(DISTINCT {c}) AS n_distinct
        FROM events
        """
        for c in PROFILE_COLS
    )
    + " ORDER BY col_name",
    tags=("functions", "profiling"),
)
def fx_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary of the events table: per-column row count,
    null count, and exact distinct count, in ONE scan.

    The first query every pipeline runs against a new delivery (Deequ /
    dbt-test territory): nulls where the contract says NOT NULL, a
    distinct count that collapsed, a column that is suddenly constant.

    Plan shape (100 TB): the naive form (one query per column, like the
    SQL oracle's UNION ALL) scans the fact table |columns| times; this
    plan computes every per-column aggregate in a single pass and then
    unpivots the 1-row result with ``stack`` — the scan count is 1
    regardless of how many columns are profiled. Exact multi-column
    COUNT(DISTINCT) expands one row per distinct-aggregate under
    Catalyst's Expand (rows x |profiled cols|) but combines map-side;
    for very wide profiles swap countDistinct for approx_count_distinct
    (fx_approx_count_distinct shows the HLL form) without changing shape.
    """
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}__dist"),
        ]
    one = _t(spark, sf_dir, "events").agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__dist" for c in PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack_args}) AS (col_name, n_rows, n_null, n_distinct)"
    ).orderBy("col_name")


# --- equi-width histogram -------------------------------------------------------

HIST_BUCKETS = 20


@register(
    "fx_value_histogram",
    oracle=f"""
    WITH b AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx
        FROM events WHERE value IS NOT NULL
    ),
    h AS (
        SELECT LEAST(CAST(floor((value - b.mn) / nullif((b.mx - b.mn)
                                 / {HIST_BUCKETS}, 0)) AS BIGINT),
                     {HIST_BUCKETS} - 1) AS bucket,
               b.mn, b.mx
        FROM events, b
        WHERE value IS NOT NULL
    )
    SELECT bucket,
           ROUND(mn + bucket * (mx - mn) / {HIST_BUCKETS}, 6) AS lo,
           ROUND(mn + (bucket + 1) * (mx - mn) / {HIST_BUCKETS}, 6) AS hi,
           COUNT(*) AS n
    FROM h
    GROUP BY bucket, mn, mx
    ORDER BY bucket
    """,
    tags=("functions", "profiling", "histogram"),
)
def fx_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of events.value — the profiling
    primitive behind every "what does this column look like" dashboard
    and behind CBO-style statistics collection.

    The max value clamps into the last bucket (LEAST), so the histogram
    is a partition of [min, max] with no phantom 21st bucket. Bucket
    boundaries are the identical IEEE double expression on both engines —
    no ordering-sensitive float math (the only aggregates are MIN/MAX,
    which are order-free).

    Plan shape (100 TB): two scans — one MIN/MAX scalar aggregate
    (map-side combined, one row out) broadcast onto the fact scan via
    crossJoin, then a groupBy on the 20-value bucket key. Both aggregates
    partial-combine, so the shuffle is 20 rows x partitions wide. A
    single-pass variant (width_bucket against KNOWN bounds) drops the
    first scan when the contract pins the range.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / HIST_BUCKETS
    bucket = F.least(
        F.floor((F.col("value") - F.col("mn")) / F.nullif(width, F.lit(0.0))).cast(
            "long"
        ),
        F.lit(HIST_BUCKETS - 1).cast("long"),
    )
    return (
        ev.crossJoin(F.broadcast(b))
        .select(bucket.alias("bucket"), "mn", "mx")
        .groupBy("bucket", "mn", "mx")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            F.round(
                F.col("mn") + F.col("bucket") * (F.col("mx") - F.col("mn")) / HIST_BUCKETS,
                6,
            ).alias("lo"),
            F.round(
                F.col("mn")
                + (F.col("bucket") + 1) * (F.col("mx") - F.col("mn")) / HIST_BUCKETS,
                6,
            ).alias("hi"),
            "n",
        )
        .orderBy("bucket")
    )


# --- two-sample Kolmogorov-Smirnov drift --------------------------------------

KS_BIN_DECIMALS = 2  # CDF support = values rounded to cents


@register(
    "fx_ks_drift",
    oracle=f"""
    WITH tagged AS (
        SELECT CAST(ROUND(value, {KS_BIN_DECIMALS}) AS DOUBLE) AS v,
               CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS is_a
        FROM events
    ),
    binned AS (
        SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca,
               CAST(SUM(1 - is_a) AS BIGINT) AS cb
        FROM tagged GROUP BY v
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM binned
    ),
    cdf AS (
        SELECT v,
               SUM(ca) OVER (ORDER BY v) AS fa,
               SUM(cb) OVER (ORDER BY v) AS fb
        FROM binned
    )
    SELECT t.na, t.nb,
           CAST(MAX(abs(c.fa * t.nb - c.fb * t.na)) AS BIGINT) AS d_num,
           ROUND(MAX(abs(c.fa * t.nb - c.fb * t.na))::DOUBLE
                     / (t.na * t.nb), 6) AS ks
    FROM cdf c CROSS JOIN tot t
    GROUP BY t.na, t.nb
    """,
    tags=("quality", "drift", "ks-test"),
)
def fx_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the ``value``
    distributions of two deterministic event cohorts (event_id parity —
    the A/B-split shape; swap in week-over-week or source-vs-source
    predicates unchanged). Complements fx_psi_drift: PSI needs chosen
    bins and misses tail shifts; KS is the max CDF gap.

    Exactness: the statistic is carried as the integer numerator
    max|F_a·n_b − F_b·n_a| over exact BIGINT running counts — no float
    division until the final reported ratio — so both engines hash
    identically regardless of summation order.

    Scale note: the CDF support is the value rounded to cents, so the
    windowed running sum runs over a BOUNDED-cardinality relation (the
    price-grid bins, not the events) after a map-side-combined
    aggregation; the unpartitioned window is |bins|-sized by
    construction, never events-sized. The per-bin KS equals the raw KS of
    the rounded values — the standard discretized-KS production trade.
    """
    e = _t(spark, sf_dir, "events")
    tagged = e.select(
        F.round(F.col("value"), KS_BIN_DECIMALS).cast("double").alias("v"),
        F.when(F.col("event_id") % 2 == 0, 1).otherwise(0).alias("is_a"),
    )
    binned = tagged.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("ca"),
        F.sum(1 - F.col("is_a")).cast("long").alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = binned.select(
        "v",
        F.sum("ca").over(w).alias("fa"),
        F.sum("cb").over(w).alias("fb"),
        F.sum("ca").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("na"),
        F.sum("cb").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nb"),
    )
    gap = F.abs(F.col("fa") * F.col("nb") - F.col("fb") * F.col("na"))
    return cdf.groupBy("na", "nb").agg(
        F.max(gap).cast("long").alias("d_num"),
        F.round(
            F.max(gap).cast("double") / (F.col("na") * F.col("nb")), 6
        ).alias("ks"),
    )


# --- gaps & islands -----------------------------------------------------------

ISLANDS_TOPN = 20


@register(
    "fx_gaps_islands",
    oracle=f"""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'
                   AS day_num
        FROM events
    ),
    grp AS (
        SELECT user_id, day_num,
               day_num - ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day_num
               ) AS isl
        FROM days
    )
    SELECT user_id,
           CAST(MIN(day_num) AS BIGINT) AS start_day,
           CAST(MAX(day_num) AS BIGINT) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS len_days
    FROM grp GROUP BY user_id, isl
    ORDER BY len_days DESC, user_id, start_day
    LIMIT {ISLANDS_TOPN}
    """,
    tags=("relational", "gaps-islands", "window"),
)
def fx_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest streaks of CONSECUTIVE active
    days (top-20 streaks). The canonical sessionize-by-sequence relational
    pattern — day_num minus the per-user row_number is constant exactly
    within a run of consecutive days, turning streak detection into a
    plain GROUP BY.

    Plan shape (100 TB): one distinct on (user, day) — map-side partial —
    then a per-user window and a (user, island) aggregation, all
    partitioned on user_id: the window never sees more than one user's
    days and the day relation is |user·active-days|, already collapsed
    from raw events at the scan aggregation. No unpartitioned window
    anywhere; the final top-20 is a TakeOrdered.
    """
    e = _t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_num")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    grp = days.withColumn("isl", F.col("day_num") - F.row_number().over(w))
    return (
        grp.groupBy("user_id", "isl")
        .agg(
            F.min("day_num").cast("long").alias("start_day"),
            F.max("day_num").cast("long").alias("end_day"),
            F.count("*").cast("long").alias("len_days"),
        )
        .select("user_id", "start_day", "end_day", "len_days")
        .orderBy(F.desc("len_days"), F.asc("user_id"), F.asc("start_day"))
        .limit(ISLANDS_TOPN)
    )


# --- CDC upsert merge (MERGE INTO semantics as a value-checked report) ---------

CDC_SPLIT_TS = "2024-01-20 00:00:00"


@register(
    "fx_upsert_merge",
    oracle=f"""
    WITH base AS (
        SELECT user_id, val_cents FROM (
            SELECT user_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS val_cents,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events WHERE ts < TIMESTAMP '{CDC_SPLIT_TS}'
        ) WHERE rn = 1
    ),
    incoming AS (
        SELECT user_id, val_cents FROM (
            SELECT user_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS val_cents,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events WHERE ts >= TIMESTAMP '{CDC_SPLIT_TS}'
        ) WHERE rn = 1
    ),
    actions AS (
        SELECT i.user_id,
               CASE WHEN b.user_id IS NULL THEN 'insert'
                    WHEN b.val_cents != i.val_cents THEN 'update'
                    ELSE 'noop' END AS action,
               CASE WHEN b.user_id IS NULL THEN i.val_cents
                    ELSE abs(i.val_cents - b.val_cents) END AS delta_cents
        FROM incoming i LEFT JOIN base b USING (user_id)
    )
    SELECT action,
           COUNT(*) AS n_users,
           CAST(SUM(delta_cents) AS BIGINT) AS sum_abs_delta_cents
    FROM actions GROUP BY action ORDER BY action
    """,
    tags=("functions", "cdc", "merge", "incremental"),
)
def fx_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) semantics as a value-checked report: the base
    state is each user's latest value before CDC_SPLIT_TS, the incoming
    batch is each user's latest value after it, and every incoming key is
    classified insert (new key) / update (value changed) / noop
    (idempotent re-delivery) with the summed absolute value movement —
    the audit row an incremental-ingestion job emits per merge commit.

    Exactness: values are quantized to integer cents before any
    comparison (the rollup-family convention), latest-per-key ties break
    on (ts, event_id), and both engines classify from the same integers.

    Plan shape (100 TB): two latest-per-key window passes (each one
    shuffle on user_id — on a real lakehouse the base side is the
    table's own key-sorted state, read not recomputed) feeding a single
    key-partitioned left join; the MERGE classification itself is a
    projection. This is exactly Delta/Iceberg MERGE's shuffle plan, with
    the action counts as the checkable surface.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("val_cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "val_cents")
        )

    base = latest(ev.filter(F.col("ts") < F.lit(CDC_SPLIT_TS).cast("timestamp")))
    inc = latest(ev.filter(F.col("ts") >= F.lit(CDC_SPLIT_TS).cast("timestamp")))
    b = base.select(
        F.col("user_id"), F.col("val_cents").alias("base_cents")
    )
    action = (
        F.when(F.col("base_cents").isNull(), "insert")
        .when(F.col("base_cents") != F.col("val_cents"), "update")
        .otherwise("noop")
    )
    delta = F.when(
        F.col("base_cents").isNull(), F.col("val_cents")
    ).otherwise(F.abs(F.col("val_cents") - F.col("base_cents")))
    return (
        inc.join(b, "user_id", "left")
        .select(action.alias("action"), delta.alias("delta_cents"))
        .groupBy("action")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("delta_cents").cast("long").alias("sum_abs_delta_cents"),
        )
        .orderBy("action")
    )


# --- exact equi-depth histogram (ANALYZE-style column statistics) --------------

EQD_BUCKETS = 10


@register(
    "fx_equidepth_histogram",
    oracle=f"""
    WITH r AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                            o_orderkey
               ) AS rk,
               COUNT(*) OVER () AS n
        FROM orders
    )
    SELECT (rk - 1) * {EQD_BUCKETS} // n AS bucket,
           COUNT(*) AS n_rows,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents
    FROM r GROUP BY bucket ORDER BY bucket
    """,
    tags=("functions", "statistics", "histogram"),
)
def fx_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (equi-height) histogram of order totals — the
    column statistic an ANALYZE TABLE collects for optimizer selectivity
    (equi-depth beats equi-width wherever the distribution is skewed,
    which is always). Bucket of a row = floor((rank−1)·B / n) over the
    global (cents, key) order; output is each bucket's row count and
    [lo, hi] cent bounds.

    The oracle is the naive formulation — one global ROW_NUMBER, which on
    a cluster funnels every row through a single task. The Spark plan
    computes the IDENTICAL ranks with the two-level decomposition
    (tx_epoch_order's pattern): a row_number per distinct VALUE group
    (parallel, partitioned by cents) plus an exclusive running sum of
    value-group counts — a relation bounded by distinct prices, not rows
    — broadcast back; rank = group_offset + tie_rank. The driver's
    value-hash check proves the decomposition exact, which is the point
    of registering it.

    Plan shape (100 TB): one map-side-combined count per distinct value,
    one bounded running-sum window, one parallel per-value window, one
    final bucket agg. No global sort, no single-partition exchange on
    the row relation.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    vg = o.groupBy("cents").agg(F.count("*").alias("cnt"))
    woff = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = vg.select(
        "cents",
        (F.sum("cnt").over(woff) - F.col("cnt")).alias("offset"),
    )
    n_total = o.agg(F.count("*").alias("n"))
    wtie = Window.partitionBy("cents").orderBy("o_orderkey")
    ranked = (
        o.withColumn("tie", F.row_number().over(wtie))
        .join(F.broadcast(offsets), "cents")
        .crossJoin(F.broadcast(n_total))
        .select(
            "cents",
            F.expr(f"((offset + tie - 1) * {EQD_BUCKETS}) DIV n").alias(
                "bucket"
            ),
        )
    )
    return (
        ranked.groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


# --- decile lift ----------------------------------------------------------------------


@register(
    "fx_decile_lift",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS buyer
        FROM events GROUP BY user_id
    ),
    r AS (
        SELECT cents, buyer,
               ROW_NUMBER() OVER (ORDER BY cents DESC, user_id) AS rn
        FROM u
    ),
    t AS (SELECT COUNT(*) AS n, CAST(SUM(buyer) AS BIGINT) AS nb FROM u)
    SELECT ((rn - 1) * 10) // t.n + 1 AS decile,
           COUNT(*) AS n_users,
           CAST(SUM(buyer) AS BIGINT) AS n_buyers,
           CAST((SUM(buyer) * 1000000) // COUNT(*) AS BIGINT)
               AS buy_rate_ppm,
           CAST((SUM(buyer) * t.n * 1000000) // (COUNT(*) * t.nb) AS BIGINT)
               AS lift_ppm
    FROM r, t
    GROUP BY decile, t.n, t.nb
    ORDER BY decile
    """,
    tags=("relational", "lift", "scoring-eval"),
)
def fx_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table — the standard evaluation of a ranking score:
    users are deciled by total event value (the "model score"), and each
    decile's purchase rate is compared to the population rate. lift_ppm
    > 1,000,000 in the top decile = the score concentrates buyers, the
    go/no-go number for any targeting model trained on this data.

    Exactness: deciles are exact row-number buckets ((rn−1)·10 DIV n +
    1) over the unique (cents DESC, user_id) order — never ntile (whose
    remainder distribution is engine-defined) and never interpolated;
    money is summed on the integer cent grid; rates/lift use the
    truncating DIV pair.

    Plan shape (100 TB): one map-side-combined per-user aggregation (the
    only corpus-scaled shuffle), then the rank window over the |users|
    relation — already reduced by the aggregation, same class as the
    skew profile — and a 10-group aggregate. The two population scalars
    ride a 1-row cross join (broadcast).
    """
    ensure_analytics_conf(spark)
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("long")
        .alias("cents"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias(
            "buyer"
        ),
    )
    r = u.withColumn(
        "rn",
        F.row_number()
        .over(Window.orderBy(F.desc("cents"), F.asc("user_id")))
        .cast("long"),
    )
    t = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("buyer").cast("long").alias("nb"),
    )
    return (
        r.crossJoin(F.broadcast(t))
        .select(
            (((F.col("rn") - 1) * 10) / F.col("n"))
            .cast("long")
            .alias("_d"),
            "buyer",
            "n",
            "nb",
        )
        .withColumn("decile", F.col("_d") + 1)
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("buyer").cast("long").alias("n_buyers"),
            F.expr("(sum(buyer) * 1000000) DIV count(*)").alias(
                "buy_rate_ppm"
            ),
            F.expr(
                "(sum(buyer) * any_value(n) * 1000000)"
                " DIV (count(*) * any_value(nb))"
            ).alias("lift_ppm"),
        )
        .orderBy("decile")
    )


# --- market-basket co-occurrence (association rules) ---------------------------

BASKET_MIN_PAIR = 20  # min co-occurrence count for a reported rule
BASKET_TOP = 50


@register(
    "fx_market_basket",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, p_brand AS item
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    nb AS (SELECT COUNT(DISTINCT basket) AS n FROM items),
    cnt AS (SELECT item, COUNT(*) AS c FROM items GROUP BY item),
    freq AS (SELECT item FROM cnt WHERE c >= {BASKET_MIN_PAIR}),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS pair_cnt
        FROM items a
        JOIN items b ON a.basket = b.basket AND a.item < b.item
        WHERE a.item IN (SELECT item FROM freq)
          AND b.item IN (SELECT item FROM freq)
        GROUP BY a.item, b.item
        HAVING COUNT(*) >= {BASKET_MIN_PAIR}
    )
    SELECT item_a, item_b, pair_cnt,
           pair_cnt * 1000000 // nb.n AS support_ppm,
           pair_cnt * 1000000 // ca.c AS conf_a_to_b_ppm,
           ((pair_cnt * nb.n) // ca.c) * 1000000 // cb.c AS lift_ppm
    FROM pairs, nb
    JOIN cnt ca ON ca.item = item_a
    JOIN cnt cb ON cb.item = item_b
    ORDER BY lift_ppm DESC, item_a, item_b
    LIMIT {BASKET_TOP}
    """,
    tags=("functions", "basket", "selfjoin"),
)
def fx_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift) over
    order baskets, items = part brands.

    The reference has no co-occurrence operator (its templates are single
    joins, ``harvard_artifacts_app.py:289-313``); this is the classic
    retail/feature-co-occurrence workload.

    Plan shape (100 TB): the Apriori pushdown does the scaling work —
    items below the pair-support floor can never appear in a qualifying
    pair, so they are filtered BEFORE the self-join (a semi-join against
    the tiny frequent-item set, broadcast by AQE), collapsing the
    quadratic-per-basket pair generation to frequent items only. The
    self-join is co-partitioned on the basket key (one shuffle, baskets
    are small so per-key pair fan-out is bounded), pair counts are
    map-side combined, and the two item-count joins at the end touch a
    |items|-sized relation. All metric arithmetic is exact integer ppm
    (lift is two-step ``(pair*n) DIV c_a * 1e6 DIV c_b`` so every
    intermediate stays far under 2^63 at any SF).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_baskets = items.select("basket").distinct().count()
    cnt = items.groupBy("item").agg(F.count("*").alias("c"))
    freq = cnt.filter(F.col("c") >= BASKET_MIN_PAIR).select("item")
    fitems = items.join(F.broadcast(freq), "item")
    a = fitems.select("basket", F.col("item").alias("item_a"))
    b = fitems.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= BASKET_MIN_PAIR)
    )
    ca = cnt.select(F.col("item").alias("item_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("item").alias("item_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .select(
            "item_a",
            "item_b",
            "pair_cnt",
            F.expr(f"pair_cnt * 1000000 DIV {n_baskets}").alias("support_ppm"),
            F.expr("pair_cnt * 1000000 DIV ca").alias("conf_a_to_b_ppm"),
            F.expr(f"((pair_cnt * {n_baskets}) DIV ca) * 1000000 DIV cb").alias(
                "lift_ppm"
            ),
        )
        .orderBy(F.desc("lift_ppm"), "item_a", "item_b")
        .limit(BASKET_TOP)
    )


# --- one-pass correlation matrix -----------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_oracle() -> str:
    cols = _CORR_COLS
    sums = []
    for c in cols:
        sums.append(
            f"CAST(SUM(CAST(ROUND({c} * 100) AS BIGINT)) AS HUGEINT) AS s_{c}"
        )
    for i, x in enumerate(cols):
        for y in cols[i:]:
            sums.append(
                f"CAST(SUM(CAST(ROUND({x} * 100) AS BIGINT)"
                f" * CAST(ROUND({y} * 100) AS BIGINT)) AS HUGEINT) AS p_{x}_{y}"
            )
    pair_rows = []
    for i, x in enumerate(cols):
        for y in cols[i + 1 :]:
            pair_rows.append(
                f"SELECT '{x}' AS col_x, '{y}' AS col_y,\n"
                f"  CAST(ROUND(CAST(n * p_{x}_{y} - s_{x} * s_{y} AS DOUBLE)\n"
                f"      / (SQRT(CAST(n * p_{x}_{x} - s_{x} * s_{x} AS DOUBLE))\n"
                f"         * SQRT(CAST(n * p_{y}_{y} - s_{y} * s_{y} AS DOUBLE)))\n"
                f"      * 1000000) AS BIGINT) AS corr_ppm\n"
                f"FROM sums"
            )
    return (
        "WITH sums AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, "
        + ", ".join(sums)
        + " FROM lineitem)\nSELECT * FROM ("
        + "\nUNION ALL\n".join(pair_rows)
        + ") ORDER BY col_x, col_y"
    )


@register(
    "fx_correlation_matrix",
    oracle=_corr_oracle(),
    tags=("functions", "statistics", "onepass"),
)
def fx_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the lineitem numeric measures,
    computed in ONE aggregation pass (n, Σx, Σxy for all pairs), then
    unpivoted to (col_x, col_y, corr_ppm) rows.

    Cross-engine exactness: inputs go to integer cents; all sums and the
    corr numerator/denominator terms (n·Σxy − ΣxΣy) are EXACT integer
    arithmetic in decimal(38,0) (Spark) / HUGEINT (DuckDB) — at sf1 the
    largest term is ~1e27, 11 digits of headroom. Only then is each exact
    integer cast to double (correctly rounded in both engines) for the
    sqrt/divide, so the 1e6-grid rounding sees bit-identical doubles.

    Scale ceiling (ADVICE r10): the moment product n·Σxy grows linearly
    in n² per fixed row magnitude — the cents grid holds exact through
    roughly sf1000 for these columns (~1e31 at sf100, seven digits under
    the precision-38 cap), but a corpus where it approaches 1e38 must
    coarsen the input grid (cents → dollars drops 4 digits from the
    product) or switch the moments to per-partition Welford co-moments in
    double; past the cap, non-ANSI Spark silently NULLs the decimal while
    DuckDB HUGEINT (max ~1.7e38) stays exact — a cross-engine split this
    note exists to prevent.

    Plan shape (100 TB): a single scan with ONE map-side-combined global
    aggregate — 15 running sums, no shuffle of anything but 15 numbers
    per partition; the pair unpivot is driver-side arithmetic on one row.
    Contrast with calling df.stat.corr() per pair, which would scan the
    table 6 times.
    """
    li = _t(spark, sf_dir, "lineitem")
    cents = {c: F.round(F.col(c) * 100).cast("decimal(18,0)") for c in _CORR_COLS}
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(cents[c]).cast("decimal(38,0)").alias(f"s_{c}"))
    for i, x in enumerate(_CORR_COLS):
        for y in _CORR_COLS[i:]:
            aggs.append(
                F.sum((cents[x] * cents[y]).cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias(f"p_{x}_{y}")
            )
    sums = li.agg(*aggs)
    pair_exprs = []
    for i, x in enumerate(_CORR_COLS):
        for y in _CORR_COLS[i + 1 :]:
            num = f"CAST(n * p_{x}_{y} - s_{x} * s_{y} AS DOUBLE)"
            dx = f"SQRT(CAST(n * p_{x}_{x} - s_{x} * s_{x} AS DOUBLE))"
            dy = f"SQRT(CAST(n * p_{y}_{y} - s_{y} * s_{y} AS DOUBLE))"
            pair_exprs.append(
                f"'{x}', '{y}', CAST(ROUND({num} / ({dx} * {dy}) * 1000000)"
                " AS BIGINT)"
            )
    stacked = sums.selectExpr(
        f"stack({len(pair_exprs)}, "
        + ", ".join(pair_exprs)
        + ") AS (col_x, col_y, corr_ppm)"
    )
    return stacked.orderBy("col_x", "col_y")


# --- HyperLogLog distinct-count sketch, deterministic and value-oracled --------------

# Flajolet et al. 2007 bias constant for m=256 registers:
# 0.7213 / (1 + 1.079/256). The estimate is computed as
# FLOOR(C / S) where C = alpha * m^2 * 2^53 — C is one double constant
# both engines fold identically (the 65536 and 2^53 factors are exact
# power-of-two scalings of the same parsed literal) and S is an exact
# BIGINT, so the single IEEE division is bit-identical across engines
# and the floor is grid-stable.
HLL_M = 256
# explicit DOUBLE: both engines otherwise parse the bare literal as
# DECIMAL, where the m^2 * 2^53 scaling overflows
HLL_ALPHA = "CAST(0.7182725932495458 AS DOUBLE)"

# the exact DuckDB twin of T.word_shingles(text, 3) used by the dedup
# family — the sketch hashes the same shingle relation the dedup
# operators block on
from ..operators.dedup import _sql_shingles_n  # noqa: E402

_SQL_SHINGLES3 = _sql_shingles_n(3)


@register(
    "fx_hll_distinct",
    oracle=f"""
    WITH sh AS MATERIALIZED (
        SELECT source, unnest({_SQL_SHINGLES3}) AS s FROM documents
    ),
    tk AS MATERIALIZED (
        SELECT source, s,
               CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
        FROM sh
    ),
    tr AS MATERIALIZED (
        SELECT source, h >> 52 AS bucket,
               CASE WHEN (h & 4503599627370495) = 0 THEN 53
                    ELSE 53 - length(bin(h & 4503599627370495)) END AS rho
        FROM tk
    ),
    reg_global AS MATERIALIZED (
        SELECT bucket, MAX(rho) AS r FROM tr GROUP BY bucket
    ),
    reg_merged AS (
        SELECT bucket, MAX(r) AS r FROM (
            SELECT source, bucket, MAX(rho) AS r
            FROM tr GROUP BY source, bucket
        ) GROUP BY bucket
    ),
    mismatch AS (
        SELECT CAST(SUM(CASE WHEN COALESCE(g.r, -1) != COALESCE(p.r, -1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS bad
        FROM reg_global g FULL JOIN reg_merged p ON p.bucket = g.bucket
    ),
    regs AS (
        SELECT t.j AS bucket, COALESCE(g.r, 0) AS r
        FROM unnest(range({HLL_M})) AS t(j)
        LEFT JOIN reg_global g ON g.bucket = t.j
    ),
    summary AS (
        SELECT CAST(SUM(1::BIGINT << (53 - r)) AS BIGINT) AS sum_term,
               CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_buckets
        FROM regs
    ),
    exact AS (SELECT COUNT(DISTINCT s) AS n_exact FROM tk)
    SELECT m, n_exact, n_zero_buckets, sum_term, hll_est,
           (ABS(hll_est - n_exact) * 1000000) // n_exact AS err_ppm,
           merge_consistent
    FROM (
        SELECT CAST({HLL_M} AS BIGINT) AS m,
               e.n_exact, s.n_zero_buckets, s.sum_term,
               CAST(FLOOR({HLL_ALPHA} * 65536 * 9007199254740992
                          / s.sum_term) AS BIGINT) AS hll_est,
               (mm.bad = 0) AS merge_consistent
        FROM summary s, exact e, mismatch mm
    )
    """,
    tags=("functions", "sketch", "hll", "distinct"),
)
def fx_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct count of the corpus 3-gram shingle
    vocabulary — the sketch that makes COUNT(DISTINCT) affordable at
    100 TB — reported against the exact count, with mergeability
    value-proven in the same row.

    Deterministic twin of ``fx_hll_sketch_merge``: that operator
    exercises Spark's native DataSketches HLL, whose binary sketch
    DuckDB cannot replay, so its oracle is a 5%-tolerance gate. This
    one is fully deterministic and replayed VALUE-FOR-VALUE by the
    DuckDB oracle — the approximation itself is oracle-checked, not
    just its error band: bucket = top 8 bits of the portable md5 hash,
    rho = leading
    zeros of the remaining 52 bits + 1 via the engine-identical
    ``length(bin(w))``, registers = MAX(rho) per bucket, and the bias-
    corrected estimate FLOOR(alpha·m²·2⁵³ / Σ 2^(53-r)) computed on an
    exact integer denominator so the one IEEE division is bit-stable
    across engines.

    ``merge_consistent`` recomputes the registers as per-source PARTIAL
    sketches merged by MAX and asserts equality with the global
    registers — the property that makes the sketch map-side
    combinable: at 100 TB the distinct count costs one 256-row
    exchange of (bucket, max rho) partials instead of an exact-distinct
    shuffle of the full key set. The exact side here is the priced
    calibration ground truth (the ss_ivf_nprobe_sweep adjudication);
    production would ship only the sketch. Linear-counting small-range
    correction is intentionally NOT applied in-engine (ln() is not
    bit-stable across engines); ``n_zero_buckets`` is emitted so a
    consumer can apply it, and at every shipped scale factor the raw
    regime holds (est >> 2.5m).
    """
    ensure_analytics_conf(spark)
    from ..functions import text as T

    d = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(T.word_shingles("text", 3)).alias("s")
    )
    tok = d.select(
        "source",
        "s",
        T.portable_hash60(F.col("s")).alias("h"),
    ).select(
        "source",
        "s",
        F.shiftright("h", 52).alias("bucket"),
        F.expr(
            "CASE WHEN (h & 4503599627370495) = 0 THEN 53"
            " ELSE 53 - length(bin(h & 4503599627370495)) END"
        ).alias("rho"),
    )
    reg_global = tok.groupBy("bucket").agg(F.max("rho").alias("rg"))
    reg_merged = (
        tok.groupBy("source", "bucket")
        .agg(F.max("rho").alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("rm"))
    )
    mismatch = (
        reg_global.join(reg_merged, "bucket", "full")
        .agg(
            F.sum(
                F.when(
                    F.expr("coalesce(rg, -1) != coalesce(rm, -1)"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("bad")
        )
    )
    spine = spark.range(HLL_M).select(F.col("id").alias("bucket"))
    summary = (
        spine.join(reg_global, "bucket", "left")
        .select(F.coalesce("rg", F.lit(0)).alias("r"))
        .agg(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - r)"))
            .cast("long")
            .alias("sum_term"),
            F.sum((F.col("r") == 0).cast("long"))
            .cast("long")
            .alias("n_zero_buckets"),
        )
    )
    exact = tok.agg(F.countDistinct("s").alias("n_exact"))
    return (
        summary.crossJoin(exact)
        .crossJoin(mismatch)
        .withColumn("m", F.lit(HLL_M).cast("long"))
        .withColumn(
            "hll_est",
            F.expr(
                f"CAST(FLOOR({HLL_ALPHA} * 65536 * 9007199254740992"
                " / sum_term) AS BIGINT)"
            ),
        )
        .withColumn(
            "err_ppm", F.expr("(ABS(hll_est - n_exact) * 1000000) DIV n_exact")
        )
        .withColumn("merge_consistent", F.col("bad") == 0)
        .select(
            "m",
            "n_exact",
            "n_zero_buckets",
            "sum_term",
            "hll_est",
            "err_ppm",
            "merge_consistent",
        )
    )
