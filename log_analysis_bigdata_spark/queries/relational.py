"""Relational operator library — SURVEY §7 Phase 3.

Every §2 operator family expressible in ANSI SQL, run on the TPC-H-ish
star schema: filters (P3-P10), joins (J1-J5 + inner/semi/anti/broadcast),
aggregations (A1-A14), windows/sorts/limits/top-k (W1-W8), scalar
functions (F1-F19), set ops (§2.6), grouping sets.

Scale notes: joins declare the small side for broadcast where the dim is
bounded (region/nation — reference J4's 2-row weight map pattern);
everything else is left to Catalyst + AQE (skew-join, runtime broadcast).
Money is compared as integer cents; see package docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from . import register


def _cents(col: F.Column) -> F.Column:
    return F.round(col * 100).cast("long")


def _cents_sum(col: F.Column | str) -> F.Column:
    """Money total as Σ round(item·100): per-item integer cents summed.

    Integer addition is order-independent, so Spark's partial-agg order
    (which varies with partition layout run to run) can never flip the
    result — rounding a double TOTAL can, whenever a large sum of
    2-decimal inputs lands on a half-cent boundary (observed at sf0.1).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * 100).cast("long"))


# --- aggregations -----------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT)
             AS sum_disc_cents,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100)
             AS BIGINT)) AS BIGINT) AS sum_charge_cents,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "A5", "A6", "tpch"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            _cents_sum("l_extendedprice").alias("sum_base_cents"),
            _cents_sum(disc).alias("sum_disc_cents"),
            _cents_sum(disc * (1 + F.col("l_tax"))).alias("sum_charge_cents"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey,
           CAST(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-07-01'
      AND l.l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_cents DESC, o.o_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "J1", "W4", "tpch"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue_cents"
            )
        )
        .select("o_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue_cents"), "o_orderkey")
        .limit(10)
    )


@register(
    "q5_revenue_by_nation",
    oracle="""
    SELECT n.n_name,
           CAST(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    tags=("join", "agg", "broadcast", "J1", "J4", "tpch"),
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue_cents"
            )
        )
    )


@register(
    "rollup_order_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "rollup"),
)
def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "group_having_active_customers",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 3
    """,
    tags=("agg", "having", "A5"),
)
def group_having_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


@register(
    "distinct_count_segments",
    oracle="""
    SELECT count(DISTINCT c_mktsegment) AS n_segments,
           count(DISTINCT c_nationkey) AS n_nations,
           count(*) AS n_customers
    FROM customer
    """,
    tags=("agg", "A8", "A12"),
)
def distinct_count_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "case_bucket_order_price",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 300000 THEN 'mid'
                ELSE 'high' END AS bucket,
           count(*) AS n,
           CAST(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY 1
    """,
    tags=("agg", "F7", "case"),
)
def case_bucket_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 300000, "mid")
        .otherwise("high")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _cents_sum("o_totalprice").alias("total_cents"),
        )
    )


# --- joins ------------------------------------------------------------------


@register(
    "join_left_customer_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS n_orders,
           CAST(round(coalesce(sum(o.o_totalprice), 0) * 100) AS BIGINT)
             AS spend_cents
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join", "J1", "J2"),
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _cents(F.coalesce(F.sum("o_totalprice"), F.lit(0.0))).alias("spend_cents"),
        )
    )


@register(
    "join_anti_customers_no_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "J3", "anti"),
)
def join_anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — the reference's train = all − test split (nb:587)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_nationkey
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "J5", "semi"),
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — the reference's IN-list membership as a scalable semi-join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_nationkey")


# --- windows / sorts / top-k ------------------------------------------------


@register(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
           o_orderdate
    FROM orders
    ORDER BY price_cents DESC, o_orderkey
    LIMIT 15
    """,
    tags=("topk", "W4", "W8"),
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/W8: Spark compiles orderBy().limit() to TakeOrderedAndProject —
    the principled version of the reference's over-scan + python sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            _cents(F.col("o_totalprice")).alias("price_cents"),
            "o_orderdate",
        )
        .orderBy(F.desc("price_cents"), "o_orderkey")
        .limit(15)
    )


@register(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, rn
    FROM (SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    tags=("window", "W1", "topk"),
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 made real: the reference declares Window.partitionBy(...).orderBy(...)
    and never applies it (nb:345); we use it for per-key top-k."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@register(
    "window_lag_event_gaps",
    oracle="""
    SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id))) AS BIGINT)
             AS gap_sec
    FROM events
    """,
    tags=("window", "W1", "lag"),
)
def window_lag_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gaps per user — lag over the W1 window."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        (
            F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
        ).alias("gap_sec"),
    )


@register(
    "window_running_value",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS running_value
    FROM events
    """,
    tags=("window", "running"),
)
def window_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


# --- set operations (§2.6 — absent in reference, shipped for coverage) ------


@register(
    "setops_nations",
    oracle="""
    SELECT 'union' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT SELECT s_nationkey FROM supplier)
    """,
    tags=("setop", "union", "intersect", "except"),
)
def setops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three set operators in ONE tagged frame (registry budget
    audit, VERDICT r9 task 5: the former setop_union/intersect/except
    trio held three window slots for one oracle's worth of coverage).
    Each branch still runs its own physical operator — Union+
    HashAggregate, and the dedicated INTERSECT/EXCEPT hash joins — so
    the fold loses no plan coverage, only slot pressure; a mismatch in
    any branch still breaks the hash, and the op column says which."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    branches = [
        ("union", c.union(s).distinct()),
        ("intersect", c.intersect(s)),
        ("except", c.subtract(s)),  # EXCEPT (distinct) semantics
    ]
    out = None
    for op, df in branches:
        tagged = df.select(F.lit(op).alias("op"), "nationkey")
        out = tagged if out is None else out.unionByName(tagged)
    return out


# --- scalar functions -------------------------------------------------------


@register(
    "date_parts_orders",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           count(*) AS n,
           CAST(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY 1, 2, 3
    """,
    tags=("scalar", "F4", "F5", "dates"),
)
def date_parts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _cents_sum("o_totalprice").alias("total_cents"),
        )
    )


@register(
    "string_funcs_customer",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS uname,
           CAST(length(c_name) AS INTEGER) AS name_len,
           substr(c_name, 1, 8) AS prefix,
           concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS tag
    FROM customer
    """,
    tags=("scalar", "F6", "F15", "strings"),
)
def string_funcs_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.length("c_name").cast("int").alias("name_len"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.concat_ws(
            "|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")
        ).alias("tag"),
    )


@register(
    "json_extract_events",
    oracle="""
    SELECT event_id, CAST(props ->> '$.k' AS INTEGER) AS k
    FROM events
    WHERE CAST(props ->> '$.k' AS INTEGER) >= 50
    """,
    tags=("scalar", "F17", "json"),
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: JSON decode at the boundary — get_json_object, Catalyst-native."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_id", k.alias("k")).filter(F.col("k") >= 50)


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round((l_extendedprice * l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "filter", "pushdown", "tpch"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective conjunctive filter + global agg.

    The pushdown showcase — all three predicates reach the parquet scan
    (PushedFilters; row-group min/max skipping on l_shipdate), the agg is
    partial+final with no groupBy shuffle. At 100 TB with date-partitioned
    parquet this prunes to ~1/6 of partitions before reading a byte.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _cents_sum(F.col("l_extendedprice") * F.col("l_discount"))
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
    tags=("join", "semi", "exists", "subquery", "tpch"),
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS decorrelated to a left-semi join
    with a non-equi residual (shipped > orderdate + 90 days).

    Spark plans this as one shuffle on l_orderkey/o_orderkey with the
    date filter pushed to the orders scan; the semi join keeps the probe
    side small before the final tiny groupBy on priority.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "salted_event_type_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(min(user_id) AS BIGINT) AS min_user
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "skew", "salting"),
)
def salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats through the salted two-stage aggregation —
    the skew rewrite for Zipfian keys (operators.skew.salted_agg).

    Stage 1 spreads each key over 16 (key, salt) groups so a hot key
    occupies 16 reducers instead of one; stage 2 merges 16 partial rows
    per key — negligible. The oracle is the PLAIN group-by: the rewrite
    must be semantically invisible.
    """
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        partial={
            "c": F.count(F.lit(1)),
            # cents conversion in the PARTIAL stage: per-item integer
            # cents sum exactly like the oracle — rounding the double
            # total here would reintroduce partial-agg-order dependence.
            "s": F.sum(F.round(F.col("value") * 100).cast("long")),
            "mu": F.min("user_id"),
        },
        final={
            "n": F.sum("c"),
            "total_cents": F.sum("s"),
            "min_user": F.min("mu").cast("long"),
        },
    )
    return out.select("event_type", "n", "total_cents", "min_user")


@register(
    "percentile_order_value",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_value,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_value,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "percentile", "quantile"),
)
def percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — Spark `percentile`
    matches DuckDB `quantile_cont` bit-for-bit (same linear
    interpolation).

    Exact percentile needs the group's values collected per reducer —
    fine for bounded groups like the 5 priorities. At 100 TB with
    high-cardinality groups switch to `approx_percentile` (t-digest
    sketch, mergeable map-side): see approx_distinct_users for the
    sketch-based pattern.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_value"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS BIGINT) AS within_tol
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "sketch", "hll", "approx"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event_type, rendered
    oracle-checkable: the output carries the exact count plus a
    ``within_tol`` flag asserting the sketch landed within 5% relative
    error. The oracle emits the exact count and a constant 1 — so the
    driver's hash compare actually verifies the ≤5% HLL claim instead
    of skipping the query.

    The 100 TB form of A12's countDistinct: the HLL sketch is a few KB,
    merges map-side, and never shuffles raw values — exact distinct
    shuffles every distinct value to its reducer. (The exact count here
    exists only to judge the sketch; a production query would emit the
    sketch estimate alone.)
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(0.05)
            )
            .cast("long")
            .alias("within_tol"),
        )
    )


@register(
    "cube_order_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube", "grouping-sets"),
)
def cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping combinations in one pass (Spark expands to
    grouping sets and shares the shuffle — k passes collapse into one)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _cents_sum("o_totalprice").alias("total_cents"),
    )


@register(
    "scalar_subquery_last_order",
    oracle="""
    SELECT c_custkey, c_name,
           (SELECT max(o_orderdate) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS last_order
    FROM customer c
    WHERE c_custkey <= 200
    """,
    tags=("join", "subquery", "scalar", "decorrelation"),
)
def scalar_subquery_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery, authored as SQL so Catalyst's
    decorrelation is exercised: it rewrites the per-row subquery into a
    left outer join against a pre-aggregated orders table — one shuffle,
    no nested-loop re-execution (check RewriteCorrelatedScalarSubquery in
    the optimized plan)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT max(o_orderdate) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS last_order
        FROM customer c
        WHERE c_custkey <= 200
        """
    )


@register(
    "q7_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS volume_cents,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    WHERE sn.n_name <> cn.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY sn.n_name, cn.n_name
    """,
    tags=("join", "agg", "multi-join", "tpch"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 6-table join with a cross-nation inequality.

    Join-order matters at scale: lineitem (the fact) joins orders first
    (both huge — the one unavoidable shuffle pair), every other side is
    a broadcast dim; the n_name inequality is a cheap residual on the
    broadcast joins, never a cross product. AQE re-plans the
    orders/lineitem side to skew-split if needed.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("cust_nation"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), "c_nationkey")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), "s_nationkey")
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    # per-item cents rounded BEFORE the sum: integer addition is
    # order-independent, so the result is exact on both engines — the
    # rounded-total convention can flip a cent when a 100k-term double
    # sum lands on a half-cent boundary (observed at sf0.1).
    item_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return joined.groupBy("supp_nation", "cust_nation").agg(
        F.sum(item_cents).alias("volume_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "stats_agg_events",
    oracle="""
    SELECT event_type,
           round(corr(value, user_id), 4) AS corr_vu,
           round(covar_samp(value, user_id), 4) AS covar_vu,
           round(stddev_samp(value), 4) AS sd_value,
           round(regr_slope(value, epoch(ts) / 3600.0), 4) AS slope_per_hour,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "stats", "corr", "regression"),
)
def stats_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / sample covariance / stddev /
    regression slope) per group — one pass, all JVM-side partial-merge
    aggregates (each keeps O(1) moments state, so they scale like count).
    Slope regresses value on hours-since-epoch to keep magnitudes in
    rounding-friendly range.
    """
    ev = load_table(spark, sf_dir, "events")
    hours = F.col("ts").cast("double") / 3600.0
    return ev.groupBy("event_type").agg(
        F.round(F.corr("value", "user_id"), 4).alias("corr_vu"),
        F.round(F.covar_samp("value", "user_id"), 4).alias("covar_vu"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.regr_slope(F.col("value"), hours), 4).alias("slope_per_hour"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "asof_join_events_orders",
    oracle="""
    WITH ro AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts,
           ro.o_orderkey AS last_orderkey,
           ro.o_orderdate AS last_orderdate
    FROM events e
    ASOF LEFT JOIN ro
      ON e.user_id = ro.o_custkey AND ro.o_orderdate <= e.ts
    """,
    tags=("join", "asof", "custom-operator"),
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.asof): each event gets the user's most
    recent order at event time — DuckDB replays it with its native
    ASOF LEFT JOIN while Spark runs the union+window composition (one
    key shuffle, no range explosion; see operators/asof.py).

    The right side is pre-deduped to one row per (key, ts) with a
    deterministic max_by so tie behavior is engine-independent.
    """
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ro = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("last_orderdate"),
        )
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    return asof_join(
        ev,
        ro,
        key="user_id",
        left_ts="ts",
        right_ts="last_orderdate",
        value_cols=["last_orderkey", "last_orderdate"],
    )


@register(
    "range_join_hour_activity",
    oracle="""
    WITH h AS (SELECT DISTINCT date_trunc('hour', ts) AS hour_start FROM events)
    SELECT h.hour_start, count(e.event_id) AS n_events
    FROM h LEFT JOIN events e
      ON e.ts >= h.hour_start
     AND e.ts < h.hour_start + INTERVAL 2 HOUR
    GROUP BY h.hour_start
    """,
    tags=("join", "range", "interval", "custom-operator"),
)
def range_join_hour_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join (operators.rangejoin): events in the 2-hour
    window starting at each distinct event hour (windows overlap, so
    this is NOT a plain group-by — each event lands in 2 intervals).

    No equi key means naive Spark plans a nested loop; the bucketed
    operator turns it into an hour-bucket hash join + residual, one
    shuffle partitioned by time slice. count(col) over the LEFT join
    keeps the zero-match intervals the oracle keeps.
    """
    from ..operators.rangejoin import bucketed_interval_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    h = (
        ev.select(F.date_trunc("hour", "ts").alias("hour_start"))
        .distinct()
        .withColumn("_hi", F.col("hour_start") + F.expr("INTERVAL 2 HOURS"))
    )
    joined = bucketed_interval_join(
        h, ev, lo_col="hour_start", hi_col="_hi", ts_col="ts",
        bucket_seconds=3_600, how="left",
    )
    return joined.groupBy("hour_start").agg(
        F.count("event_id").alias("n_events")
    )


@register(
    "latest_record_per_key",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id, ts, round(value, 4) AS value
    FROM ranked WHERE rn = 1
    """,
    tags=("window", "dedup", "latest", "W1"),
)
def latest_record_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key via row_number — the read-side of every
    keyed upsert (streaming.job.upsert_sink runs this exact plan to
    merge). One shuffle on the key; at 100 TB prefer max_by when only
    one payload column is needed (single-pass aggregate, no sort)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", F.round("value", 4).alias("value"))
    )


@register(
    "approx_percentile_value",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS exact_p50,
           round(quantile_cont(value, 0.99), 4) AS exact_p99,
           CAST(1 AS BIGINT) AS within_tol
    FROM events
    GROUP BY event_type
    """,
    tags=("agg", "sketch", "percentile", "approx"),
)
def approx_percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles judged against exact, the
    approx_distinct_users pattern: emit the exact interpolated p50/p99
    per event_type plus a ``within_tol`` flag asserting the
    approx_percentile sketch landed within 2% RELATIVE RANK error —
    i.e. the sketch's answer lies between the exact quantiles at
    q±0.02 (the sketch's documented guarantee is on rank, not value,
    so a value-distance tolerance would be the wrong check). The oracle
    states exact quantiles and a constant 1, so the driver verifies the
    sketch claim.

    The 100 TB form of exact percentile: the KLL/GK-style summary is
    KBs, merges map-side, and never materializes a group's values on
    one reducer — exact interpolated percentile must.
    """
    ev = load_table(spark, sf_dir, "events")
    approx = F.expr("approx_percentile(value, array(0.5, 0.99), 10000)")
    lo = F.expr("percentile(value, array(0.48, 0.97))")
    hi = F.expr("percentile(value, array(0.52, 1.0))")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, array(0.5, 0.99))").alias("exact"),
            approx.alias("ap"),
            lo.alias("lo"),
            hi.alias("hi"),
        )
        .select(
            "event_type",
            F.round(F.col("exact")[0], 4).alias("exact_p50"),
            F.round(F.col("exact")[1], 4).alias("exact_p99"),
            (
                (F.col("ap")[0] >= F.col("lo")[0])
                & (F.col("ap")[0] <= F.col("hi")[0])
                & (F.col("ap")[1] >= F.col("lo")[1])
                & (F.col("ap")[1] <= F.col("hi")[1])
            )
            .cast("long")
            .alias("within_tol"),
        )
    )


@register(
    "psi_value_drift",
    oracle="""
    WITH binned AS (
      SELECT least(CAST(floor(value / 50) AS BIGINT), 9) AS bin,
             (ts < TIMESTAMP '2024-01-16') AS is_base
      FROM events
    ), counts AS (
      SELECT bin,
             sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS n_base,
             sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS n_curr
      FROM binned GROUP BY bin
    ), probs AS (
      SELECT bin, CAST(n_base AS BIGINT) AS n_base,
             CAST(n_curr AS BIGINT) AS n_curr,
             (n_base + 1.0) / (sum(n_base) OVER () + 10.0) AS p,
             (n_curr + 1.0) / (sum(n_curr) OVER () + 10.0) AS q
      FROM counts
    )
    SELECT bin, n_base, n_curr,
           round((p - q) * ln(p / q), 6) AS psi_contrib,
           round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi_total
    FROM probs
    ORDER BY bin
    """,
    tags=("agg", "quality", "drift", "monitoring"),
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: compares the
    ``value`` distribution of the first half of the month (baseline)
    against the second half (current) over 10 fixed-width bins,
    Laplace-smoothed so empty bins stay defined. PSI > 0.2 is the
    classic retrain/alert threshold.

    The production data-quality gate a training pipeline runs per
    ingest batch. One groupBy on (bin) with conditional counts — a
    single shuffle of 10 rows; the probabilities and PSI are window
    expressions over the 10-row result. Determinism: p/q derive from
    exact integer counts, so the doubles agree bit-for-bit across
    engines before rounding.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(9)).alias("bin"),
        (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias("is_base"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(~F.col("is_base"), 1).otherwise(0)).alias("n_curr"),
    )
    w = Window.partitionBy()
    p = (F.col("n_base") + 1.0) / (F.sum("n_base").over(w) + 10.0)
    q = (F.col("n_curr") + 1.0) / (F.sum("n_curr").over(w) + 10.0)
    contrib = (p - q) * F.log(p / q)
    return (
        counts.select(
            "bin",
            "n_base",
            "n_curr",
            F.round(contrib, 6).alias("psi_contrib"),
            F.round(F.sum(contrib).over(w), 6).alias("psi_total"),
        )
        .orderBy("bin")
    )


@register(
    "skew_report_events",
    oracle="""
    WITH k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(cnt) AS BIGINT) AS max_cnt,
           round(avg(cnt), 4) AS avg_cnt,
           round(max(cnt) / avg(cnt), 4) AS skew_ratio,
           round(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
           CAST(arg_max(user_id, cnt * 1000000 + user_id) AS BIGINT)
             AS hottest_key
    FROM k
    """,
    tags=("agg", "skew", "profiling", "scale"),
)
def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile: before hash-partitioning a 100 TB join
    or agg on ``user_id``, measure how hot the hottest key is — key
    count, max/avg/p99 per-key cardinality, skew ratio, and the hottest
    key itself. skew_ratio ≫ 1 is the signal to slat/AQE-skew-split
    (see salted_event_type_stats for the remediation this report
    triggers).

    One map-side-combinable groupBy then a 1-row reduce; the hottest
    key uses an integer (cnt·10^6 + key) encoding so max_by ties are
    deterministic. p99 is the exact interpolated percentile on the
    per-key counts (150 rows here; at real scale the counts table is
    n_keys rows — tiny relative to the input)."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 4).alias("avg_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 4).alias("skew_ratio"),
        F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_cnt"),
        F.max_by(
            "user_id", F.col("cnt") * 1_000_000 + F.col("user_id")
        ).alias("hottest_key"),
    )


@register(
    "unpivot_lineitem_metrics",
    oracle="""
    WITH u AS (
      SELECT 'quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'discount', l_discount FROM lineitem
      UNION ALL SELECT 'tax', l_tax FROM lineitem
    )
    SELECT metric, CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(val * 100) AS BIGINT)) / 100.0 / count(*), 4)
             AS avg_val,
           round(min(val), 4) AS min_val,
           round(max(val), 4) AS max_val
    FROM u GROUP BY metric ORDER BY metric
    """,
    tags=("unpivot", "melt", "agg"),
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide→long reshape that turns per-column
    metrics into (metric, value) rows — the inverse of the long→wide
    reshape the feature table uses (A2/A11), here via Spark's native
    ``unpivot`` operator. Per-metric profile over the long table.

    Determinism: the average is integer-cents-sum / count (order-free);
    min/max are exact. Scale: unpivot is a narrow rowwise expand (×4),
    the agg is map-side combinable on a 4-value key — no skew, one
    shuffle of 4×partitions rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    u = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    ).select(
        F.regexp_replace("metric", "^l_", "").alias("metric"), "val"
    )
    return (
        u.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("val") * 100).cast("long"))
                / 100.0
                / F.count(F.lit(1)),
                4,
            ).alias("avg_val"),
            F.round(F.min("val"), 4).alias("min_val"),
            F.round(F.max("val"), 4).alias("max_val"),
        )
        .orderBy("metric")
    )


@register(
    "window_time_range_sum",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
             CAST(round(value * 100) AS BIGINT) AS v_cents
      FROM events
    )
    SELECT event_id, user_id, epoch_s,
           round(sum(v_cents) OVER (PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) / 100.0, 4)
             AS moving_1h_sum
    FROM e ORDER BY user_id, epoch_s, event_id
    """,
    tags=("window", "range-frame", "timeseries"),
)
def window_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 1-hour sum per user via a RANGE window frame — the
    time-interval frame (all events within the trailing hour, however
    many rows that is) that a ROWS frame can't express when event
    cadence is irregular. The batch twin of the sliding stream window.

    Determinism: values are quantized to integer cents before the
    frame sum (order-free addition), and RANGE frames include all
    peers of the current order key in both engines, so same-second
    events agree. Scale: one hash shuffle on user_id, per-partition
    sort — the same cost profile as any per-entity window.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("epoch_s"),
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "epoch_s",
        F.round(F.sum("v_cents").over(w) / 100.0, 4).alias("moving_1h_sum"),
    ).orderBy("user_id", "epoch_s", "event_id")


@register(
    "integrity_check_report",
    oracle="""
    WITH o2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 1000 = 0 THEN -o_custkey
                  ELSE o_custkey END AS o_custkey
      FROM orders
    ), l2 AS (
      SELECT CASE WHEN l_orderkey % 997 = 0 THEN -l_orderkey
                  ELSE l_orderkey END AS l_orderkey,
             CASE WHEN l_orderkey % 1009 = 0 THEN -l_extendedprice
                  ELSE l_extendedprice END AS l_extendedprice,
             l_quantity
      FROM lineitem
    ), c2 AS (
      SELECT c_custkey FROM customer
      UNION ALL SELECT c_custkey FROM customer WHERE c_custkey % 500 = 0
    )
    SELECT 'orphan_orders' AS "check",
           CAST((SELECT count(*) FROM o2 LEFT JOIN customer c
                 ON o2.o_custkey = c.c_custkey
                 WHERE c.c_custkey IS NULL) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orphan_lineitems',
           CAST((SELECT count(*) FROM l2 LEFT JOIN orders o
                 ON l2.l_orderkey = o.o_orderkey
                 WHERE o.o_orderkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'dup_custkeys',
           CAST((SELECT count(*) - count(DISTINCT c_custkey) FROM c2)
             AS BIGINT)
    UNION ALL
    SELECT 'bad_lineitems',
           CAST((SELECT count(*) FROM l2
                 WHERE l_extendedprice < 0 OR l_quantity <= 0) AS BIGINT)
    ORDER BY "check"
    """,
    tags=("quality", "integrity", "expectations"),
)
def integrity_check_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity / expectations gate: orphan FK rows
    (orders→customer, lineitem→orders via anti-join), duplicate primary
    keys, and value-range violations, as one long-format
    (check, n_violations) report — the pre-ingest contract a 100 TB
    pipeline runs before publishing a partition.

    The synthetic tables are clean, so the checks run against
    deterministically corrupted twins (keys negated on modular
    selectors, duplicated key slice) — every counter is exercised
    nonzero and the oracle applies the identical corruption. Scale:
    each check is an anti-join or combinable agg; the four checks
    union into one job and share scans where AQE finds them.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    o2 = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 1000 == 0, -F.col("o_custkey"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    )
    l2 = lineitem.select(
        F.when(F.col("l_orderkey") % 997 == 0, -F.col("l_orderkey"))
        .otherwise(F.col("l_orderkey"))
        .alias("l_orderkey"),
        F.when(F.col("l_orderkey") % 1009 == 0, -F.col("l_extendedprice"))
        .otherwise(F.col("l_extendedprice"))
        .alias("l_extendedprice"),
        "l_quantity",
    )
    c2 = customer.select("c_custkey").unionAll(
        customer.filter(F.col("c_custkey") % 500 == 0).select("c_custkey")
    )

    orphan_orders = (
        o2.join(customer, o2.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .select(F.lit("orphan_orders").alias("check"), "n_violations")
    )
    orphan_lineitems = (
        l2.join(orders, l2.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .select(F.lit("orphan_lineitems").alias("check"), "n_violations")
    )
    dup_custkeys = c2.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_custkey"))
        .cast("long")
        .alias("n_violations")
    ).select(F.lit("dup_custkeys").alias("check"), "n_violations")
    bad_lineitems = l2.filter(
        (F.col("l_extendedprice") < 0) | (F.col("l_quantity") <= 0)
    ).agg(F.count(F.lit(1)).cast("long").alias("n_violations")).select(
        F.lit("bad_lineitems").alias("check"), "n_violations"
    )

    return (
        orphan_orders.unionByName(orphan_lineitems)
        .unionByName(dup_custkeys)
        .unionByName(bad_lineitems)
        .orderBy("check")
    )


# --- round-4 additions: asof tolerance, interval overlap, CDC, mode --------


@register(
    "asof_join_tolerance",
    oracle="""
    WITH ro AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ), aj AS (
      SELECT e.event_id, e.user_id, e.ts,
             ro.o_orderkey, ro.o_orderdate
      FROM events e
      ASOF LEFT JOIN ro
        ON e.user_id = ro.o_custkey AND ro.o_orderdate <= e.ts
    )
    SELECT event_id, user_id, ts,
           CASE WHEN o_orderdate >= ts - INTERVAL 30 DAY
                THEN o_orderkey END AS recent_orderkey,
           CASE WHEN o_orderdate >= ts - INTERVAL 30 DAY
                THEN o_orderdate END AS recent_orderdate
    FROM aj
    """,
    tags=("join", "asof", "tolerance", "custom-operator"),
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness tolerance (pandas ``merge_asof``'s
    ``tolerance=`` / kdb ``wj`` bound): each event gets the user's most
    recent order ONLY if it is within 30 days of the event; older matches
    become NULL, exactly like no-match. Rendering: the tolerance is a
    post-filter on the carried match (operators/asof.py carries the right
    ts in the payload), so the plan is identical to the untolerated asof —
    one key shuffle, no range explosion, tolerance applied as a narrow
    CASE after the carry. DuckDB replays it as ASOF LEFT JOIN + CASE.
    """
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ro = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("recent_orderdate"),
        )
        .agg(F.max("o_orderkey").alias("recent_orderkey"))
    )
    joined = asof_join(
        ev,
        ro,
        key="user_id",
        left_ts="ts",
        right_ts="recent_orderdate",
        value_cols=["recent_orderkey", "recent_orderdate"],
    )
    fresh = F.col("recent_orderdate") >= F.col("ts") - F.expr("INTERVAL 30 DAYS")
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("recent_orderkey")).alias("recent_orderkey"),
        F.when(fresh, F.col("recent_orderdate")).alias("recent_orderdate"),
    )


@register(
    "interval_overlap_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      -- (ts, event_id) tiebreaker matches the marked CTE's window: two
      -- equal-ts rows at a session boundary must number deterministically
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM marked
    ),
    sessions AS (
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end
      FROM numbered GROUP BY user_id, sess
    ),
    wins AS (
      SELECT user_id, event_id AS incident_id,
             ts AS win_start, ts + INTERVAL 2 HOUR AS win_end
      FROM events WHERE event_type = 'error'
    )
    SELECT s.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT w.incident_id) AS BIGINT) AS n_incidents
    FROM sessions s JOIN wins w
      ON s.user_id = w.user_id
     AND s.session_start < w.win_end
     AND w.win_start <= s.session_end
    GROUP BY s.user_id
    """,
    tags=("join", "interval", "overlap", "custom-operator"),
)
def interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (two interval sets, not point-in-interval):
    per-user activity sessions (30-min gap) vs 2-hour incident windows
    opened by that user's error events — how many (session, incident)
    pairs intersect. The equi key (user) makes this a plain hash join
    with the overlap predicate as a residual filter — no explosion,
    shuffles only on the key; contrast range_join_hour_activity, the
    KEYLESS variant that needs the bucketing operator.
    """
    from ..streaming.windows import session_windows

    ev = load_table(spark, sf_dir, "events")
    sess = session_windows(ev).select("user_id", "session_start", "session_end")
    wins = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("win_end"),
    )
    overlap = (F.col("session_start") < F.col("win_end")) & (
        F.col("win_start") <= F.col("session_end")
    )
    return (
        sess.join(wins, on=["user_id"], how="inner")
        .filter(overlap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("incident_id").alias("n_incidents"),
        )
    )


@register(
    "cdc_latest_state",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, ts, value, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id, ts, round(value, 4) AS value,
           event_type AS last_event_type
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
    tags=("cdc", "dedup", "latest", "agg"),
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog → materialized latest state with tombstone
    suppression: the newest change per key wins, and keys whose newest
    change is a delete marker (event_type='error' stands in for the
    tombstone) drop out of the state entirely — the Debezium/Delta-CDF
    "latest snapshot" semantics.

    Rendering: single-pass ``max_by(payload, (ts, event_id))`` hash
    aggregate — no sort, no row_number window — the shape you want at
    100 TB (latest_record_per_key shows the window rendering; this is
    the aggregate one its docstring recommends). One map-side-combinable
    shuffle on the key.
    """
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_id", "ts", "value", "event_type"),
            F.struct("ts", "event_id"),
        ).alias("s")
    )
    return latest.filter(F.col("s.event_type") != "error").select(
        "user_id",
        F.col("s.event_id").alias("event_id"),
        F.col("s.ts").alias("ts"),
        F.round("s.value", 4).alias("value"),
        F.col("s.event_type").alias("last_event_type"),
    )


@register(
    "mode_per_event_type",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, user_id, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id) AS rn
      FROM c
    )
    SELECT event_type, user_id AS mode_user_id, n
    FROM r WHERE rn = 1
    """,
    tags=("agg", "mode", "A-class"),
)
def mode_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (most frequent value) per group — built-in
    ``F.mode`` leaves ties engine-defined, so the portable rendering is
    count + argmax with an explicit tiebreak (lowest user wins). Two
    map-side-combinable hash aggregates, no window over the raw stream:
    the second agg's input is already one row per (group, candidate).
    Tiebreak trick: maximize ``struct(n, -user_id)`` — struct comparison
    is lexicographic, so highest n first, then lowest user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    best = counts.groupBy("event_type").agg(
        F.max(
            F.struct(F.col("n"), (-F.col("user_id")).alias("neg_uid"))
        ).alias("b")
    )
    return best.select(
        "event_type",
        (-F.col("b.neg_uid")).alias("mode_user_id"),
        F.col("b.n").alias("n"),
    )


@register(
    "ewma_user_value",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           round(list_reduce(vals, (acc, v) -> 0.3 * v + 0.7 * acc), 4)
             AS ewma
    FROM seq
    """,
    tags=("timeseries", "ewma", "fold", "custom-operator"),
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key exponentially-weighted moving average (α=0.3) of the
    value series in event-time order — the classic smoothing metric a
    monitoring pipeline keeps per entity. EWMA is a LEFT FOLD, not an
    algebraic aggregate: it cannot be a window/groupBy expression, and
    the naive running-sum trick (divide by (1-α)^j) overflows. Rendering:
    sort_array(collect_list(struct)) fixes the fold order, then
    ``F.aggregate`` folds JVM-side seeded with the first element —
    byte-identical order to DuckDB ``list_reduce`` over
    ``list(value ORDER BY ts, event_id)``.

    Scale: one shuffle on the key; per-key state is the key's own event
    array, so this holds wherever per-entity history is bounded (the
    usual case); unbounded keys want the streaming rendering instead
    (applyInPandasWithState keeps only the running scalar).
    """
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("vals")
    )
    fold = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, v: F.lit(0.3) * v + F.lit(0.7) * acc,
    )
    return seq.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.round(fold, 4).alias("ewma"),
    )


def _hh_ordered_top10(counts: DataFrame) -> DataFrame:
    """The final cut of heavy_hitters_topk: orderBy + limit plans as
    TakeOrderedAndProject (per-partition top-10 heaps merged on the
    driver) — NOT a row_number window, whose unpartitioned WindowExec
    would move every key count to a single partition first (VERDICT
    r10 task 5). Rank is assigned from the position in the collected
    10-row result."""
    return counts.orderBy(F.desc("n"), F.asc_nulls_last("user_id")).limit(10)


@register(
    "heavy_hitters_topk",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id) AS rn
      FROM c
    )
    SELECT user_id, n, CAST(rn AS INTEGER) AS rank
    FROM r WHERE rn <= 10 ORDER BY rn
    """,
    tags=("agg", "heavy-hitters", "topk"),
)
def heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest keys by exact count: groupBy-count, then the
    ordered top-10 cut collected to the driver and ranked by position.

    Exact is also the cheap plan at any row count: the hash aggregate
    combines counts map-side, so the exchange carries O(partitions x
    distinct keys) rows, never the event stream. The NULL key is an
    ordinary group; ASC NULLS LAST in the tie-break matches DuckDB's
    default ordering.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    top = _hh_ordered_top10(counts).collect()
    return spark.createDataFrame(
        [(r["user_id"], r["n"], i + 1) for i, r in enumerate(top)],
        "user_id long, n long, rank int",
    )


@register(
    "session_flow_top_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    counted AS (
      SELECT event_type AS src, next_type AS dst,
             CAST(count(*) AS BIGINT) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY src, dst
    )
    SELECT src, dst, n
    FROM counted
    ORDER BY n DESC, src, dst
    LIMIT 20
    """,
    tags=("window", "lead", "funnel", "markov"),
)
def session_flow_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type transitions (src→dst bigrams) across each user's
    event-time-ordered stream — the funnel/Markov-chain building block of
    product analytics. lead() over (user_id, ts, event_id) forms the
    bigram, then a plain hash agg counts transition frequencies; total
    order (n DESC, src, dst) before LIMIT keeps the top-20 deterministic.

    Scale: ONE shuffle on user_id for the window sort (per-user streams
    sort independently — no global sort), then the bigram count is a
    map-side-combinable agg over a 25-value key space; the final top-20
    is TakeOrderedAndProject, never a full sort.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.orderBy(F.desc("n"), "src", "dst").limit(20)


FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "funnel_conversion_steps",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN t1 ON e.user_id = t1.user_id
                           AND epoch_us(e.ts) > t1.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN t2 ON e.user_id = t2.user_id
                           AND epoch_us(e.ts) > t2.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ), s AS (
      SELECT 1 AS step, 'view' AS event_type,
             CAST(count(*) AS BIGINT) AS n_users FROM t1
      UNION ALL
      SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM t2
      UNION ALL
      SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM t3
    )
    SELECT step, event_type, n_users,
           round(CAST(n_users AS DOUBLE)
                 / first_value(n_users) OVER (ORDER BY step), 4)
             AS conv_from_start,
           round(CAST(n_users AS DOUBLE)
                 / lag(n_users) OVER (ORDER BY step), 4)
             AS conv_from_prev
    FROM s ORDER BY step
    """,
    tags=("funnel", "analytics", "events"),
)
def funnel_conversion_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion — THE product-analytics query over an
    event log: how many users performed view, then click strictly
    after their first view, then purchase strictly after that first
    qualifying click, with per-step conversion rates. Matching is
    first-touch (min event time per step subject to the previous
    step's anchor), the standard windowless funnel definition.

    Determinism: anchors compare raw microsecond epochs (identical
    parquet values on both engines); rates are round(x, 4) doubles
    derived from identical integer counts.

    Scale: each step is a filter (pushed to the scan) + one hash agg on
    user_id + a co-keyed join back to the previous step's anchor table
    — all three shuffles hash on the SAME key, so at 100 TB the steps
    reuse one partitioning end to end (no broadcast needed, no global
    sort; AQE coalesces the tiny later steps). The final 3-row
    rate window is driver-trivial.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )

    def step_anchor(prev: DataFrame | None, etype: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("us") > F.col("t"))
        return e.groupBy("user_id").agg(F.min("us").alias("t"))

    t1 = step_anchor(None, FUNNEL_STEPS[0])
    t2 = step_anchor(t1, FUNNEL_STEPS[1])
    t3 = step_anchor(t2, FUNNEL_STEPS[2])
    s = None
    for i, (name, anchor) in enumerate(
        zip(FUNNEL_STEPS, (t1, t2, t3)), start=1
    ):
        row = anchor.agg(
            F.lit(i).alias("step"),
            F.lit(name).alias("event_type"),
            F.count(F.lit(1)).alias("n_users"),
        )
        s = row if s is None else s.unionAll(row)
    w = W.orderBy("step")
    return s.select(
        "step",
        "event_type",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.first("n_users").over(w), 4
        ).alias("conv_from_start"),
        F.round(
            F.col("n_users").cast("double") / F.lag("n_users").over(w), 4
        ).alias("conv_from_prev"),
    ).orderBy("step")


@register(
    "retention_cohort_weeks",
    oracle="""
    WITH e AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
               AS week
      FROM events
    ), f AS (
      SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id
    ), a AS (
      SELECT DISTINCT f.cohort_week, e.week - f.cohort_week AS week_offset,
             e.user_id
      FROM e JOIN f ON e.user_id = f.user_id
    ), m AS (
      SELECT cohort_week, week_offset,
             CAST(count(*) AS BIGINT) AS n_users
      FROM a GROUP BY cohort_week, week_offset
    )
    SELECT cohort_week, week_offset, n_users,
           round(CAST(n_users AS DOUBLE)
                 / first_value(n_users) OVER (
                     PARTITION BY cohort_week ORDER BY week_offset), 4)
             AS retention
    FROM m ORDER BY cohort_week, week_offset
    """,
    tags=("retention", "cohort", "analytics", "events"),
)
def retention_cohort_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix — the second canonical
    product-analytics query: bucket users by first-activity week
    (cohort), count how many are active again k weeks later, and report
    retention as a fraction of the cohort's week-0 size.

    Weeks are integer ``epoch_days div 7`` on both engines — no
    date_trunc('week') anchor-day semantics to disagree on.

    Scale: one hash agg on user_id for first-touch, one co-keyed join
    back (same user_id partitioning — no extra shuffle at scale), a
    distinct on (cohort, offset, user) that hash-partitions by the
    grouping key, then a #cohorts×#offsets-row matrix. The retention
    window runs over that tiny matrix, partitioned by cohort.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr(
            "datediff(to_date(ts), to_date('1970-01-01')) div 7"
        ).alias("week"),
    )
    f = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    a = (
        e.join(f, "user_id")
        .select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            "user_id",
        )
        .distinct()
    )
    m = a.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    w = W.partitionBy("cohort_week").orderBy("week_offset")
    return m.select(
        "cohort_week",
        "week_offset",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.first("n_users").over(w), 4
        ).alias("retention"),
    ).orderBy("cohort_week", "week_offset")


# marketing touch channels for attribution (purchase is the conversion
# proxy inside events; orders are the REVENUE conversions attributed here)
ATTRIB_TOUCH_TYPES = ("view", "click", "signup")


@register(
    "attribution_revenue_touch",
    oracle=f"""
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS us, 0 AS kind,
             event_type AS channel, event_id AS tie,
             CAST(NULL AS BIGINT) AS rev
      FROM events
      WHERE event_type IN {str(ATTRIB_TOUCH_TYPES)}
      UNION ALL
      SELECT user_id, epoch_us(ts), 1, NULL, event_id,
             CAST(round(value * 1000000) AS BIGINT)
      FROM events WHERE event_type = 'purchase'
    ), wnd AS (
      SELECT kind, rev,
             first_value(channel IGNORE NULLS) OVER w AS ft,
             last_value(channel IGNORE NULLS) OVER w AS lt
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY us, kind, tie
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), o AS (
      SELECT coalesce(ft, 'direct') AS ft, coalesce(lt, 'direct') AS lt,
             rev
      FROM wnd WHERE kind = 1
    )
    SELECT model, channel, CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(rev) AS BIGINT) AS revenue_micro
    FROM (
      SELECT 'first_touch' AS model, ft AS channel, rev FROM o
      UNION ALL
      SELECT 'last_touch', lt, rev FROM o
    )
    GROUP BY model, channel
    ORDER BY model, channel
    """,
    tags=("attribution", "analytics", "events", "asof"),
)
def attribution_revenue_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch revenue attribution (round 15, VERDICT r14
    task 5 — the third canonical product-analytics shape after funnel
    and retention): every conversion's revenue is credited to the
    marketing touch (view/click/signup event) the model picks among
    the user's touches AT OR BEFORE the conversion — first-touch
    credits the earliest causal touch, last-touch the latest;
    conversions with no prior touch are 'direct'. Conversions are the
    user's ``purchase`` events with ``value`` as revenue (exact integer
    micro-units) — the event-log-native shape where touches and
    conversions genuinely interleave. (The first cut keyed conversions
    to the ORDERS table; the sf10 probe's exact-10× invariant exposed
    that as vacuous — TPC-H order dates all precede the event era, so
    every order attributed 'direct' and the window path was never
    exercised. The probe check now pins non-degenerate channels.)
    Output: (model, channel) × conversion count × revenue.

    Implementation is the AS-OF pattern, not a per-user product: the
    touch stream and the conversion stream UNION into one per-user
    time-ordered stream and the two models are running
    ``first/last_value(channel, ignorenulls)`` over the SAME window —
    so each conversion row reads its answer in place. Ties are
    total-ordered by (us, kind, event_id): a touch at exactly the
    conversion timestamp sorts before it (kind 0 < 1, i.e. `<=`
    causality), and equal-time touches resolve to the max event_id for
    last-touch / min for first-touch, identically in both engines.

    Scale: two narrow pushed-filter scans of one table, ONE shuffle on
    user_id (the window sort), and a #models×#channels-row aggregate —
    the running frame is computed incrementally, so a heavy user costs
    O(rows), not O(rows²). Revenue is the money-sum pattern
    (per-conversion integer micro-units; order-independent addition).
    """
    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(
        F.col("event_type").isin(*ATTRIB_TOUCH_TYPES)
    ).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.lit(0).alias("kind"),
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("tie"),
        F.lit(None).cast("long").alias("rev"),
    )
    conversions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("string").alias("channel"),
        F.col("event_id").alias("tie"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("rev"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "kind", "tie")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wnd = touches.unionByName(conversions).select(
        "kind",
        "rev",
        F.first("channel", ignorenulls=True).over(w).alias("ft"),
        F.last("channel", ignorenulls=True).over(w).alias("lt"),
    )
    o = wnd.filter(F.col("kind") == 1).select(
        F.coalesce("ft", F.lit("direct")).alias("ft"),
        F.coalesce("lt", F.lit("direct")).alias("lt"),
        "rev",
    )
    return (
        o.select(
            F.expr(
                "stack(2, 'first_touch', ft, 'last_touch', lt) "
                "AS (model, channel)"
            ),
            "rev",
        )
        .groupBy("model", "channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("rev").alias("revenue_micro"),
        )
        .orderBy("model", "channel")
    )


@register(
    "pivot_daily_event_counts",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view
    FROM events
    GROUP BY 1
    """,
    tags=("agg", "pivot", "wide-table"),
)
def pivot_daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: daily event counts, one column per event type —
    the report-table shape every dashboard export needs. The pivot values
    are DECLARED (the 5 known types), which matters at scale: an
    unspecified pivot triggers an extra distinct-values job over the full
    table before the real agg; a declared list is one single-shuffle
    hash agg, exactly as cheap as the FILTER-count oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    # day as a plain yyyy-MM-dd STRING: DuckDB DATE fetches into pandas
    # as datetime64 while Spark DATE stays a date object — the driver's
    # repr-hash would mismatch on identical values (tools/driver_parity).
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "error", "purchase", "signup", "view"])
    )


@register(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(props ->> '$.k' AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props ->> '$.k' AS INTEGER)) AS INTEGER) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("scalar", "json", "variant", "semi-structured"),
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type (Spark 4's native
    JSON representation): ``parse_json`` decodes each props payload ONCE
    into a binary variant, and every field access is ``variant_get`` on
    the decoded tree — vs get_json_object, which re-parses the string
    per extraction. At 100 TB with wide JSON payloads and several
    extracted fields, parse-once is the difference between one decode
    and one decode per field; the shredded variant also stays columnar
    through the shuffle. (json_extract_events keeps the classic
    get_json_object rendering for comparison.)
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("p")
    ).select(
        "event_type",
        F.try_variant_get(F.col("p"), "$.k", "int").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.max("k").cast("int").alias("max_k"),
    )


@register(
    "fuzzy_match_names",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS dirty_id,
             substr(c_name, 1, 5) || 'X' ||
               substr(c_name, 7, length(c_name) - 6) AS name
      FROM customer WHERE c_custkey % 7 = 0
    ),
    clean AS (SELECT c_custkey, c_name FROM customer),
    cands AS (
      SELECT d.dirty_id, c.c_custkey, d.name, c.c_name
      FROM dirty d JOIN clean c
        ON substr(d.name, length(d.name) - 3, 4)
             = substr(c.c_name, length(c.c_name) - 3, 4)
       AND length(d.name) = length(c.c_name)
    )
    SELECT dirty_id, c_custkey AS matched_custkey,
           CAST(levenshtein(name, c_name) AS INTEGER) AS distance
    FROM cands
    WHERE levenshtein(name, c_name) <= 2
    """,
    tags=("join", "entity-resolution", "blocking", "fuzzy", "levenshtein"),
)
def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution — fuzzy-match a dirtied name table back
    to its source by edit distance, the record-linkage pattern every
    dedup/MDM pipeline runs. A deterministic corruption (6th char → 'X'
    on every 7th customer) builds the dirty side; candidates come from
    BLOCKING on (last-4-chars, exact length) — the standard blocking-key
    trick that replaces the O(N·M) all-pairs edit-distance scan with
    equi-join buckets (the suffix carries the name's discriminating
    digits, so buckets stay small where a prefix block would put the
    whole uniform 'Customer#' corpus in one bucket) — and the
    levenshtein(≤2) verify runs only on candidates.

    Scale: the join is a plain equi-join on the block key (shuffle both
    sides on the key, AQE-handled skew); cost scales with bucket sizes,
    never N·M. Widening recall = adding more blocking passes (prefix
    block, phonetic key), each another equi-join union — same plan
    family as the minhash/simhash LSH ops.
    """
    cust = load_table(spark, sf_dir, "customer")
    dirty = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("dirty_id"),
        F.concat(
            F.substring("c_name", 1, 5),
            F.lit("X"),
            F.expr("substring(c_name, 7, length(c_name) - 6)"),
        ).alias("name"),
    )
    clean = cust.select("c_custkey", "c_name")
    cands = dirty.join(
        clean,
        (
            F.expr("substring(name, length(name) - 3, 4)")
            == F.expr("substring(c_name, length(c_name) - 3, 4)")
        )
        & (F.length("name") == F.length("c_name")),
    )
    dist = F.levenshtein("name", "c_name")
    return cands.filter(dist <= 2).select(
        "dirty_id",
        F.col("c_custkey").alias("matched_custkey"),
        dist.cast("int").alias("distance"),
    )


@register(
    "mad_outliers_events",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad_t AS (
      SELECT event_type, any_value(med) AS med, median(adev) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           round(any_value(d.med), 4) AS med,
           round(any_value(m.mad), 4) AS mad,
           CAST(count(*) FILTER (
             WHERE d.adev > 3 * 1.4826 * m.mad) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n
    FROM dev d JOIN mad_t m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
    tags=("agg", "robust-stats", "mad", "outliers"),
)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    monitoring-pipeline alternative to grouped_zscore_events' mean/std
    (which outliers themselves corrupt; the median/MAD pair has a 50%
    breakdown point). Two exact-median passes (value, then |value−med|)
    and a final flag count at the standard 3σ-equivalent cutoff
    (1.4826·MAD ≈ σ for normal data).

    Scale: medians shuffle on the 5-value event_type key; the per-row
    deviation stage joins the 5-row median table BROADCAST, so the
    events corpus itself is shuffled only by its group key. Exact
    grouped median is the deliberate choice here (deterministic,
    oracle-matchable); at 100 TB swap in approx_percentile's t-digest —
    same plan, mergeable sketch.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad_t = dev.groupBy("event_type").agg(
        F.first("med").alias("med2"), F.median("adev").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad_t), "event_type")
    return flagged.groupBy("event_type").agg(
        F.round(F.first("med"), 4).alias("med"),
        F.round(F.first("mad"), 4).alias("mad"),
        F.sum(
            (F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("long")
        ).alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "grouping_sets_order_stats",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
    tags=("agg", "grouping-sets", "grouping-id"),
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the report shape rollup/cube can't
    express when the wanted set list is irregular (here: detail,
    per-status subtotal, grand total — but NOT per-priority-only, which
    CUBE would force and a reader would misread as a meaningful slice).
    GROUPING() markers disambiguate a real NULL group key from a
    subtotal row — the reason the coalesce('ALL') rendering alone is
    not sufficient at scale, where keys can genuinely be NULL.

    Spark executes the three sets in ONE scan with a single Expand +
    hash aggregate (not one pass per set) — same cost class as the
    plain groupBy, which is why it beats a UNION ALL of three queries
    at 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return orders.sparkSession.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """)
