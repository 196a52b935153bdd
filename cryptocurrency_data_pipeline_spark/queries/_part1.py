"""Core SQL + DQ + first text/dedup/ANN queries (registration epoch 1):
flagship rollup, TPC-H-style aggregates/joins/windows, Deequ-style
profiles and constraint gates, DQDL routing, as-of/range joins,
winnowing/MinHash/exact dedup, cosine/SRP/IVF ANN, streaming replays.

Split from the monolithic ``queries.py`` by REGISTRATION EPOCH — the
import sequence in ``queries/__init__.py`` preserves the original
registration order exactly (pinned by ``tests/test_oracle_parity.py``);
append new queries to the LAST part (or a new part imported last), never
reorder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from cryptocurrency_data_pipeline_spark.operators import silver  # noqa: F401
from cryptocurrency_data_pipeline_spark.operators import caching  # noqa: F401
from cryptocurrency_data_pipeline_spark.operators.quantize import cents, finite  # noqa: F401
from cryptocurrency_data_pipeline_spark.queries._fragments import (  # noqa: F401
    cents_sql,
    finite_sql,
    minhash_bands_cte,
    minhash_cand_cte,
    minhash_sig_ctes,
)
from cryptocurrency_data_pipeline_spark.queries._registry import query, t  # noqa: F401
from cryptocurrency_data_pipeline_spark.sources.tables import load_table  # noqa: F401



# --------------------------------------------------------------------------
# Flagship: latest-record-per-key dedup + daily rollup (W1 + A2 + P6 + O1).
# The reference's two core moves composed: window dedup keep-latest
# (glue/data_transform_s3.py:133-136) then groupBy-count/agg
# (glue/data_aggregate_gold.py:50) over the `events` table.
# --------------------------------------------------------------------------

@query(
    "flagship_daily_rollup",
    oracle="""
    WITH ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, CAST(ts AS DATE)
        ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) AS n_active_users,
           round(avg(value), 6) AS avg_value,
           round(sum(value), 4) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM ranked WHERE rn = 1
    GROUP BY day
    """,
)
def flagship_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    latest = silver.dedup_latest(ev, ["user_id", "day"], "ts", tiebreak=["event_id"])
    return latest.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("n_active_users"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# --------------------------------------------------------------------------
# Pricing summary (TPC-H Q1 shape): the canonical multi-aggregate groupBy —
# exercises A2/A7 partial+final hash aggregation with map-side combine.
# --------------------------------------------------------------------------

@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --------------------------------------------------------------------------
# Star-schema revenue rollup: the join surface the reference's gold layer
# implies but never executes (SURVEY §2.3).  Dims are broadcast — at 100 TB
# the fact side streams through map-side hash joins with zero dim shuffle;
# only the lineitem⋈orders equi-join shuffles (AQE handles skew).
# --------------------------------------------------------------------------

@query(
    "star_revenue_by_nation",
    oracle="""
    SELECT r_name AS region_name, n_name AS nation_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def star_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    # Dim chain first (tiny), broadcast into orders, then one shuffle join
    # against the fact table.
    cust_dim = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    enriched_orders = orders.join(F.broadcast(cust_dim), orders.o_custkey == cust_dim.c_custkey)
    # Pre-aggregate the fact by order key BEFORE the fact-to-fact join: a
    # map-side-combinable agg shrinks the join input ~4x (lineitems/order),
    # so the orderkey shuffle moves per-order partials instead of raw rows —
    # and stops AQE from trying to broadcast the fact locally.
    li_per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"),
        F.count("*").alias("__n"),
    )
    return (
        li_per_order.join(
            enriched_orders, li_per_order.l_orderkey == enriched_orders.o_orderkey
        )
        .groupBy(
            F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
        )
        .agg(
            F.round(F.sum("__rev"), 2).alias("revenue"),
            F.sum("__n").alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# Top-k (O3): orderBy desc + limit → TakeOrderedAndProject (no global sort).
# Reference delegates top-100-by-market-cap to the API
# (glue/data_ingestion_s3.py:22); here it's a first-class operator.
# --------------------------------------------------------------------------

@query(
    "top_orders_by_value",
    oracle="""
    SELECT o_orderkey, c_name, round(o_totalprice, 2) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def top_orders_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select(
            "o_orderkey", "c_name", F.round("o_totalprice", 2).alias("total_price")
        )
    )


# --------------------------------------------------------------------------
# Window functions (W3): lag delta + rank within user — the analytics the
# reference receives precomputed from the API (price_change_24h,
# market_cap_rank; glue/data_transform_s3.py:32) recomputed natively.
# --------------------------------------------------------------------------

@query(
    "window_user_deltas",
    # Null placement is EXPLICIT on both sides: Spark's ASC default is
    # NULLS FIRST, DuckDB's is NULLS LAST — a NULL event time would
    # silently shift every window assignment in its partition otherwise.
    # (DESC agrees across engines: both NULLS LAST.)
    oracle="""
    SELECT event_id, user_id, value,
           round(value - lag(value) OVER w, 6) AS value_delta,
           rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank,
           row_number() OVER w AS seq
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    """,
)
def window_user_deltas(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), "event_id"
    )
    wr = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("value_delta"),
        F.rank().over(wr).alias("value_rank"),
        F.row_number().over(w).alias("seq"),
    )


# --------------------------------------------------------------------------
# DQ profile (A4-A10): the full PyDeequ analyzer set in ONE aggregate pass
# (glue/data_quality_pydeequ.py:42-59 runs several Deequ jobs for the same).
# --------------------------------------------------------------------------

@query(
    "dq_profile_lineitem",
    # Moments over FINITE values only (operators/quality.py contract —
    # one NaN row must degrade the metric, not NaN-flood or kill it).
    oracle=f"""
    SELECT 'Dataset' AS entity, '*' AS instance, 'Size' AS name,
           CAST(count(*) AS DOUBLE) AS value FROM lineitem
    UNION ALL SELECT 'Column', 'l_quantity', 'Completeness',
           round(CAST(count(l_quantity) AS DOUBLE) / count(*), 6) FROM lineitem
    UNION ALL SELECT 'Column', 'l_extendedprice', 'Completeness',
           round(CAST(count(l_extendedprice) AS DOUBLE) / count(*), 6) FROM lineitem
    UNION ALL SELECT 'Column', 'l_quantity', 'Mean',
           round(avg(CASE WHEN {finite_sql('l_quantity')} THEN l_quantity END), 6) FROM lineitem
    UNION ALL SELECT 'Column', 'l_quantity', 'StandardDeviation',
           round(stddev_pop(CASE WHEN {finite_sql('l_quantity')} THEN l_quantity END), 6) FROM lineitem
    UNION ALL SELECT 'Column', 'l_quantity', 'Minimum', round(min(l_quantity), 6) FROM lineitem
    UNION ALL SELECT 'Column', 'l_quantity', 'Maximum', round(max(l_quantity), 6) FROM lineitem
    UNION ALL SELECT 'Column', 'l_extendedprice', 'Mean',
           round(avg(CASE WHEN {finite_sql('l_extendedprice')} THEN l_extendedprice END), 6) FROM lineitem
    UNION ALL SELECT 'Column', 'l_extendedprice', 'StandardDeviation',
           round(stddev_pop(CASE WHEN {finite_sql('l_extendedprice')} THEN l_extendedprice END), 6) FROM lineitem
    UNION ALL SELECT 'Column', 'l_extendedprice', 'Minimum', round(min(l_extendedprice), 6) FROM lineitem
    UNION ALL SELECT 'Column', 'l_extendedprice', 'Maximum', round(max(l_extendedprice), 6) FROM lineitem
    """,
)
def dq_profile_lineitem(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import quality

    li = t(spark, sf_dir, "lineitem")
    metrics = quality.profile(
        li,
        completeness_cols=["l_quantity", "l_extendedprice"],
        numeric_cols=["l_quantity", "l_extendedprice"],
    )
    return quality.profile_df(spark, metrics).select(
        "entity", "instance", "name", F.round("value", 6).alias("value")
    )


# --------------------------------------------------------------------------
# Uniqueness (A6, Deequ semantics): fraction of key values occurring exactly
# once — a two-level aggregate (glue/data_quality_pydeequ.py:50).
# --------------------------------------------------------------------------

@query(
    "uniqueness_custkey",
    # Deequ's three key-health metrics off one two-level aggregate:
    # Uniqueness = singletons/rows, UniqueValueRatio = singletons/distinct,
    # Distinctness = distinct/rows.
    oracle="""
    SELECT round(CAST(count(*) FILTER (WHERE cnt = 1) AS DOUBLE) / sum(cnt), 6)
           AS uniqueness,
           round(CAST(count(*) FILTER (WHERE cnt = 1) AS DOUBLE) / count(*), 6)
           AS unique_value_ratio,
           round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS distinctness
    FROM (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey)
    """,
)
def uniqueness_custkey(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    ones = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.round(ones / F.sum("cnt"), 6).alias("uniqueness"),
            F.round(ones / F.count(F.lit(1)), 6).alias("unique_value_ratio"),
            F.round(F.count(F.lit(1)) / F.sum("cnt"), 6).alias("distinctness"),
        )
    )


# --------------------------------------------------------------------------
# Constraint verification (A11/A12): declarative checks against the one-pass
# profile; includes a deliberately failing constraint so both statuses are
# exercised (glue/data_quality_pydeequ.py:72-89 contract).
# --------------------------------------------------------------------------

@query(
    "dq_constraint_check",
    oracle="""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS sz,
             CAST(count(o_custkey) AS DOUBLE) / count(*) AS comp,
             CAST(min(o_totalprice) AS DOUBLE) AS minp
      FROM orders
    ), uo AS (
      SELECT CAST(count(*) FILTER (WHERE cnt = 1) AS DOUBLE) / sum(cnt) AS u
      FROM (SELECT o_orderkey, count(*) AS cnt FROM orders GROUP BY o_orderkey)
    ), uc AS (
      SELECT CAST(count(*) FILTER (WHERE cnt = 1) AS DOUBLE) / sum(cnt) AS u
      FROM (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey)
    )
    SELECT 'size >= 100' AS constraint_name, 'Size()' AS metric,
           round(sz, 6) AS value,
           CASE WHEN sz >= 100 THEN 'Success' ELSE 'Failure' END AS constraint_status
    FROM m
    UNION ALL SELECT 'completeness(o_custkey) > 0.95', 'Completeness(o_custkey)',
           round(comp, 6), CASE WHEN comp > 0.95 THEN 'Success' ELSE 'Failure' END FROM m
    UNION ALL SELECT 'min(o_totalprice) > 0', 'Minimum(o_totalprice)',
           round(minp, 6), CASE WHEN minp > 0 THEN 'Success' ELSE 'Failure' END FROM m
    UNION ALL SELECT 'uniqueness(o_orderkey) > 0.99', 'Uniqueness(o_orderkey)',
           round(u, 6), CASE WHEN u > 0.99 THEN 'Success' ELSE 'Failure' END FROM uo
    UNION ALL SELECT 'uniqueness(o_custkey) > 0.99', 'Uniqueness(o_custkey)',
           round(u, 6), CASE WHEN u > 0.99 THEN 'Success' ELSE 'Failure' END FROM uc
    """,
)
def dq_constraint_check(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import quality

    orders = t(spark, sf_dir, "orders")
    metrics = quality.profile(
        orders,
        completeness_cols=["o_custkey"],
        numeric_cols=["o_totalprice"],
        unique_key="o_orderkey",
    )
    # Second uniqueness key needs its own two-level agg.
    metrics.update(
        {
            "Uniqueness(o_custkey)": quality.profile(orders, unique_key="o_custkey")[
                "Uniqueness(o_custkey)"
            ]
        }
    )
    constraints = [
        quality.Constraint("size >= 100", "Size()", lambda v: v >= 100),
        quality.Constraint(
            "completeness(o_custkey) > 0.95", "Completeness(o_custkey)", lambda v: v > 0.95
        ),
        quality.Constraint(
            "min(o_totalprice) > 0", "Minimum(o_totalprice)", lambda v: v > 0
        ),
        quality.Constraint(
            "uniqueness(o_orderkey) > 0.99", "Uniqueness(o_orderkey)", lambda v: v > 0.99
        ),
        quality.Constraint(
            "uniqueness(o_custkey) > 0.99", "Uniqueness(o_custkey)", lambda v: v > 0.99
        ),
    ]
    return quality.verify(spark, metrics, constraints).select(
        "constraint_name", "metric", F.round("value", 6).alias("value"), "constraint_status"
    )


# --------------------------------------------------------------------------
# dim_date calendar build (P2, F3/F4, P9): glue/data_aggregate_gold.py:144-164.
# --------------------------------------------------------------------------

@query(
    "dim_date_calendar",
    oracle="""
    SELECT CAST(d AS VARCHAR) AS date,
           CAST(year(d) AS INT) AS year,
           CAST(month(d) AS INT) AS month,
           CAST(day(d) AS INT) AS day,
           CAST(quarter(d) AS INT) AS quarter,
           CAST(dayofweek(d) + 1 AS INT) AS day_of_week,
           CAST(weekofyear(d) AS INT) AS week_of_year,
           monthname(d) AS month_name,
           dayname(d) AS day_name,
           dayofweek(d) IN (0, 6) AS is_weekend
    FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
    """,
)
def dim_date_calendar(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import gold

    orders = t(spark, sf_dir, "orders")
    dim = gold.build_dim_date(orders, "o_orderdate")
    return dim.select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        *[c for c in dim.columns if c != "date"],
    )


# --------------------------------------------------------------------------
# Set operations (U1-U3): anti-join (the reference's collected-list isin
# emulation at glue/data_aggregate_gold.py:79-84, done as a real anti-join)
# and intersect.
# --------------------------------------------------------------------------

@query(
    "customers_without_big_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders
      WHERE o_totalprice > 400000 AND o_custkey IS NOT NULL)
    """,
)
def customers_without_big_orders(spark, sf_dir):
    customer = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "purchase_and_signup_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
)
def purchase_and_signup_users(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .intersect(ev.filter(F.col("event_type") == "signup").select("user_id"))
    )


@query(
    "funnel_signup_view_purchase",
    oracle="""
    WITH s AS (SELECT user_id, min(ts) AS ts_signup FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    v AS (SELECT e.user_id, min(e.ts) AS ts_view FROM events e
          JOIN s USING (user_id)
          WHERE e.event_type = 'view' AND e.ts > s.ts_signup
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS ts_purchase FROM events e
          JOIN v USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > v.ts_view
          GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM v) AS n_view_after_signup,
           (SELECT count(*) FROM p) AS n_purchase_after_view
    """,
)
def funnel_signup_view_purchase(spark, sf_dir):
    """Ordered funnel (signup → later view → later purchase): per-stage
    user counts.  Each stage is a key-shuffled agg on the SAME user_id key,
    so all three stages co-partition — on a cluster the joins after stage 1
    are exchange-free reuses of the signup partitioning."""
    ev = t(spark, sf_dir, "events")

    def stage(prior, etype, prior_ts, out_ts):
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prior, "user_id")
            .filter(F.col("ts") > F.col(prior_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_signup"))
    )
    v = stage(s, "view", "ts_signup", "ts_view")
    p = stage(v, "purchase", "ts_view", "ts_purchase")
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_view_after_signup")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_view")))
    )


# --------------------------------------------------------------------------
# Rollup (A13): hierarchical subtotals — absent in the reference, part of
# the engine's gold-analytics surface.
# --------------------------------------------------------------------------

@query(
    "rollup_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    -- HAVING count(*) > 0 is a no-op on any non-empty input (every
    -- rollup/cube/grouping-set row aggregates >= 1 source row) and
    -- mirrors Spark's empty-input behavior: Spark emits NO grand-total
    -- row over an empty table, the SQL standard (and DuckDB) emit one.
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    HAVING count(*) > 0
    """,
)
def rollup_returnflag_status(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Threshold validation + routing (P13/T4): the streaming consumer's rule
# chain (streaming/consumer.py:47-57) vectorized — bad rows with the
# " | "-joined multi-reason string (consumer.py:63).
# --------------------------------------------------------------------------

@query(
    "threshold_routing_bad",
    oracle="""
    SELECT event_id,
           concat_ws(' | ',
             CASE WHEN value < 1 THEN 'value below minimum 1' END,
             CASE WHEN event_type = 'error' THEN 'error event' END,
             CASE WHEN value > 150 THEN 'suspicious spike' END) AS error_reason
    FROM events
    WHERE value < 1 OR event_type = 'error' OR value > 150
    """,
)
def threshold_routing_bad(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    rules = [
        (F.col("value") < 1, "value below minimum 1"),
        (F.col("event_type") == "error", "error event"),
        (F.col("value") > 150, "suspicious spike"),
    ]
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(r)) for cond, r in rules]),
        lambda x: x.isNotNull(),
    )
    return (
        ev.withColumn("__reasons", reasons)
        .filter(F.size("__reasons") > 0)
        .select("event_id", F.array_join("__reasons", " | ").alias("error_reason"))
    )


# --------------------------------------------------------------------------
# Schema-enforcement split (P12): the reference's driver-side collect() loop
# (glue/data_transform_s3.py:72-108) as a distributed split; DLQ side shown.
# Nulls are injected deterministically since the testdata has none.
# --------------------------------------------------------------------------

@query(
    "schema_enforcement_dlq",
    oracle="""
    WITH mut AS (
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
             CASE WHEN value < 1 THEN NULL ELSE value END AS value
      FROM events
    )
    SELECT event_id,
           concat_ws(' | ',
             CASE WHEN event_type IS NULL THEN 'missing required field: event_type' END,
             CASE WHEN value IS NULL THEN 'missing required field: value' END) AS error_reason
    FROM mut
    WHERE event_type IS NULL OR value IS NULL
    """,
)
def schema_enforcement_dlq(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.when(F.col("value") < 1, None).otherwise(F.col("value")).alias("value"),
    )
    required = ["event_type", "value"]
    return ev.filter(silver.required_null_predicate(required)).select(
        "event_id", silver.missing_reasons(required).alias("error_reason")
    )


# --------------------------------------------------------------------------
# As-of join: last view value at-or-before each purchase, per user.  Built
# as union-sort-ffill (ONE shuffle, no range explosion — joins.py); the
# oracle uses DuckDB's native ASOF LEFT JOIN.
# --------------------------------------------------------------------------

@query(
    "asof_last_view",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'view')
      WHERE rn = 1
    ), p AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.value AS purchase_value,
           v.value AS last_view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def asof_last_view(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import joins

    ev = t(spark, sf_dir, "events")
    views = silver.dedup_latest(
        ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value", "event_id"),
        ["user_id", "ts"],
        "event_id",
    ).drop("event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = joins.asof_join(
        purchases, views, "user_id", "ts", "ts", ["value"], prefix="last_view_"
    )
    return out.select(
        "event_id", "user_id", F.col("value").alias("purchase_value"), "last_view_value"
    )


# --------------------------------------------------------------------------
# Range join: view→purchase conversion pairs within 10 minutes, per user.
# --------------------------------------------------------------------------

@query(
    "range_join_conversions",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
    SELECT p.user_id, count(*) AS n_pairs
    FROM p JOIN v ON p.user_id = v.user_id
     AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 10 MINUTE
    GROUP BY p.user_id
    """,
)
def range_join_conversions(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", F.col("ts").alias("p_ts"))
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    pairs = p.join(
        v,
        (p.user_id == v.v_user)
        & (v.v_ts <= p.p_ts)
        & (v.v_ts >= p.p_ts - F.expr("INTERVAL 10 MINUTES")),
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


# --------------------------------------------------------------------------
# Text analysis (LLM-data ops): token/char stats, ratios, quality score,
# marker-vote language ID, md5 fingerprint — all JVM-side expressions.
# --------------------------------------------------------------------------

@query(
    "text_stats_docs",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id, text,
             coalesce(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                  t -> t <> ''), []) AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, text, toks,
        len(list_filter(toks, x -> x IN ('the','and','of'))) AS s_en,
        len(list_filter(toks, x -> x IN ('le','la','et'))) AS s_fr,
        len(list_filter(toks, x -> x IN ('der','und','das'))) AS s_de,
        len(list_filter(toks, x -> x IN ('el','los','y'))) AS s_es,
        len(list_filter(toks, x -> x IN ('的','是','了'))) AS s_zh
      FROM tk
    )
    SELECT doc_id,
      len(toks) AS n_tokens,
      length(text) AS n_chars_computed,
      -- blank/null docs pin every ratio and the score to 0.0, mirroring
      -- the operator guards (an unguarded 0/0 is a silent row-dropper)
      round(CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
            / len(toks) END, 6) AS avg_token_len,
      round(CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(len(list_filter(toks, x -> x IN ('a','the','of','and'))) AS DOUBLE)
            / len(toks) END, 6) AS stopword_ratio,
      round(CASE WHEN coalesce(length(text), 0) = 0 THEN 0.0
            ELSE CAST(length(text) - length(regexp_replace(text, '[^\w \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
            / length(text) END, 6) AS punct_ratio,
      round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE (
        least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
        + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w \t\n\x0B\f\r]', '', 'g')) AS DOUBLE) / length(text)) * 5.0, 1.0))
        + (1.0 - least(abs(CAST(len(list_filter(toks, x -> x IN ('a','the','of','and'))) AS DOUBLE) / len(toks) - 0.1) * 2.0, 1.0))
      ) / 3.0 END, 6) AS quality_score,
      CASE
        WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en >= s_zh AND s_en > 0 THEN 'en'
        WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh AND s_fr > 0 THEN 'fr'
        WHEN s_de >= s_es AND s_de >= s_zh AND s_de > 0 THEN 'de'
        WHEN s_es >= s_zh AND s_es > 0 THEN 'es'
        WHEN s_zh > 0 THEN 'zh'
        ELSE 'und' END AS lang_pred,
      md5(regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS fingerprint
    FROM scored
    """,
)
def text_stats_docs(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    return textops.text_stats(docs).select(
        "doc_id", "n_tokens", "n_chars_computed", "avg_token_len",
        "stopword_ratio", "punct_ratio", "quality_score", "lang_pred", "fingerprint",
    )


@query(
    "winnow_fingerprints",
    oracle=r"""
    WITH nrm AS (
      SELECT doc_id, regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(t) - 7),
                            i -> md5(substr(t, i, 8))) AS hs
      FROM nrm
    ),
    mins AS (
      -- least() over direct indexes: the list-slice form allocates a list
      -- per window and is ~1000x slower in DuckDB
      SELECT doc_id,
             list_transform(generate_series(1, len(hs) - 3),
                            i -> least(hs[i], hs[i+1], hs[i+2], hs[i+3])) AS m
      FROM h
    )
    SELECT doc_id,
           -- null text has zero fingerprints, not a NULL count (the
           -- operator returns an empty array for null/short docs)
           coalesce(len(list_distinct(m)), 0) AS n_fps,
           list_aggregate(m, 'min') AS min_fp,
           list_aggregate(m, 'max') AS max_fp
    FROM mins
    """,
)
def winnow_fingerprints(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprints: per-doc count + extrema of
    the fingerprint set — any divergence in gram/hash/window logic flips
    the value hash."""
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    return textops.winnow_fingerprints(docs, "text", k=8, w=4).select(
        "doc_id",
        F.size("fingerprints").alias("n_fps"),
        F.array_min("fingerprints").alias("min_fp"),
        F.array_max("fingerprints").alias("max_fp"),
    )


@query(
    "winnow_near_dups",
    oracle=r"""
    WITH nrm AS (
      SELECT doc_id, regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(t) - 24),
                            i -> md5(substr(t, i, 25))) AS hs
      FROM nrm
    ),
    fps AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(generate_series(1, len(hs) - 7),
                 i -> least(hs[i], hs[i+1], hs[i+2], hs[i+3],
                            hs[i+4], hs[i+5], hs[i+6], hs[i+7])))) AS fp
      FROM h
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
    FROM fps a JOIN fps b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY a_id, b_id
    HAVING count(*) >= 2
    """,
)
def winnow_near_dups(spark, sf_dir):
    """Near-dup candidate pairs by winnowing-fingerprint overlap: the
    MOSS-style alternative to MinHash-LSH.  k=25-char grams keep
    fingerprints document-specific (8-char grams are everyday phrases —
    global hash minima then land in thousands of docs and the bucket join
    goes quadratic); ≥2 shared fingerprints ⇒ a long shared run.  The only
    shuffle is the equi-join on 32-char fingerprints (cf. band keys in
    minhash_near_dups); the quadratic pair space never materializes."""
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    # Persist: both join branches read the fingerprint set, so the UDF pass
    # runs once (same pattern as the shingle frame in minhash_near_dups; at
    # scale, MEMORY_AND_DISK instead of recomputing the corpus pass twice).
    fps = caching.persist(
        textops.winnow_fingerprints(docs, "text", k=25, w=8)
        .select("doc_id", F.explode("fingerprints").alias("fp"))
    )
    a = fps.select(F.col("doc_id").alias("a_id"), "fp")
    b = fps.select(F.col("doc_id").alias("b_id"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@query(
    "bpe_token_counts",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'),
               '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]+'))
             AS n_bpe_tokens,
           coalesce(len(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                    t -> t <> '')), 0) AS n_ws_tokens
    FROM documents
    """,
)
def bpe_token_counts(spark, sf_dir):
    """Token counting both ways: whitespace and BPE-ish regex pre-split
    (the GPT-2 shape, lookahead-free so Java regex and RE2 agree)."""
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textops.bpe_token_count("text").alias("n_bpe_tokens"),
        textops.token_count("text").alias("n_ws_tokens"),
    )


# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy on normalized md5 fingerprint).
# --------------------------------------------------------------------------

@query(
    "docs_exact_dedup",
    oracle=r"""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(regexp_replace(replace(lower(replace(trim(text), 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+', ' ', 'g'))
    """,
)
def docs_exact_dedup(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import dedup

    return dedup.exact_dedup(t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# MinHash + LSH near-dup detection.  The salted-md5 minhash family is
# reproducible in ANSI SQL, so even the LSH banding has a full oracle.
# --------------------------------------------------------------------------

@query(
    "minhash_near_dups",
    oracle=f"""
    WITH {minhash_sig_ctes()}, {minhash_bands_cte()}, {minhash_cand_cte()}
    SELECT a_id, b_id,
           round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard_sim
    FROM cand JOIN hs x ON cand.a_id = x.doc_id JOIN hs y ON cand.b_id = y.doc_id
    WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
          / len(list_distinct(list_concat(x.s, y.s))) >= 0.1
    """,
)
def minhash_near_dups(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import dedup

    return dedup.minhash_near_dups(
        t(spark, sf_dir, "documents"), threshold=0.1, bands=4, n=3
    )


# --------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-k (oracle-checked) and
# SRP-LSH bucketed ANN (approximate scale path; rows-only check).
# --------------------------------------------------------------------------

@query(
    "cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS cv
               FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                      list_dot_product(qv, cv)
                      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
               FROM q, c WHERE neighbor_id != query_id),
         r AS (SELECT query_id, neighbor_id, sim,
                      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
               FROM s)
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim FROM r WHERE rn <= 10
    """,
)
def cosine_topk(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


@query(
    "ivf_ann_topk",
    oracle="""
    WITH c AS (SELECT vec_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS v FROM embeddings),
    seeds AS (
      SELECT v AS cv,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS centroid_id
      FROM c QUALIFY centroid_id <= 16
    ),
    -- Assignment/probe selection ranked over DISTINCT (vec_id, v), then
    -- rejoined to the ROW multiset ON BOTH COLUMNS: the engine's
    -- map-only UDF assigns every physical row independently by its OWN
    -- vector, so a duplicated corpus keeps its multiplicity AND a
    -- vec_id held with two different vectors keeps per-vector
    -- assignments (a vec_id-only rejoin would fan one per-id winner
    -- across every physical row — silent divergence).
    assign AS (
      SELECT e.vec_id, e.v, s.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id, e.v
               ORDER BY round(list_dot_product(e.v, s.cv)
                        / (sqrt(list_dot_product(e.v, e.v))
                           * sqrt(list_dot_product(s.cv, s.cv))), 9) DESC,
                        s.centroid_id
             ) AS rn
      FROM (SELECT DISTINCT vec_id, v FROM c) e CROSS JOIN seeds s
    ),
    corpus_a AS (SELECT e.vec_id AS neighbor_id, e.v AS cv2, a.centroid_id
                 FROM c e JOIN assign a
                 ON e.vec_id = a.vec_id AND e.v = a.v AND a.rn = 1),
    probes AS (SELECT e.vec_id AS query_id, e.v AS qv, a.centroid_id
               FROM c e JOIN assign a
               ON e.vec_id = a.vec_id AND e.v = a.v AND a.rn <= 4
               WHERE e.vec_id < 5),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             list_dot_product(p.qv, a.cv2)
             / (sqrt(list_dot_product(p.qv, p.qv))
                * sqrt(list_dot_product(a.cv2, a.cv2))) AS sim
      FROM probes p JOIN corpus_a a USING (centroid_id)
      WHERE a.neighbor_id != p.query_id
    ),
    r AS (SELECT query_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rn2
          FROM scored)
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim FROM r WHERE rn2 <= 10
    """,
)
def ivf_ann_topk(spark, sf_dir):
    """IVF-flat ANN (FAISS-style): deterministic seeded coarse quantizer,
    numpy-vectorized assignment, multi-probe, exact in-list re-rank —
    fully oracle-checked (the SRP variant stays rows-only)."""
    from cryptocurrency_data_pipeline_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, nlist=16, nprobe=4
    )


@query(
    "ann_srp_topk",
    # SRP projections are md5-derived (component (b,i) = +1 iff the first
    # hex digit of md5('b_i') is 0-7), so the whole approximate pipeline —
    # bucket assignment, in-bucket candidate join, exact cosine re-rank —
    # replays bit-for-bit in DuckDB.
    oracle="""
    WITH dims AS (SELECT unnest(generate_series(0, 63)) AS i),
    bits AS (SELECT unnest(generate_series(0, 3)) AS b),
    signs AS (
      SELECT b, i,
             CASE WHEN strpos('01234567',
                    substr(md5(CAST(b AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)) > 0
                  THEN 1.0 ELSE -1.0 END AS s
      FROM bits CROSS JOIN dims
    ),
    c AS (SELECT vec_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS v FROM embeddings),
    proj AS (
      SELECT c.vec_id, signs.b, sum(c.v[signs.i + 1] * signs.s) AS p
      FROM c CROSS JOIN signs GROUP BY c.vec_id, signs.b
    ),
    bkt AS (
      SELECT vec_id,
             string_agg(CASE WHEN round(p, 9) >= 0 THEN '1' ELSE '0' END,
                        '' ORDER BY b) AS bucket
      FROM proj GROUP BY vec_id
    ),
    cand AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_dot_product(qq.v, nn.v)
             / (sqrt(list_dot_product(qq.v, qq.v))
                * sqrt(list_dot_product(nn.v, nn.v))) AS sim
      FROM bkt q JOIN bkt n ON q.bucket = n.bucket AND q.vec_id != n.vec_id
      JOIN c qq ON qq.vec_id = q.vec_id
      JOIN c nn ON nn.vec_id = n.vec_id
      WHERE q.vec_id < 5
    ),
    r AS (SELECT query_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rn
          FROM cand)
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim FROM r WHERE rn <= 10
    """,
)
def ann_srp_topk(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    return similarity.ann_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, n_bits=4)


@query(
    "simhash_signatures",
    # SimHash is md5-deterministic, so the Arrow-batched UDF replays in
    # SQL: per token take the first 8 md5 bytes big-endian as a 64-bit
    # int, accumulate ±1 per bit, signature bit = sign(acc), interpreted
    # as signed 64-bit (bit 63 contributes -2^63).
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                t -> t <> '')) AS tk
      FROM documents
    ),
    th AS (SELECT doc_id, md5(tk) AS h FROM tok),
    bits AS (SELECT unnest(generate_series(0, 63)) AS b),
    contrib AS (
      SELECT th.doc_id, bits.b,
             sum(CASE WHEN ((strpos('0123456789abcdef',
                                    substr(th.h, 16 - (bits.b // 4), 1)) - 1)
                            >> (bits.b % 4)) & 1 = 1
                      THEN 1 ELSE -1 END) AS acc
      FROM th CROSS JOIN bits GROUP BY th.doc_id, bits.b
    ),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN acc > 0 THEN
                        CASE WHEN b = 63 THEN -9223372036854775808
                             ELSE (CAST(1 AS BIGINT) << b) END
                      ELSE 0 END) AS BIGINT) AS simhash
      FROM contrib GROUP BY doc_id
    )
    -- NULL text -> NULL signature (unknown content); zero-TOKEN text ->
    -- 0 (a defined empty accumulation) — exactly _simhash_batch's split
    SELECT d.doc_id,
           CAST(CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(s.simhash, 0) END AS BIGINT) AS simhash
    FROM documents d LEFT JOIN sig s USING (doc_id)
    """,
)
def simhash_signatures(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators.dedup import simhash64

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash64(F.col("text")).alias("simhash"))


# --------------------------------------------------------------------------
# Join surface completion (SURVEY §2.3): semi, outer-with-default, exceptAll.
# --------------------------------------------------------------------------

@query(
    "customers_with_big_orders_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def customers_with_big_orders_semi(spark, sf_dir):
    customer = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(big, customer.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "customer_big_order_counts_outer",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_big_orders
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 400000
    GROUP BY c_custkey
    """,
)
def customer_big_order_counts_outer(spark, sf_dir):
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        customer.join(
            orders,
            (customer.c_custkey == orders.o_custkey) & (orders.o_totalprice > 400000),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


@query(
    "high_value_days_except",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events WHERE value > 50
    EXCEPT
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events WHERE event_type = 'error' AND value > 180
    """,
)
def high_value_days_except(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    a = ev.filter(F.col("value") > 50).select("day")
    b = ev.filter((F.col("event_type") == "error") & (F.col("value") > 180)).select("day")
    return a.subtract(b)  # EXCEPT (distinct) semantics; exceptAll also exposed


# --------------------------------------------------------------------------
# Cube (A13) and windowed aggregations expressed as batch queries: the
# tumbling/sliding window semantics of the streaming layer (T9), verified
# against a SQL oracle on static data.
# --------------------------------------------------------------------------

@query(
    "cube_event_stats",
    oracle="""
    SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events
    -- HAVING count(*) > 0 is a no-op on any non-empty input (every
    -- rollup/cube/grouping-set row aggregates >= 1 source row) and
    -- mirrors Spark's empty-input behavior: Spark emits NO grand-total
    -- row over an empty table, the SQL standard (and DuckDB) emit one.
    GROUP BY CUBE (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
    HAVING count(*) > 0
    """,
)
def cube_event_stats(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "value",
    )
    return ev.cube("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")
    )


@query(
    "tumbling_hourly_stats",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events,
           CAST(sum({cents_sql('value', 10000)}) AS BIGINT)
             AS sum_value_scaled
    FROM events WHERE ts IS NOT NULL
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def tumbling_hourly_stats(spark, sf_dir):
    # Values are quantized to integer 1e-4 units BEFORE summing: float
    # sums are summation-order-dependent, and round(avg, 6) straddles a
    # rounding boundary once hour/type groups grow (surfaced at sf0.1).
    # Integer sums are exact and order-independent on both engines.
    # NULL event times belong to no time bucket: F.window() drops them
    # silently — the filter (mirrored in the oracle) makes it explicit.
    ev = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value", 10000))
            .cast("long")
            .alias("sum_value_scaled"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "sum_value_scaled",
        )
    )


@query(
    "sliding_window_activity",
    oracle="""
    WITH starts AS (
      SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
             value
      FROM events WHERE ts IS NOT NULL
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM starts GROUP BY ws
    """,
)
def sliding_window_activity(spark, sf_dir):
    # NULL event times belong to no window (F.window() drops them;
    # the explicit filter is mirrored in the oracle).
    ev = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events", "sum_value",
        )
    )


@query(
    "stream_ohlc_replay",
    # Sliding 4h/1h windows: each event lands in the 4 hourly starts at or
    # before its hour, exactly Spark's F.window("4 hours", "1 hour") split.
    oracle="""
    WITH wins AS (
      SELECT unnest([
               date_trunc('hour', ts) - INTERVAL 3 HOUR,
               date_trunc('hour', ts) - INTERVAL 2 HOUR,
               date_trunc('hour', ts) - INTERVAL 1 HOUR,
               date_trunc('hour', ts)
             ]) AS ws,
             event_type, value
      FROM events WHERE ts IS NOT NULL
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(ws + INTERVAL 4 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type AS coin_id,
           max(value) AS high,
           min(value) AS low,
           round(avg(value), 6) AS avg_price,
           count(*) AS n_ticks
    FROM wins GROUP BY ws, event_type
    """,
)
def stream_ohlc_replay(spark, sf_dir):
    """Batch replay of the STREAMING OHLC operator (T8/T9): drives the exact
    ``streaming.pipeline.windowed_ohlc`` code path the micro-batch job runs —
    same groupBy(window(...)) aggregation, watermark elided because the input
    is static — so the streaming window math gets a full oracle-hash signal,
    not just a pytest row-count. Events stand in for ticks: event_type is
    the instrument key, value the price."""
    from cryptocurrency_data_pipeline_spark.streaming.pipeline import windowed_ohlc

    ticks = t(spark, sf_dir, "events").select(
        F.col("ts").alias("event_time"),
        F.col("event_type").alias("coin_id"),
        F.col("value").alias("current_price"),
    )
    out = windowed_ohlc(ticks, window="4 hours", slide="1 hour")
    # window_end is DERIVED (start + 4h), so a tick in the last hours of
    # 9999-12-31 — the "never expires" sentinel year — pushes it past the
    # timestamp-max into year 10000, where Java's date_format prints the
    # ISO extended form "+10000-…" but DuckDB's strftime prints it bare.
    # Strip the sign prefix: same instant, one string form (sftime class).
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.regexp_replace(
            F.date_format("window_end", "yyyy-MM-dd HH:mm:ss"), r"^\+", ""
        ).alias("window_end"),
        "coin_id", "high", "low", "avg_price", "n_ticks",
    )


# --------------------------------------------------------------------------
# Embedding near-dup pairs (bounded query side × full corpus) and
# per-document nearest neighbor by trigram Jaccard with blocking.
# --------------------------------------------------------------------------

@query(
    "embedding_near_dups",
    oracle="""
    WITH e AS (SELECT vec_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL)) = 0 THEN CAST(embedding AS DOUBLE[]) END AS v FROM embeddings),
         q AS (SELECT * FROM e WHERE vec_id < 200)
    SELECT q.vec_id AS a_id, e.vec_id AS b_id,
           round(list_dot_product(q.v, e.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6)
           AS cosine_sim
    FROM q JOIN e ON q.vec_id < e.vec_id
    WHERE list_dot_product(q.v, e.v)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) >= 0.45
    """,
)
def embedding_near_dups(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double(F.col("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("b_id"), F.col("v").alias("cv"))
    pairs = c.join(F.broadcast(q), F.col("a_id") < F.col("b_id"))
    sim = similarity.cosine(F.col("qv"), F.col("cv"))
    return (
        pairs.withColumn("__sim", sim)
        .filter(F.col("__sim") >= 0.45)
        .select("a_id", "b_id", F.round("__sim", 6).alias("cosine_sim"))
    )


@query(
    "doc_nearest_ngram",
    oracle=r"""
    WITH toked AS (
      SELECT doc_id, lang, n_chars,
             coalesce(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                  t -> t <> ''), []) AS toks
      FROM documents
    ), tk AS (
      -- docs with no 3-gram shingles have no n-gram identity: excluded
      -- on both sides rather than pairing at an undefined 0/0 Jaccard
      SELECT doc_id, lang, n_chars // 25 AS sz,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> array_to_string(toks[i:i+2], ' '))) AS s
      FROM toked
      WHERE len(toks) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_id, b.doc_id AS nbr_id,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS sim
      FROM tk a JOIN tk b
        ON a.lang = b.lang AND a.sz = b.sz AND a.doc_id != b.doc_id
    ), ranked AS (
      SELECT doc_id, nbr_id, sim,
             row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, nbr_id) AS rn
      FROM pairs
    )
    SELECT doc_id, nbr_id, round(sim, 6) AS jaccard_sim FROM ranked WHERE rn = 1
    """,
)
def doc_nearest_ngram(spark, sf_dir):
    """Exact Jaccard 1-NN within (lang, size-bucket) blocks.

    r13 REWRITE — same result, sub-block cost.  The original engine plan
    was the oracle's literal all-pairs block join; block membership
    grows with the corpus, so it was O(n²/blocks) BY SHAPE (the slope
    instrument measured x64 at 10x data: 14 s → 907 s).  The rewrite is
    the sparse set-similarity identity: any pair with Jaccard > 0
    shares a shingle, so

    * CANDIDATES come from a shingle-inverted-index self-equi-join on
      (shingle, lang, sz) — one shuffle, cost proportional to shingle
      co-occurrence (sum over shingles of df², the sparse-join bound),
      never block²; |A ∩ B| is the pair's co-occurrence COUNT and
      |A ∪ B| = |A| + |B| − |A ∩ B|, an integer identity, so the
      division reproduces dedup.jaccard's double bit-for-bit;
    * the ZERO-SIM tail (a doc whose best block peer shares nothing —
      the all-pairs rank still emits it with sim 0 and the LOWEST
      peer id) is reconstructed from the two smallest distinct doc_ids
      per block (one windowed top-2 over the tiny distinct-id frame)
      and anti-joined against docs that found a candidate.

    Duplicated-id semantics match the oracle's row-level scoring:
    exact-duplicate input rows collapse first (a no-op outside the
    sfdup class; the all-pairs rank was invariant to exact copies), and
    same-id-different-text variants keep distinct rows via a text
    fingerprint in the group key, competing in one per-doc_id rank
    exactly as their separate all-pairs rows did."""
    from cryptocurrency_data_pipeline_spark.operators import text as textops

    docs = (
        t(spark, sf_dir, "documents")
        # exact-duplicate rows collapse (rank-invariant; sfdup class)
        .dropDuplicates(["doc_id", "text", "lang", "n_chars"])
        .withColumn("__toks", textops.tokens("text"))  # staged: see shingles()
        # < 3 tokens -> no shingles -> no n-gram identity; excluded on
        # both sides (pairing two empty sets is an undefined 0/0 Jaccard)
        .where(F.size("__toks") >= 3)
        .select(
            "doc_id",
            # row key separating same-id-different-text variants in the
            # candidate group; a 64-bit hash keeps shuffle rows light
            # (collision needs same doc_id AND a 2^-64 hash collision)
            F.xxhash64("text").alias("rk"),
            "lang",
            (F.col("n_chars") / 25).cast("long").alias("sz"),
            F.array_distinct(textops.shingles(toks=F.col("__toks"), n=3)).alias("s"),
        )
        .withColumn("n_s", F.size("s"))
    )
    ex = docs.select(
        "doc_id", "rk", "lang", "sz", "n_s", F.explode("s").alias("sh")
    )
    b = ex.select(
        F.col("sh").alias("b_sh"), F.col("lang").alias("b_lang"),
        F.col("sz").alias("b_sz"), F.col("doc_id").alias("nbr_id"),
        F.col("rk").alias("b_rk"), F.col("n_s").alias("b_n_s"),
    )
    cand = (
        ex.join(
            b,
            (F.col("sh") == F.col("b_sh"))
            & (F.col("lang") == F.col("b_lang"))
            & (F.col("sz") == F.col("b_sz"))
            & (F.col("doc_id") != F.col("nbr_id")),
        )
        # lang/sz in the group key: a (doc_id, text) pair CAN legitimately
        # recur across blocks (same text under two langs, or inconsistent
        # n_chars), and without the block columns the shared-shingle rows
        # of both blocks would merge and double-count `inter` (ADVICE
        # r13) — each block pair must aggregate independently, exactly as
        # the oracle's row-level join scores each row pair on its own
        .groupBy("doc_id", "rk", "lang", "sz", "n_s", "nbr_id", "b_rk", "b_n_s")
        .agg(F.count(F.lit(1)).alias("inter"))
        # |A∪B| = |A|+|B|−|A∩B|; int sizes, so inter/union is the exact
        # double dedup.jaccard computes from array_intersect/array_union
        .withColumn(
            "sim",
            F.col("inter") / (F.col("n_s") + F.col("b_n_s") - F.col("inter")),
        )
    )
    # zero-sim tail: two smallest DISTINCT doc ids per block cover the
    # "nearest is sim 0, lowest id" rows the all-pairs rank emitted
    ids = docs.select("lang", "sz", "doc_id").dropDuplicates()
    w2 = Window.partitionBy("lang", "sz").orderBy("doc_id")
    two = (
        ids.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= 2)
        .groupBy("lang", "sz")
        .agg(
            F.min("doc_id").alias("m1"),
            F.max("doc_id").alias("m2"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    fb = (
        ids.join(two, ["lang", "sz"])
        .where(F.col("k") >= 2)
        .select(
            "doc_id",
            F.when(F.col("doc_id") == F.col("m1"), F.col("m2"))
            .otherwise(F.col("m1"))
            .alias("nbr_id"),
            F.lit(0.0).alias("sim"),
        )
        .join(cand.select("doc_id").dropDuplicates(), "doc_id", "left_anti")
        # a doc_id's variant rows can sit in different blocks: keep the
        # lowest fallback peer across them (all sims are 0.0)
        .groupBy("doc_id")
        .agg(F.min("nbr_id").alias("nbr_id"), F.min("sim").alias("sim"))
    )
    pairs = cand.select("doc_id", "nbr_id", "sim").unionByName(
        fb.select("doc_id", "nbr_id", "sim")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("sim").desc(), F.col("nbr_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "nbr_id", F.round("sim", 6).alias("jaccard_sim"))
    )


@query(
    "approx_distinct_users",
    # Sketch estimates are engine-specific, so the hashed output carries the
    # EXACT counts plus booleans asserting the approx estimate landed inside
    # a generous rsd-derived bound (3× the 0.05 default / 0.01 requested
    # rsd). The oracle emits the same exact counts and literal TRUEs — a
    # drifted sketch flips a boolean and breaks the hash.
    oracle="""
    SELECT count(DISTINCT user_id) AS n_users_exact,
           TRUE AS users_within_bound,
           count(DISTINCT event_id) AS n_events_exact,
           TRUE AS events_within_bound
    FROM events
    """,
)
def approx_distinct_users(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    exact_u = F.countDistinct("user_id")
    exact_e = F.countDistinct("event_id")
    return ev.agg(
        exact_u.alias("n_users_exact"),
        (
            F.abs(F.approx_count_distinct("user_id") - exact_u) <= 0.15 * exact_u
        ).alias("users_within_bound"),
        exact_e.alias("n_events_exact"),
        (
            F.abs(F.approx_count_distinct("event_id", 0.01) - exact_e)
            <= 0.03 * exact_e
        ).alias("events_within_bound"),
    )


@query(
    "media_decode_rollup",
    # The stub payloads are deterministic functions of doc stats, so the
    # oracle replays the EXPECTED decode (width = 64 + n_chars % 64,
    # height = 64) straight from the documents table — an end-to-end check
    # that encode → binary header → mapInPandas decode round-trips exactly.
    # A NULL in any payload input nulls the whole byte concat — no
    # container, decode emits (NULL, NULL); the oracle nulls BOTH dims.
    oracle="""
    WITH ok AS (
      SELECT *, (text IS NOT NULL AND n_chars IS NOT NULL) AS built
      FROM documents
    )
    SELECT CAST(CASE WHEN built THEN 64 + n_chars % 64 END AS INT) AS width,
           CAST(CASE WHEN built THEN 64 END AS INT) AS height,
           count(*) AS n_media
    FROM ok GROUP BY width, height ORDER BY width
    """,
)
def media_decode_rollup(spark, sf_dir):
    """Fake-media pipeline over documents: text → stub binary payloads →
    mapInPandas decode → rollup by decoded dimensions."""
    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents")
    # Deterministic fake payloads: dimensions derived from doc stats.
    payload = F.concat(
        F.lit(b"FAKE"), F.lit(b"i"),
        # width = 64 + (n_chars % 64), height = 64, frames = 1 (4-byte BE each)
        F.expr("unhex(lpad(hex(64 + n_chars % 64), 8, '0'))"),
        F.expr("unhex(lpad(hex(64), 8, '0'))"),
        F.expr("unhex(lpad(hex(1), 8, '0'))"),
        F.encode("text", "UTF-8"),
    )
    media = mm.media_table(docs.select("doc_id", payload.alias("p")), "doc_id", "image", "p")
    meta = mm.decode_image_meta(media)
    return (
        meta.groupBy("width", "height")
        .agg(F.count(F.lit(1)).alias("n_media"))
        .orderBy("width")
    )


@query(
    "ppm_decode_rollup",
    # REAL format end-to-end: the P6 header is plain ASCII, so both
    # engines construct byte-identical payloads from doc stats; Spark
    # then decodes them through the pure-python PPM parser inside
    # mapInPandas while the oracle replays the expected dimensions.
    # NULL payload inputs -> no container -> (NULL, NULL) dims (see
    # media_decode_rollup).
    oracle="""
    WITH ok AS (
      SELECT *, (text IS NOT NULL AND n_chars IS NOT NULL
                 AND doc_id IS NOT NULL) AS built
      FROM documents
    )
    SELECT CAST(CASE WHEN built THEN 32 + n_chars % 32 END AS INT) AS width,
           CAST(CASE WHEN built THEN 16 + doc_id % 16 END AS INT) AS height,
           count(*) AS n_media
    FROM ok GROUP BY width, height ORDER BY width, height
    """,
)
def ppm_decode_rollup(spark, sf_dir):
    """Real-codec pipeline: documents → binary PPM (P6) payloads built
    JVM-side → mapInPandas header decode (``multimodal._parse_ppm``) →
    rollup by decoded dimensions."""
    from cryptocurrency_data_pipeline_spark.operators import multimodal as mm

    docs = t(spark, sf_dir, "documents")
    header = F.concat(
        F.lit("P6\n"),
        (F.lit(32) + F.col("n_chars") % 32).cast("string"),
        F.lit(" "),
        (F.lit(16) + F.col("doc_id") % 16).cast("string"),
        F.lit("\n255\n"),
    )
    payload = F.concat(F.encode(header, "UTF-8"), F.encode("text", "UTF-8"))
    media = mm.media_table(
        docs.select("doc_id", payload.alias("p")), "doc_id", "image", "p"
    )
    meta = mm.decode_image_meta(media)
    return (
        meta.groupBy("width", "height")
        .agg(F.count(F.lit(1)).alias("n_media"))
        .orderBy("width", "height")
    )


# --------------------------------------------------------------------------
# Session windows (T9): activity sessions per user with a 5-minute gap.
# Spark's session_window vs the classic gaps-and-islands SQL construction.
# --------------------------------------------------------------------------

@query(
    "session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             -- STRICT >: Spark's session_window merges an event landing
             -- EXACTLY gap after its predecessor (the window end
             -- start+gap is treated as mergeable, not past-the-end), so
             -- only a gap strictly beyond 5 minutes opens a session.
             -- Latent until the sfnum fixture planted a 10:00/10:05
             -- pair: >= here split it while Spark kept one session.
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM o
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sess_id
    """,
)
def session_windows(spark, sf_dir):
    # NULL event times belong to no session (session_window drops them;
    # the explicit filter is mirrored in the oracle).
    ev = t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# DQDL row-level routing (A12/P8/W2): per-row Passed/Failed verdicts with an
# IsPrimaryKey window check, on data with injected duplicate keys.
# --------------------------------------------------------------------------

@query(
    "dqdl_row_level_routing",
    oracle="""
    WITH aug AS (
      SELECT * FROM orders
      UNION ALL SELECT * FROM orders WHERE o_orderkey % 100 = 0
    ), r AS (
      SELECT o_totalprice, count(*) OVER (PARTITION BY o_orderkey) AS kc FROM aug
    )
    SELECT CASE WHEN kc = 1 AND o_totalprice IS NOT NULL AND o_totalprice > 0
                THEN 'Passed' ELSE 'Failed' END AS dq_result,
           count(*) AS n_rows
    FROM r GROUP BY 1
    """,
)
def dqdl_row_level_routing(spark, sf_dir):
    """Rules arrive as a DQDL text ruleset (the reference's contract,
    glue/data_quality_dqdl.py:67-87) parsed by operators/dqdl.py — not as
    Python-declared checks."""
    from cryptocurrency_data_pipeline_spark.operators import dqdl

    ruleset = """
    Rules = [
        ColumnValues "o_totalprice" > 0,
        IsPrimaryKey "o_orderkey"
    ]
    """
    orders = t(spark, sf_dir, "orders")
    aug = orders.unionByName(orders.filter(F.col("o_orderkey") % 100 == 0))
    tagged = dqdl.row_verdict(aug, dqdl.parse_ruleset(ruleset))
    return tagged.groupBy("dq_result").agg(F.count(F.lit(1)).alias("n_rows"))


# --------------------------------------------------------------------------
# Top-k per group (W3/O3 composed): rank-within-partition + filter compiles
# to a partial WindowGroupLimit below the shuffle (Spark 3.5+), so each map
# task forwards at most k rows per key instead of its whole partition —
# the per-group analog of TakeOrderedAndProject. Absent in the reference
# (top-k is delegated to the API, glue/data_ingestion_s3.py:22).
# --------------------------------------------------------------------------

@query(
    "top_orders_per_customer",
    oracle="""
    SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS total_price, rnk
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY c_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    WHERE rnk <= 3
    """,
)
def top_orders_per_customer(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# Pivot (A13 family): long→wide with a STATIC value list. Implemented as
# one-pass conditional aggregation (count(when(type=v,1))) rather than
# DataFrame.pivot(): pivot() — even with explicit values — compiles to
# groupBy(day,type) + pivotfirst(day), i.e. TWO shuffles; the conditional
# agg is one map-side-combinable shuffle on `day` alone. An explicit value
# list also keeps the output schema static (no values-discovery scan — at
# 100 TB that discovery pass would read the whole fact table first).
# --------------------------------------------------------------------------

@query(
    "event_type_daily_pivot",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'error')    AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'view')     AS view
    FROM events GROUP BY day
    """,
)
def event_type_daily_pivot(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    return ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        *[
            F.count(F.when(F.col("event_type") == k, F.lit(1))).alias(k)
            for k in kinds
        ]
    )


# --------------------------------------------------------------------------
# Exact percentiles (A4-A10 family extension): linear-interpolated
# quantiles per group in ONE aggregate pass (Spark `percentile` takes an
# array of fractions → single sort-based agg per group, not one pass per
# quantile). DuckDB quantile_cont uses the same interpolation rule.
# --------------------------------------------------------------------------

@query(
    "order_price_percentiles",
    # Percentiles over FINITE prices only (NaN/Inf carry no rank
    # information and the engines disagree on their placement); n stays
    # count(*) so the degraded rows remain visible in the group size.
    oracle=f"""
    SELECT o_orderpriority,
           round(quantile_cont(CASE WHEN {finite_sql('o_totalprice')} THEN o_totalprice END, 0.25), 4) AS p25,
           round(quantile_cont(CASE WHEN {finite_sql('o_totalprice')} THEN o_totalprice END, 0.50), 4) AS p50,
           round(quantile_cont(CASE WHEN {finite_sql('o_totalprice')} THEN o_totalprice END, 0.75), 4) AS p75,
           round(quantile_cont(CASE WHEN {finite_sql('o_totalprice')} THEN o_totalprice END, 0.90), 4) AS p90,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def order_price_percentiles(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    fin_price = F.when(finite("o_totalprice"), F.col("o_totalprice"))
    pct = F.percentile(fin_price, F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.9)]))
    return orders.groupBy("o_orderpriority").agg(
        F.round(pct[0], 4).alias("p25"),
        F.round(pct[1], 4).alias("p50"),
        F.round(pct[2], 4).alias("p75"),
        F.round(pct[3], 4).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# TPC-H Q5-shape: local-supplier volume — fact⋈fact (lineitem⋈orders) with
# TWO dim lookups on DIFFERENT keys (customer nation vs supplier nation)
# and a same-nation theta condition. Plan: broadcast all dims, pre-filter
# orders by date (parquet pushdown), single orderkey shuffle for the
# fact-to-fact join; the c_nationkey = s_nationkey filter runs map-side
# after both broadcasts — no extra shuffle.
# --------------------------------------------------------------------------

@query(
    "local_supplier_volume",
    oracle="""
    SELECT n_name AS nation_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE c_nationkey = s_nationkey
      AND o_orderdate >= DATE '1995-01-01'
    GROUP BY n_name
    """,
)
def local_supplier_volume(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("date")
    )
    customer = t(spark, sf_dir, "customer")
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    li_s = li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey).select(
        "l_orderkey",
        "s_nationkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"),
    )
    ord_c = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("o_orderkey", "c_nationkey", "n_name")
    )
    return (
        li_s.join(ord_c, li_s.l_orderkey == ord_c.o_orderkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.round(F.sum("__rev"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# Cross-nation volume shipping (TPC-H Q7 shape): revenue flowing between
# a block of nations in BOTH directions, by supplier nation x customer
# nation x ship year.  The classic two-dimension star: both dimension
# paths (supplier->nation, customer->nation) are FILTERED before the
# fact join, so the broadcast prunes lineitem early; the only data-sized
# exchange is the orderkey fact-to-fact join + the final rollup.
# --------------------------------------------------------------------------

@query(
    "volume_shipping_nation_pairs",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum({cents_sql('l_extendedprice * (1 - l_discount)')})
             AS BIGINT) AS revenue_cents,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE s_nationkey <= 4 AND c_nationkey <= 4
      AND s_nationkey != c_nationkey
    GROUP BY 1, 2, 3
    """,
)
def volume_shipping_nation_pairs(spark, sf_dir):
    nation = t(spark, sf_dir, "nation").filter(F.col("n_nationkey") <= 4)
    sup = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", F.col("n_name").alias("supp_nation"))
    )
    cus = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey", F.col("n_name").alias("cust_nation"))
    )
    li = t(spark, sf_dir, "lineitem").join(
        F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
    )
    ord_c = t(spark, sf_dir, "orders").join(
        F.broadcast(cus), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        li.join(ord_c, li.l_orderkey == ord_c.o_orderkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            # Cents-quantized per row BEFORE the sum: double summation is
            # order-sensitive across engines and round(,2) can land on
            # opposite sides of a .005 boundary; integer cents are exact.
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("long")
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# Returned-item revenue loss (TPC-H Q10 shape): which customers returned
# the most value in the window — l_returnflag pushed into the lineitem
# scan, date filter into the orders scan, customer attached by broadcast,
# top-20 by lost revenue compiles to TakeOrderedAndProject.
# --------------------------------------------------------------------------

@query(
    "returned_item_top_customers",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(sum({cents_sql('l_extendedprice * (1 - l_discount)')})
             AS BIGINT) AS revenue_lost_cents,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE l_returnflag = 'R' AND o_orderdate >= DATE '1995-01-01'
    GROUP BY 1, 2
    ORDER BY revenue_lost_cents DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_top_customers(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("date")
    )
    customer = t(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("long")
            .alias("revenue_lost_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue_lost_cents").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Duplicate CLUSTERS: connected components over the MinHash near-dup pair
# graph (operators/graph.py — iterative min-label propagation, one shuffle
# per round), then keep ONE canonical doc per cluster (longest text,
# doc_id tiebreak). This is the op that makes near-dup removal correct on
# transitive chains A~B~C. Oracle: same pair SQL + a recursive CTE
# computing min-reachable-label components.
# --------------------------------------------------------------------------

@query(
    "dup_clusters",
    oracle=f"""
    WITH RECURSIVE {minhash_sig_ctes()}, {minhash_bands_cte()}, {minhash_cand_cte()}, pairs AS (
      SELECT a_id, b_id
      FROM cand JOIN hs x ON cand.a_id = x.doc_id JOIN hs y ON cand.b_id = y.doc_id
      WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
            / len(list_distinct(list_concat(x.s, y.s))) >= 0.1
    ), edges AS (
      SELECT a_id AS a, b_id AS b FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ), walk(node, lab) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
    ), comp AS (
      SELECT node, min(lab) AS cluster_id FROM walk GROUP BY node
    ), mem AS (
      SELECT node, cluster_id, length(text) AS len
      FROM comp JOIN documents ON node = doc_id
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY cluster_id ORDER BY len DESC, node ASC) AS rn
      FROM mem
    )
    SELECT cluster_id, count(*) AS n_members,
           array_to_string(list_sort(list(node)), ',') AS member_ids,
           min(node) FILTER (rn = 1) AS kept_doc_id
    FROM ranked GROUP BY cluster_id
    """,
)
def dup_clusters(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import dedup, graph

    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(docs, threshold=0.1, bands=4, n=3)
    cc = graph.connected_components(pairs, "a_id", "b_id")
    members = cc.join(docs, cc.node == docs.doc_id).select(
        "node", "cluster_id", F.length("text").alias("__len")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__len").desc(), F.col("node").asc()
    )
    return (
        members.withColumn("__rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.concat_ws(",", F.sort_array(F.collect_list("node"))).alias(
                "member_ids"
            ),
            F.min(F.when(F.col("__rn") == 1, F.col("node"))).alias("kept_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# Vocabulary building (text.term_doc_counts + vocab_stats): the classic
# corpus-statistics shuffle. Two partial-agged shuffles — (doc,token)
# collapses repeats map-side, then token-keyed stats — and a top-k that
# compiles to TakeOrderedAndProject (no global sort of the vocabulary).
# --------------------------------------------------------------------------

@query(
    "vocab_top_terms",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                        t -> t <> '')) AS token
      FROM documents
    ), dt AS (
      SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
    )
    SELECT token, CAST(sum(tf) AS BIGINT) AS term_freq, count(*) AS doc_freq
    FROM dt GROUP BY token
    ORDER BY doc_freq DESC, token ASC
    LIMIT 100
    """,
)
def vocab_top_terms(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import text

    counts = text.term_doc_counts(t(spark, sf_dir, "documents"))
    return (
        text.vocab_stats(counts)
        .orderBy(F.col("doc_freq").desc(), F.col("token").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# TF-IDF (text.tfidf): smoothed scores, then the top-scoring term per
# document. N stays in-plan (1-row broadcast, no driver constant); the
# token join's small side is the vocab stats; per-doc argmax runs as a
# partial WindowGroupLimit below the doc_id shuffle.
# --------------------------------------------------------------------------

@query(
    "tfidf_top_term_per_doc",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(replace(lower(replace(text, 'İ', 'I')), 'ς', 'σ'), '[ \t\n\x0B\f\r]+'),
                                        t -> t <> '')) AS token
      FROM documents
    ), dt AS (
      SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
    ), vs AS (
      SELECT token, count(*) AS doc_freq FROM dt GROUP BY token
    ), scored AS (
      SELECT dt.doc_id, dt.token, dt.tf,
             dt.tf * (ln((1 + (SELECT count(*) FROM documents))
                         / CAST(1 + vs.doc_freq AS DOUBLE)) + 1.0) AS score
      FROM dt JOIN vs ON dt.token = vs.token
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rn
      FROM scored
    )
    SELECT doc_id, token, tf, round(score, 6) AS tfidf
    FROM ranked WHERE rn = 1
    """,
)
def tfidf_top_term_per_doc(spark, sf_dir):
    from cryptocurrency_data_pipeline_spark.operators import text

    docs = t(spark, sf_dir, "documents")
    # Persisted: tfidf references the (doc, token) counts on both the
    # vocab side and the scoring join — uncached the tokenize explode
    # and its groupBy ran twice per action.
    counts = caching.persist(text.term_doc_counts(docs))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = text.tfidf(counts, n_docs)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "token", "tf", F.round("score", 6).alias("tfidf"))
    )


# --------------------------------------------------------------------------
# SQL API surface: the engine's tables are exposed as temp views and the
# whole query runs through spark.sql — same Catalyst plan as the
# DataFrame API (TPC-H Q3 shape: top unshipped-revenue orders). Proves a
# reference user can keep writing plain SQL against this engine.
# --------------------------------------------------------------------------

@query(
    "sql_api_shipping_priority",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1998-06-01'
      AND l_shipdate > DATE '1998-06-01'
    GROUP BY o_orderkey, order_date, o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def sql_api_shipping_priority(spark, sf_dir):
    for name in ("customer", "orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT o_orderkey,
               date_format(CAST(o_orderdate AS DATE), 'yyyy-MM-dd') AS order_date,
               o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < DATE '1998-06-01'
          AND l_shipdate > DATE '1998-06-01'
        GROUP BY o_orderkey, order_date, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
        """
    )


# --------------------------------------------------------------------------
# Per-label embedding centroids: dimension-PARALLEL vector mean
# (posexplode → (label, dim) partial-agged shuffle → rebuild ordered
# array). No driver-side numpy, no whole-vector state per group — at
# 100 TB the (label × dim) keyspace shards evenly across executors even
# when one label dominates the corpus.
# --------------------------------------------------------------------------

@query(
    "label_centroids",
    oracle="""
    WITH p AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding) AS v
      FROM embeddings
    ), c AS (
      SELECT label, pos,
             -- TRY_CAST mirrors the Spark side: a centroid cell whose
             -- micro-unit quantization exceeds int64 is NULL, never an
             -- overflow error
             TRY_CAST(round(avg(v) * 1000000) AS BIGINT) AS m
      FROM p GROUP BY label, pos
    ), n AS (
      SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label
    )
    SELECT c.label, any_value(n.n_vecs) AS n_vecs,
           -- coalesce: concat_ws renders an all-NULL centroid as '',
           -- array_to_string as NULL
           coalesce(array_to_string(list(m ORDER BY pos), ','), '') AS centroid
    FROM c JOIN n ON c.label = n.label
    GROUP BY c.label
    """,
)
def label_centroids(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        # Integer micro-units: float->string formatting differs across
        # engines, so the stringified centroid is comma-joined round(avg*1e6)
        # bigints — exact-matchable against the DuckDB oracle.  try_cast:
        # a cell past int64 (degenerate-magnitude embeddings) is NULL,
        # not an ANSI overflow that kills the job.
        .agg(F.round(F.avg("v") * 1e6).try_cast("long").alias("m"))
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        per_dim.groupBy("label")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m.cast("string"),
                ),
            ).alias("centroid")
        )
        .join(counts, "label")
        .select("label", "n_vecs", "centroid")
    )


# --------------------------------------------------------------------------
# Deterministic hash-stratified sampling: keep docs whose md5(doc_id)
# leads with hex digit 0-2 (≈3/16 per stratum). rand()-free → the sample
# is reproducible across runs, engines, and cluster sizes — the only
# defensible way to subsample a 100 TB corpus for training (a rand()
# sample changes under retry/speculative execution).
# --------------------------------------------------------------------------

@query(
    "stratified_sample_docs",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           count(*) FILTER (substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                            IN ('0','1','2')) AS n_sampled,
           round(avg(n_chars) FILTER (
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2')), 6
           ) AS sampled_avg_chars
    FROM documents GROUP BY lang
    """,
)
def stratified_sample_docs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    in_sample = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2"
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(in_sample, 1)).alias("n_sampled"),
        F.round(F.avg(F.when(in_sample, F.col("n_chars"))), 6).alias(
            "sampled_avg_chars"
        ),
    )


# --------------------------------------------------------------------------
# GROUPING SETS (A13 completion beyond rollup/cube): two independent
# 1-dim subtotal sets + grand total in ONE pass — Catalyst expands to a
# single Expand + hash agg, i.e. one shuffle instead of three separate
# groupBys unioned. grouping() flags disambiguate subtotal rows from
# genuine NULL keys.
# --------------------------------------------------------------------------

@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT n_name AS nation_name, o_orderpriority AS priority,
           GROUPING(n_name) AS g_nation,
           GROUPING(o_orderpriority) AS g_priority,
           round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    -- HAVING count(*) > 0 is a no-op on any non-empty input (every
    -- rollup/cube/grouping-set row aggregates >= 1 source row) and
    -- mirrors Spark's empty-input behavior: Spark emits NO grand-total
    -- row over an empty table, the SQL standard (and DuckDB) emit one.
    GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
    HAVING count(*) > 0
    """,
)
def grouping_sets_revenue(spark, sf_dir):
    for name in ("orders", "customer", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT n_name AS nation_name, o_orderpriority AS priority,
               CAST(grouping(n_name) AS INT) AS g_nation,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# Full-outer alignment (U-family completion): purchase-days vs error-days.
# Both sides pre-aggregate to per-day partials BEFORE the join, so the
# full-outer matches tiny frames (one row/day) — never raw events.
# --------------------------------------------------------------------------

@query(
    "purchase_vs_error_days",
    oracle="""
    WITH p AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY day
    ), e AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n_errors
      FROM events WHERE event_type = 'error' GROUP BY day
    )
    SELECT coalesce(p.day, e.day) AS day,
           coalesce(n_purchases, 0) AS n_purchases,
           coalesce(n_errors, 0) AS n_errors
    FROM p FULL OUTER JOIN e ON p.day = e.day
    """,
)
def purchase_vs_error_days(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )

    def per_day(etype, out):
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias(out))
        )

    p = per_day("purchase", "n_purchases")
    e = per_day("error", "n_errors").withColumnRenamed("day", "e_day")
    return p.join(e, p.day == e.e_day, "full_outer").select(
        F.coalesce("day", "e_day").alias("day"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
    )


# --------------------------------------------------------------------------
# EXISTS / NOT EXISTS composition: customers with ≥1 urgent order and no
# low-priority orders — a semi join and an anti join stacked on the same
# key, both on the customer partitioning (DataFrame side shows the
# relational-algebra form of the oracle's correlated subqueries).
# --------------------------------------------------------------------------

@query(
    "urgent_only_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '5-LOW')
    """,
)
def urgent_only_customers(spark, sf_dir):
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    low = orders.filter(F.col("o_orderpriority") == "5-LOW")
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .join(low, F.col("c_custkey") == low.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


# --------------------------------------------------------------------------
# Per-user z-score anomaly flagging: windowed mean/stddev per user, flag
# |z| > 2.5 events. One user_id shuffle computes the stats AND scores
# every row (window agg, not a groupBy + re-join — half the passes over
# the fact). The numeric-outlier analog of the DQ threshold rules
# (streaming/consumer.py:47-57).
# --------------------------------------------------------------------------

@query(
    "value_zscore_anomalies",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, value,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             stddev_samp(value) OVER (PARTITION BY user_id) AS sd,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events WHERE {finite_sql('value')}
    )
    SELECT user_id, event_id, round(value, 6) AS value,
           round((value - mu) / sd, 6) AS zscore
    FROM s
    WHERE n >= 10 AND sd > 0 AND abs((value - mu) / sd) > 2.5
    """,
)
def value_zscore_anomalies(spark, sf_dir):
    # Finite values only: a NaN value would otherwise NaN-flood mu/sd
    # for the whole user (and DuckDB's stddev hard-errors on it).
    ev = t(spark, sf_dir, "events").filter(finite("value"))
    w = Window.partitionBy("user_id")
    scored = ev.select(
        "user_id",
        "event_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).withColumn("zscore", (F.col("value") - F.col("mu")) / F.col("sd"))
    return scored.filter(
        (F.col("n") >= 10) & (F.col("sd") > 0) & (F.abs("zscore") > 2.5)
    ).select(
        "user_id",
        "event_id",
        F.round("value", 6).alias("value"),
        F.round("zscore", 6).alias("zscore"),
    )


# --------------------------------------------------------------------------
# Next-day retention cohorts: users active on day D who return on D+1.
# Both sides of the self-join come from ONE distinct (user, day) agg —
# the frame is reused (Spark persists nothing, but the exchange is
# identical on both branches, so AQE reuses the shuffle) and the join key
# includes the day arithmetic, not a cross-day blowup.
# --------------------------------------------------------------------------

@query(
    "next_day_retention",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT CAST(a.day AS VARCHAR) AS day,
           count(*) AS n_active,
           count(b.user_id) AS n_retained,
           round(CAST(count(b.user_id) AS DOUBLE) / count(*), 6) AS retention
    FROM ud a
    LEFT JOIN ud b ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
    GROUP BY a.day
    """,
)
def next_day_retention(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    nxt = ud.select(
        F.col("user_id").alias("r_user"), F.date_sub("day", 1).alias("r_day")
    )
    return (
        ud.join(
            nxt,
            (ud.user_id == nxt.r_user) & (ud.day == nxt.r_day),
            "left_outer",
        )
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count("r_user").alias("n_retained"),
            F.round(
                F.count("r_user") / F.count(F.lit(1)), 6
            ).alias("retention"),
        )
    )


