"""Q9–Q26 — the relational query surface (SURVEY.md §2.2/§2.3).

Absent from the reference (it is a dataflow engine, not a SQL engine);
ships here because Catalyst gives joins/aggregations/windows/set-ops
natively, and the north star requires query capability over the
ingested Parquet. Every query is a declarative DataFrame plan: filter
pushdown, column pruning, join ordering, and partial aggregation come
from the optimizer, not hand-scheduling.

Scale notes inline per query; the recurring ones:
- dimension joins broadcast (explicit ``F.broadcast`` on region/nation/
  supplier) — no shuffle of the fact side at any SF;
- aggregates are hash aggregates with map-side partials — shuffle
  volume is O(groups), not O(rows);
- window functions shuffle once on the partition key, then sort within
  partitions — the per-customer windows here key on o_custkey, which is
  high-cardinality and unskewed, so AQE has nothing to fix.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..functions import disc_price, int_e, ts_lit
from . import register


@register(
    "q09_join_groupcount",
    oracle="""
        SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name
    """,
    doc="Equi inner join (broadcast dim) + hash aggregate.",
    tags=("relational", "join"),
)
def q09_join_groupcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    # nation is constant-size (25 rows at every SF): broadcast means the
    # customer side never shuffles for this join.
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("cnt"))
        .orderBy("n_name")
    )


@register(
    "q10_revenue_per_nation",
    oracle="""
        SELECT n.n_name,
               CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(15,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(15,2))))
                          * 100) AS BIGINT) AS revenue_e2,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey   = c.c_custkey
        JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
        JOIN supplier s ON s.s_suppkey   = l.l_suppkey
                       AND s.s_nationkey = c.c_nationkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n.n_name
        ORDER BY revenue_e2 DESC, n_name
    """,
    doc="TPC-H Q5 local-supplier-volume 6-way multi-join: region filter, "
    "date range, supplier nation = customer nation; revenue summed as "
    "exact DECIMAL, so half-cent totals round the same in both engines.",
    tags=("relational", "join", "flagship"),
)
def q10_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders")
    orders = orders.filter(
        (F.col("o_orderdate") >= ts_lit(orders, "o_orderdate", "1996-01-01"))
        & (F.col("o_orderdate") < ts_lit(orders, "o_orderdate", "1997-01-01"))
    )
    lineitem = table(spark, sf_dir, "lineitem")
    # Join order: prune customers down via broadcast region→nation first,
    # then hit the fact tables; lineitem (the 100 TB table) joins last
    # against an already-filtered orders set. The date-range predicate is
    # a raw column comparison => pushed to the orders parquet scan.
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    cust = customer.join(
        F.broadcast(asia_nations),
        customer.c_nationkey == asia_nations.n_nationkey,
    ).select("c_custkey", "n_nationkey", "n_name")
    ord_f = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "n_nationkey", "n_name"
    )
    # No broadcast hint on supplier: it scales with SF (TPC-H SF×10k
    # rows, ~140 GB at a 100 TB SF), so a literal hint would override
    # stats and OOM at scale where AQE/stats-based planning picks the
    # broadcast only while the side actually fits.
    li = lineitem.join(
        supplier, lineitem.l_suppkey == supplier.s_suppkey
    ).select("l_orderkey", "l_extendedprice", "l_discount", "s_nationkey")
    # Q5's local-supplier condition (supplier and customer share a
    # nation) rides the same l_orderkey shuffle as an extra equi-key —
    # no additional exchange.
    return (
        li.join(
            ord_f,
            (li.l_orderkey == ord_f.o_orderkey)
            & (li.s_nationkey == ord_f.n_nationkey),
        )
        .groupBy("n_name")
        .agg(
            int_e(F.sum(disc_price()), 2).alias("revenue_e2"),
            F.count("*").alias("cnt"),
        )
        .orderBy(F.desc("revenue_e2"), "n_name")
    )


@register(
    "q11_left_join_counts",
    oracle="""
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS cnt
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
        ORDER BY c.c_custkey
    """,
    doc="Left outer join preserving customers with zero orders.",
    tags=("relational", "join"),
)
def q11_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("cnt"))
        .orderBy("c_custkey")
    )


@register(
    "q12_semi_join",
    oracle="""
        SELECT c_custkey
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
        ORDER BY c_custkey
    """,
    doc="Left-semi join: customers with at least one URGENT order.",
    tags=("relational", "join"),
)
def q12_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    # left_semi stops probing at first match — no row multiplication,
    # and the priority filter is pushed into the orders scan.
    return (
        customer.join(
            urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q13_anti_join",
    oracle="""
        SELECT c_custkey
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
        ORDER BY c_custkey
    """,
    doc="Left-anti join: customers with no URGENT order.",
    tags=("relational", "join"),
)
def q13_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        customer.join(
            urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q14_broadcast_join",
    oracle="""
        SELECT s.s_name,
               CAST(round(SUM(l.l_extendedprice) * 100) AS BIGINT) AS gross_e2,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY s.s_name
        ORDER BY s.s_name
    """,
    doc="Broadcast join: the 100 TB fact never shuffles for a small dim.",
    tags=("relational", "join", "broadcast"),
)
def q14_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # Reduce the dims first. nation (25 rows) and region (5 rows) are
    # fixed-cardinality at every SF, so their broadcast hints are
    # genuinely bounded. eu_suppliers, by contrast, derives from
    # supplier (SF×10k rows) — no literal hint on it: at small SF the
    # stats estimate is far under autoBroadcastJoinThreshold so the
    # planner still picks BroadcastHashJoin (the plan test asserts
    # this), and at 100 TB AQE falls back to a shuffle join instead of
    # OOMing on a forced broadcast.
    eu_suppliers = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    return (
        lineitem.join(
            eu_suppliers,
            lineitem.l_suppkey == eu_suppliers.s_suppkey,
        )
        .groupBy("s_name")
        .agg(
            int_e(F.sum("l_extendedprice"), 2).alias("gross_e2"),
            F.count("*").alias("cnt"),
        )
        .orderBy("s_name")
    )


@register(
    "q15_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(round(SUM(l_quantity) * 100) AS BIGINT) AS sum_qty_e2,
               CAST(round(SUM(l_extendedprice) * 100) AS BIGINT)
                   AS sum_base_price_e2,
               CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                              * (1 - CAST(l_discount AS DECIMAL(15,2))))
                          * 100) AS BIGINT) AS sum_disc_price_e2,
               CAST(round(AVG(l_discount) * 10000) AS BIGINT) AS avg_disc_e4,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped full-scan hash aggregate (map-side partials); "
    "the discounted price is summed as exact DECIMAL.",
    tags=("relational", "aggregate", "flagship"),
)
def q15_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            F.col("l_shipdate") <= ts_lit(lineitem, "l_shipdate", "1998-09-02")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            int_e(F.sum("l_quantity"), 2).alias("sum_qty_e2"),
            int_e(F.sum("l_extendedprice"), 2).alias("sum_base_price_e2"),
            int_e(F.sum(disc_price()), 2).alias("sum_disc_price_e2"),
            int_e(F.avg("l_discount"), 4).alias("avg_disc_e4"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q16_distinct_agg",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_customers
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="Distinct aggregate (two-phase: partial distinct, then merge).",
    tags=("relational", "aggregate"),
)
def q16_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("distinct_customers"))
        .orderBy("o_orderpriority")
    )


@register(
    "q17_rollup",
    oracle="""
        SELECT n_regionkey, n_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM nation
        GROUP BY ROLLUP(n_regionkey, n_nationkey)
        ORDER BY n_regionkey NULLS FIRST, n_nationkey NULLS FIRST
    """,
    doc="Hierarchical rollup (grand total + per-region + per-nation).",
    tags=("relational", "aggregate"),
)
def q17_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "nation")
        .rollup("n_regionkey", "n_nationkey")
        .agg(F.count("*").alias("cnt"))
        .orderBy(
            F.asc_nulls_first("n_regionkey"), F.asc_nulls_first("n_nationkey")
        )
    )


@register(
    "q18_topk_per_group",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        )
        WHERE rn <= 3
        ORDER BY o_custkey, rn
    """,
    doc="Top-3 orders per customer via ranking window.",
    tags=("relational", "window"),
)
def q18_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


@register(
    "q19_running_sum",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(round(SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) * 100) AS BIGINT) AS running_total_e2
        FROM orders
        ORDER BY o_custkey, o_orderkey
    """,
    doc="Analytic window with explicit ROWS frame (running total).",
    tags=("relational", "window"),
)
def q19_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            int_e(F.sum("o_totalprice").over(w), 2).alias("running_total_e2"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "q20_lag_delta",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(round((o_totalprice - lag(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               )) * 100) AS BIGINT) AS delta_e2
        FROM orders
        ORDER BY o_custkey, o_orderkey
    """,
    doc="lag(): per-customer delta of consecutive order totals.",
    tags=("relational", "window"),
)
def q20_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            int_e(
                F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2
            ).alias("delta_e2"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "q21_global_topk",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject (per-partition "
    "heaps, no full sort) — the O(n) top-k that survives 100 TB.",
    tags=("relational", "sort"),
)
def q21_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q22_intersect",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey
    """,
    doc="Set op: nations having both customers and suppliers.",
    tags=("relational", "setop"),
)
def q22_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp).orderBy("nationkey")


@register(
    "q22_except",
    oracle="""
        SELECT o_custkey AS custkey FROM orders
        EXCEPT
        SELECT o_custkey AS custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
        ORDER BY custkey
    """,
    doc="Set op: customers who ordered but never with URGENT priority. "
    "(Previously nations-with-customers-minus-nations-with-suppliers, "
    "which is structurally empty — every TPC-H nation has both — so "
    "the entry's green rows were vacuous; round-8 fix keeps the "
    "EXCEPT-DISTINCT obligation with a non-empty result at every SF.)",
    tags=("relational", "setop"),
)
def q22_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    ordered = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderpriority"
    )
    urgent = ordered.where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("custkey")
    # subtract == EXCEPT DISTINCT (exceptAll would keep multiplicity).
    return ordered.select("custkey").subtract(urgent).orderBy("custkey")


@register(
    "q23_scalar_funcs",
    oracle="""
        SELECT o.o_orderkey,
               upper(n.n_name) AS nation_upper,
               substr(n.n_name, 1, 3) AS nation_pre,
               CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
               CAST(round(o.o_totalprice) AS BIGINT) AS price_rounded
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        ORDER BY o.o_orderkey
    """,
    doc="Scalar string/date/math functions over a joined row set.",
    tags=("relational", "scalar"),
)
def q23_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "o_orderkey",
            F.upper("n_name").alias("nation_upper"),
            F.substring("n_name", 1, 3).alias("nation_pre"),
            F.year("o_orderdate").alias("order_year"),
            int_e("o_totalprice", 0).alias("price_rounded"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q24_tumbling_window",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    doc="1-hour tumbling window counts (batch twin of the streaming agg).",
    tags=("relational", "window", "streaming-twin"),
)
def q24_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # window() is the same expression batch and streaming — this exact
    # plan re-runs under readStream with a watermark (streaming/windows.py).
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
        )
        .orderBy("window_start")
    )


@register(
    "q25_session_window",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS sid
            FROM gaps
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM sess
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    doc="Session windows (30-min gap) per user — session_window() in "
    "Spark vs. the classic gaps-and-islands SQL in the oracle.",
    tags=("relational", "window", "streaming-twin"),
)
def q25_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "cnt",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "q26_sliding_window",
    oracle="""
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT unnest([
                date_trunc('hour', ts) - INTERVAL 1 HOUR,
                date_trunc('hour', ts)
            ]) AS wstart
            FROM events
        )
        GROUP BY 1
        ORDER BY 1
    """,
    doc="2-hour window sliding by 1 hour: each event lands in 2 windows.",
    tags=("relational", "window", "streaming-twin"),
)
def q26_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
        )
        .orderBy("window_start")
    )
