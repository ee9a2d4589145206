"""Q35+ — statistical aggregates, percentiles, grouping sets, pivot.

All two-phase hash aggregates (partial map-side, merge reduce-side);
percentile is the exception — exact percentile needs the group's full
value set, so it is the one aggregate whose shuffle is O(rows). The
approx_percentile variant (sketch-mergeable, O(1) memory) is the
100 TB path; both ship, mirroring the exact/approx pairing used for
dedup and similarity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..functions import int_e
from . import register


@register(
    "q35_stats_aggs",
    oracle="""
        SELECT l_returnflag,
               CAST(round(stddev_samp(l_extendedprice) * 100) AS BIGINT)
                   AS price_stddev_e2,
               CAST(round(var_samp(l_discount) * 1000000) AS BIGINT)
                   AS disc_var_e6,
               CAST(round(covar_samp(l_quantity, l_extendedprice) * 100)
                   AS BIGINT) AS qty_price_covar_e2,
               CAST(round(corr(l_quantity, l_extendedprice) * 10000)
                   AS BIGINT) AS qty_price_corr_e4,
               CAST(round(MIN(l_extendedprice) * 100) AS BIGINT)
                   AS min_price_e2,
               CAST(round(MAX(l_extendedprice) * 100) AS BIGINT)
                   AS max_price_e2
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    doc="Statistical aggregates: stddev/variance/covariance/correlation.",
    tags=("relational", "aggregate", "stats"),
)
def q35_stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            int_e(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev_e2"),
            int_e(F.var_samp("l_discount"), 6).alias("disc_var_e6"),
            int_e(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "qty_price_covar_e2"
            ),
            int_e(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr_e4"
            ),
            int_e(F.min("l_extendedprice"), 2).alias("min_price_e2"),
            int_e(F.max("l_extendedprice"), 2).alias("max_price_e2"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q36_percentiles",
    oracle="""
        SELECT o_orderpriority,
               CAST(round(quantile_cont(o_totalprice, 0.5) * 100) AS BIGINT)
                   AS p50_e2,
               CAST(round(quantile_cont(o_totalprice, 0.9) * 100) AS BIGINT)
                   AS p90_e2,
               CAST(round(quantile_cont(o_totalprice, 0.99) * 100) AS BIGINT)
                   AS p99_e2
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="Exact continuous percentiles (Spark percentile ≡ DuckDB "
    "quantile_cont), all three from ONE array-valued percentile "
    "aggregate: one value→count buffer per group, not one per "
    "percentage. Exact needs the full group in memory — see "
    "q37_approx_percentiles for the sketch-based scale path.",
    tags=("relational", "aggregate", "stats"),
)
def q36_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.percentile("o_totalprice", [0.5, 0.9, 0.99]).alias("p"))
        .select(
            "o_orderpriority",
            int_e(F.col("p")[0], 2).alias("p50_e2"),
            int_e(F.col("p")[1], 2).alias("p90_e2"),
            int_e(F.col("p")[2], 2).alias("p99_e2"),
        )
        .orderBy("o_orderpriority")
    )


#: Histogram-sketch bucket width for q37 (o_totalprice spans
#: [1 000, 500 000] → ≤ 250 buckets/group; measured estimate error
#: < 0.9% at sf0.001/0.01/0.1, well inside the 5% invariant bound).
Q37_BUCKET = 2000.0


def _q37_oracle() -> str:
    from ..operators.sketches import hist_quantiles_sql

    return hist_quantiles_sql(
        "orders",
        "o_orderpriority",
        "o_totalprice",
        Q37_BUCKET,
        ((1, 2, "p50"), (9, 10, "p90")),
        extra_cols=", CAST(MAX(n) AS BIGINT) AS n_orders",
    )


@register(
    "q37_approx_percentiles",
    oracle=_q37_oracle(),
    doc="Approximate percentiles via the DETERMINISTIC fixed-width "
    "histogram sketch (operators.sketches.hist_quantiles_by): bucket "
    "counts are a commutative monoid (the mergeable O(buckets)-memory "
    "shape that replaces exact percentile at 100 TB), the estimate is "
    "the selected bucket's exact-integer upper bound — no doubles in "
    "the output, hash-verifiable end to end (r5 verdict #3). Spark's "
    "native approx_percentile (GK sketch) remains the production "
    "library surface, pinned by the <5%-error invariant test "
    "(test_operators_quality).",
    tags=("relational", "aggregate", "stats", "approx", "sketch"),
)
def q37_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shared histogram-sketch helper call (map-side-combinable
    aggregate to ≤ priorities × 250 summary rows, window cumsum over
    that summary, exact-integer ceil(q·n) bucket selection — see
    hist_quantiles_by for the engine-exactness argument)."""
    from ..operators.sketches import hist_quantiles_by

    scale = F.lit(int(Q37_BUCKET * 100))
    return (
        hist_quantiles_by(
            table(spark, sf_dir, "orders"),
            "o_orderpriority",
            "o_totalprice",
            Q37_BUCKET,
            ((1, 2, "b50"), (9, 10, "b90")),
        )
        .select(
            "o_orderpriority",
            ((F.col("b50") + 1) * scale).alias("p50_hi_e2"),
            ((F.col("b90") + 1) * scale).alias("p90_hi_e2"),
            F.col("n").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q48_conditional_aggs",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) FILTER (WHERE value > 250) AS BIGINT) AS hi_cnt,
               bool_or(value > 480) AS has_extreme,
               bool_and(value > 0) AS all_positive,
               CAST(round(SUM(CASE WHEN user_id % 2 = 0 THEN value
                                    ELSE 0 END) * 100) AS BIGINT)
                   AS even_user_value_e2
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Conditional/boolean aggregates: count_if, bool_or/bool_and, "
    "CASE-gated sums — all map-side-combinable.",
    tags=("relational", "aggregate"),
)
def q48_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 250).alias("hi_cnt"),
            F.bool_or(F.col("value") > 480).alias("has_extreme"),
            F.bool_and(F.col("value") > 0).alias("all_positive"),
            int_e(
                F.sum(
                    F.when(F.col("user_id") % 2 == 0, F.col("value")).otherwise(
                        0.0
                    )
                ),
                2,
            ).alias("even_user_value_e2"),
        )
        .orderBy("event_type")
    )


@register(
    "q38_grouping_sets",
    oracle="""
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(round(SUM(o_totalprice) * 100) AS BIGINT) AS total_e2
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    doc="Explicit GROUPING SETS: per-priority, per-status, grand total "
    "in one pass over the fact table.",
    tags=("relational", "aggregate"),
)
def q38_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS cnt,
               CAST(round(SUM(o_totalprice) * 100) AS BIGINT) AS total_e2
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
        """
    )


@register(
    "q39_pivot",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_f,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_o,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_p
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="Pivot (long→wide): Spark pivot ≡ FILTERed aggregates. Pivot "
    "values are declared, not discovered — at scale an undeclared "
    "pivot triggers an extra distinct scan.",
    tags=("relational", "aggregate", "pivot"),
)
def q39_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("status_f"),
        F.coalesce("O", F.lit(0)).alias("status_o"),
        F.coalesce("P", F.lit(0)).alias("status_p"),
    ).orderBy("o_orderpriority")
