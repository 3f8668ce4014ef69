"""Two-hundred-ninth oracle-registry module: market-design order
statistics — auction revenue from the empirical value distribution
and revenue-management protection levels.

  * auction_order_stats_events — exact first- and second-highest
    order statistics of n iid draws from the EMPIRICAL value
    distribution (no simulation): with F the empirical CDF,
    P(2nd max <= x) = F^n + n F^(n-1)(1 - F), so both expectations
    are telescoping sums over the sorted sample (the best_of_n
    machinery extended to the second order statistic).  E[2nd max]
    IS the expected revenue of both the second-price auction and
    the equilibrium first-price auction (revenue equivalence) with
    n bidders — the spread E[max] - E[2nd max] is the winner's
    information rent.

  * emsr_booking_events — EMSR two-class protection level: fares
    p1 = 100 (purchase class), p2 = 60; protect y* seats for class
    1 where P(D1 > y*) = p2/p1, i.e. y* = the (1 - p2/p1) quantile
    of the empirical daily purchase-count distribution (explicit
    rank pick); booking limit for class 2 = capacity - y* at
    capacity = ceil(1.2 * mean daily demand).  Littlewood's rule on
    real demand data — the yield-management sibling of the
    newsvendor model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_AUCTION_SQL = """
    WITH ranked AS (
      SELECT value AS x,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS i,
             COUNT(*) OVER () AS nn
      FROM events
    ),
    ns AS (SELECT UNNEST([2, 5, 10]) AS n),
    g AS (
      SELECT ns.n, r.x,
             POW(CAST(r.i AS DOUBLE) / r.nn, ns.n)
               - POW(CAST(r.i - 1 AS DOUBLE) / r.nn, ns.n) AS d_max,
             (POW(CAST(r.i AS DOUBLE) / r.nn, ns.n)
              + ns.n * POW(CAST(r.i AS DOUBLE) / r.nn, ns.n - 1)
                * (1 - CAST(r.i AS DOUBLE) / r.nn))
             - (POW(CAST(r.i - 1 AS DOUBLE) / r.nn, ns.n)
                + ns.n * POW(CAST(r.i - 1 AS DOUBLE) / r.nn, ns.n - 1)
                  * (1 - CAST(r.i - 1 AS DOUBLE) / r.nn)) AS d_2nd
      FROM ranked r CROSS JOIN ns
    )
    SELECT n AS n_bidders,
           ROUND(SUM(x * d_max), 4) AS e_highest,
           ROUND(SUM(x * d_2nd), 4) AS e_second_highest,
           ROUND(SUM(x * d_max) - SUM(x * d_2nd), 4) AS info_rent
    FROM g
    GROUP BY n
    ORDER BY n_bidders
"""


@register("auction_order_stats_events", _AUCTION_SQL)
def auction_order_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.scalable_windows import attach_rank

    ev = _t(spark, sf_dir, "events")
    # distributed rank over ALL events + broadcast total (round-4
    # window audit: no single-partition window over raw rows)
    n_all = ev.agg(F.count("*").alias("nn"))
    ranked = (
        attach_rank(
            ev.select("value", "event_id"),
            [F.col("value").asc(), F.col("event_id").asc()],
            rank_col="i",
        )
        .crossJoin(F.broadcast(n_all))
        .select(F.col("value").alias("x"), "i", "nn")
    )
    ns = ev.sparkSession.createDataFrame([(2,), (5,), (10,)], "n int")
    fi = F.col("i").cast("double") / F.col("nn")
    fim = (F.col("i") - 1).cast("double") / F.col("nn")

    def g2(f):
        return F.pow(f, F.col("n")) + F.col("n") * F.pow(
            f, F.col("n") - 1
        ) * (1 - f)

    g = ranked.crossJoin(F.broadcast(ns)).select(
        "n",
        "x",
        (F.pow(fi, F.col("n")) - F.pow(fim, F.col("n"))).alias("d_max"),
        (g2(fi) - g2(fim)).alias("d_2nd"),
    )
    return (
        g.groupBy("n")
        .agg(
            F.round(F.sum(F.col("x") * F.col("d_max")), 4).alias("e_highest"),
            F.round(F.sum(F.col("x") * F.col("d_2nd")), 4).alias(
                "e_second_highest"
            ),
            F.round(
                F.sum(F.col("x") * F.col("d_max"))
                - F.sum(F.col("x") * F.col("d_2nd")),
                4,
            ).alias("info_rent"),
        )
        .select(
            F.col("n").alias("n_bidders"),
            "e_highest",
            "e_second_highest",
            "info_rent",
        )
        .orderBy("n_bidders")
    )


_EMSR_SQL = """
    WITH demand AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS d1
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    ranked AS (
      SELECT d1, ROW_NUMBER() OVER (ORDER BY d1, d) AS rn,
             COUNT(*) OVER () AS nn
      FROM demand
    ),
    q AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL((1 - 60.0 / 100.0) * nn)
                                     AS BIGINT)
                      THEN d1 END) AS protect,
             MAX(nn) AS n_days
      FROM ranked
    ),
    cap AS (
      SELECT CAST(CEIL(1.2 * AVG(d1)) AS BIGINT) AS capacity FROM demand
    )
    SELECT CAST(q.n_days AS BIGINT) AS n_days,
           (SELECT capacity FROM cap) AS capacity,
           CAST(q.protect AS BIGINT) AS protection_level,
           (SELECT capacity FROM cap) - q.protect AS class2_booking_limit,
           ROUND(60.0 / 100.0, 2) AS critical_ratio
    FROM q
"""


@register("emsr_booking_events", _EMSR_SQL)
def emsr_booking_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    demand = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").alias("d1"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = demand.select(
        "d1",
        F.row_number().over(Window.orderBy("d1", "d")).alias("rn"),
        F.count("*").over(wall).alias("nn"),
    )
    q = ranked.agg(
        F.max(
            F.when(
                F.col("rn")
                == F.ceil((1 - 60.0 / 100.0) * F.col("nn")).cast("long"),
                F.col("d1"),
            )
        ).alias("protect"),
        F.max("nn").alias("n_days"),
    )
    cap = demand.agg(
        F.ceil(1.2 * F.avg("d1")).cast("long").alias("capacity")
    )
    return q.crossJoin(F.broadcast(cap)).select(
        F.col("n_days").cast("long").alias("n_days"),
        "capacity",
        F.col("protect").cast("long").alias("protection_level"),
        (F.col("capacity") - F.col("protect")).alias("class2_booking_limit"),
        F.round(F.lit(60.0 / 100.0), 2).alias("critical_ratio"),
    )
