"""Hundred-eighty-fourth oracle-registry module: loss-system sizing
and data-freshness economics — two queueing readouts beyond Little's
law and the Erlang-C delay model.

  * erlang_b_events — Erlang-B blocking probability for a LOSS
    system (no queue — excess work is dropped, the model for
    connection pools and rate-limited APIs): offered load A =
    click-arrival rate x 180 s mean hold time, evaluated for server
    counts N = 5..15 via the series B = t_N / sum_{k<=N} t_k with
    t_k = A^k/k! computed as exp(cumsum ln(A/j)) — a window scan,
    no factorial overflow, no recursion.  Read the table where
    blocking crosses 1%: that's the pool size; Erlang C
    sizes the WAITING variant.

  * freshness_age_events — Age-of-Information of the purchase-event
    "feed": if a dashboard shows the latest purchase, its staleness
    sawtooths between updates; time-average age = sum(gap_i^2 / 2) /
    span (exact for the sawtooth), plus peak age = max gap and the
    95th-percentile gap by explicit rank pick.  The metric that
    distinguishes "updates arrive often on average" from "there are
    2-hour holes" — SLA language for pipeline freshness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register

_HOLD_S = 180.0


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_ERLANG_B_SQL = f"""
    WITH arr AS (
      SELECT COUNT(*) AS n,
             (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1000000.0 AS span
      FROM events WHERE event_type = 'click'
    ),
    load AS (
      SELECT ROUND(n / span * {_HOLD_S!r}, 6) AS a FROM arr
    ),
    ks AS (SELECT UNNEST(range(0, 16)) AS k),
    summand AS (
      SELECT k,
             CASE WHEN k = 0 THEN 0.0
                  ELSE LN((SELECT a FROM load) / k) END AS lnterm
      FROM ks
    ),
    terms AS (
      SELECT k,
             SUM(lnterm) OVER (ORDER BY k
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS lnt
      FROM summand
    ),
    t AS (SELECT k, EXP(lnt) AS t FROM terms),
    b AS (
      SELECT n.n AS servers,
             (SELECT t FROM t WHERE k = n.n)
               / (SELECT SUM(t) FROM t WHERE k <= n.n) AS b
      FROM (SELECT UNNEST(range(5, 16)) AS n) n
    )
    SELECT CAST(servers AS BIGINT) AS servers,
           ROUND((SELECT a FROM load), 6) AS offered_load,
           ROUND(b, 6) AS blocking_prob
    FROM b
    ORDER BY servers
"""


@register("erlang_b_events", _ERLANG_B_SQL)
def erlang_b_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "click")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    arr = ev.agg(
        F.count("*").alias("n"),
        ((F.max(us) - F.min(us)) / 1000000.0).alias("span"),
    )
    load = arr.select(
        F.round(F.col("n") / F.col("span") * _HOLD_S, 6).alias("a")
    )
    ks = ev.sparkSession.range(0, 16).select(F.col("id").alias("k"))
    wc = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    summand = ks.crossJoin(F.broadcast(load)).select(
        "k",
        F.when(F.col("k") == 0, 0.0)
        .otherwise(F.log(F.col("a") / F.when(F.col("k") != 0, F.col("k"))))
        .alias("lnterm"),
        "a",
    )
    terms = summand.select(
        "k", F.sum("lnterm").over(wc).alias("lnt"), "a"
    )
    t = terms.select("k", F.exp("lnt").alias("t"), "a")
    servers = ev.sparkSession.range(5, 16).select(F.col("id").alias("servers"))
    tn = t.select(F.col("k").alias("servers"), F.col("t").alias("t_n"))
    cum = t.select(
        "k", F.sum("t").over(wc).alias("cum_t"), "a"
    ).select(F.col("k").alias("servers"), "cum_t", "a")
    return (
        servers.join(F.broadcast(tn), "servers")
        .join(F.broadcast(cum), "servers")
        .select(
            F.col("servers").cast("long").alias("servers"),
            F.round("a", 6).alias("offered_load"),
            F.round(F.col("t_n") / F.col("cum_t"), 6).alias("blocking_prob"),
        )
        .orderBy("servers")
    )


_FRESH_SQL = """
    WITH upd AS (
      SELECT epoch_us(ts) / 1000000.0 AS t, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT t - LAG(t) OVER (ORDER BY t, event_id) AS g
      FROM upd
    ),
    ok AS (SELECT g FROM gaps WHERE g IS NOT NULL),
    span AS (
      SELECT MAX(t) - MIN(t) AS span FROM upd
    ),
    ranked AS (
      SELECT g, ROW_NUMBER() OVER (ORDER BY g) AS rn,
             COUNT(*) OVER () AS nn
      FROM ok
    )
    SELECT CAST(MAX(nn) AS BIGINT) AS n_updates,
           ROUND(SUM(g * g) / 2 / (SELECT span FROM span), 6) AS avg_age_s,
           ROUND(MAX(g), 6) AS peak_age_s,
           ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.95 * nn) AS BIGINT)
                          THEN g END), 6) AS p95_gap_s
    FROM ranked
"""


@register("freshness_age_events", _FRESH_SQL)
def freshness_age_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    upd = ev.select(
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000000.0).alias("t"),
        "event_id",
    )
    # distributed global lag + rank over purchase events (round-4
    # window audit); g-ties permute ranks among equal gaps only, which
    # the rank-based quantile pick is invariant to
    from lnex_spark.operators.scalable_windows import attach_rank, attach_shift

    gaps = (
        attach_shift(upd, [F.col("t").asc(), F.col("event_id").asc()], ["t"], offset=-1)
        .select((F.col("t") - F.col("t_lag1")).alias("g"))
        .where(F.col("g").isNotNull())
    )
    span = upd.agg((F.max("t") - F.min("t")).alias("span"))
    ranked = attach_rank(gaps, [F.col("g").asc()], rank_col="rn").crossJoin(
        F.broadcast(gaps.agg(F.count("*").alias("nn")))
    )
    return (
        ranked.crossJoin(F.broadcast(span))
        .agg(
            F.max("nn").cast("long").alias("n_updates"),
            F.round(
                F.sum(F.col("g") * F.col("g")) / 2 / F.max("span"), 6
            ).alias("avg_age_s"),
            F.round(F.max("g"), 6).alias("peak_age_s"),
            F.round(
                F.max(
                    F.when(
                        F.col("rn") == F.ceil(0.95 * F.col("nn")).cast("long"),
                        F.col("g"),
                    )
                ),
                6,
            ).alias("p95_gap_s"),
        )
    )
