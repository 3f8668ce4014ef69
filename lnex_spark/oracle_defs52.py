"""Fifty-second oracle-registry module: survival analysis and the
cumulative-gains curve.

  * kaplan_meier_episodes — the Kaplan-Meier survival estimator
    over (user, event_type) activity episodes (first→last occurrence
    of the type, in whole days from exact microsecond arithmetic —
    unix_micros/epoch_us on the two engines, so no truncation
    divergence): an episode whose last occurrence precedes the
    user's own last activity by >2 days is an observed "death"
    (the user stopped doing that thing), the rest are
    right-censored at the user's horizon.  The product-limit estimator is
    rewritten relationally as exp(cumulative sum of ln(1-d/n)) over
    the DISTINCT-duration table, with a cumulative zero-factor flag
    forcing S=0 past any duration where everyone at risk dies —
    the product-over-ordered-rows class (like EWMA's closed form)
    value-checked on both engines.  All windows run over the
    distinct-duration table, bounded by the day range, not by users.

  * gains_curve_docs — decile cumulative-gains / lift of the
    deterministic sigmoid-of-length score against
    the lang='en' label: rank by score (doc_id tiebreak → ntile is
    engine-stable), per decile capture rate and lift.  The
    model-triage complement of the AUC and calibration ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_DAY_US = 86_400_000_000

_KM_SQL = f"""
    WITH lives AS (
      SELECT user_id, event_type,
             CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / {_DAY_US}.0) AS BIGINT) AS dur,
             epoch_us(MAX(ts)) AS last_us
      FROM events GROUP BY user_id, event_type
    ),
    horizon AS (SELECT user_id, MAX(last_us) AS u_last FROM lives GROUP BY user_id),
    labeled AS (
      SELECT dur,
             CASE WHEN last_us < u_last - 2 * {_DAY_US} THEN 1 ELSE 0 END AS ev
      FROM lives JOIN horizon USING (user_id)
    ),
    per_dur AS (
      SELECT dur, SUM(ev) AS deaths, COUNT(*) AS leavers FROM labeled GROUP BY dur
    ),
    risked AS (
      SELECT dur, deaths,
             (SELECT COUNT(*) FROM labeled)
               - COALESCE(SUM(leavers) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
      FROM per_dur
    ),
    terms AS (
      SELECT dur, deaths, at_risk,
             CASE WHEN deaths = at_risk THEN NULL
                  ELSE ln(1.0 - deaths * 1.0 / at_risk) END AS lnterm,
             CASE WHEN deaths = at_risk THEN 1 ELSE 0 END AS zflag
      FROM risked WHERE deaths > 0
    )
    SELECT dur AS duration_days, at_risk, deaths,
           ROUND(CASE WHEN MAX(zflag) OVER w = 1 THEN 0.0
                      ELSE exp(COALESCE(SUM(lnterm) OVER w, 0.0)) END, 6) AS survival
    FROM terms
    WINDOW w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("kaplan_meier_episodes", _KM_SQL)
def kaplan_meier_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    lives = ev.groupBy("user_id", "event_type").agg(
        F.floor(
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / float(_DAY_US)
        ).cast("long").alias("dur"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("last_us"),
    )
    horizon = lives.groupBy("user_id").agg(F.max("last_us").alias("u_last"))
    labeled = lives.join(horizon, "user_id").select(
        "dur",
        F.when(F.col("last_us") < F.col("u_last") - 2 * _DAY_US, 1).otherwise(0).alias("ev"),
    )
    total = labeled.agg(F.count("*").alias("n_total"))
    per_dur = labeled.groupBy("dur").agg(
        F.sum("ev").alias("deaths"), F.count("*").alias("leavers")
    )
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risked = per_dur.crossJoin(total).select(
        "dur",
        "deaths",
        (
            F.col("n_total") - F.coalesce(F.sum("leavers").over(wprev), F.lit(0))
        ).alias("at_risk"),
    )
    terms = risked.filter(F.col("deaths") > 0).select(
        "dur",
        "deaths",
        "at_risk",
        F.when(F.col("deaths") == F.col("at_risk"), F.lit(None).cast("double"))
        .otherwise(F.log(1.0 - F.col("deaths") / F.col("at_risk")))
        .alias("lnterm"),
        F.when(F.col("deaths") == F.col("at_risk"), 1).otherwise(0).alias("zflag"),
    )
    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("dur").alias("duration_days"),
        "at_risk",
        "deaths",
        F.round(
            F.when(F.max("zflag").over(w) == 1, F.lit(0.0)).otherwise(
                F.exp(F.coalesce(F.sum("lnterm").over(w), F.lit(0.0)))
            ),
            6,
        ).alias("survival"),
    )


_GAINS_SQL = """
    WITH scored AS (
      SELECT doc_id,
             1.0 / (1.0 + exp(-(n_chars - 400) / 150.0)) AS p,
             CAST(lang = 'en' AS INTEGER) AS y
      FROM documents
    ),
    deciled AS (
      SELECT y, ntile(10) OVER (ORDER BY p DESC, doc_id) AS decile FROM scored
    ),
    per_dec AS (
      SELECT decile, COUNT(*) AS n, SUM(y) AS n_pos FROM deciled GROUP BY decile
    ),
    tot AS (SELECT SUM(n) AS tn, SUM(n_pos) AS tp FROM per_dec)
    SELECT decile, n, n_pos,
           ROUND(SUM(n_pos) OVER w * 1.0 / tp, 6) AS cum_capture,
           ROUND((SUM(n_pos) OVER w * 1.0 / SUM(n) OVER w) / (tp * 1.0 / tn), 6) AS cum_lift
    FROM per_dec, tot
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("gains_curve_docs", _GAINS_SQL)
def gains_curve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        (1.0 / (1.0 + F.exp(-(F.col("n_chars") - 400) / 150.0))).alias("p"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    # distributed NTILE over ALL documents (round-4 window audit):
    # global rank + arithmetic tiling against the broadcast total
    from lnex_spark.operators.scalable_windows import attach_rank, ntile_expr

    deciled = (
        attach_rank(scored, [F.desc("p"), F.asc("doc_id")], rank_col="_rn")
        .crossJoin(F.broadcast(scored.agg(F.count("*").alias("_nt"))))
        .select("y", ntile_expr("_rn", F.col("_nt"), 10).alias("decile"))
    )
    per_dec = deciled.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("y").alias("n_pos")
    )
    tot = per_dec.agg(F.sum("n").alias("tn"), F.sum("n_pos").alias("tp"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per_dec.crossJoin(tot).select(
        "decile",
        "n",
        "n_pos",
        F.round(F.sum("n_pos").over(w) * 1.0 / F.col("tp"), 6).alias("cum_capture"),
        F.round(
            (F.sum("n_pos").over(w) * 1.0 / F.sum("n").over(w)) / (F.col("tp") * 1.0 / F.col("tn")),
            6,
        ).alias("cum_lift"),
    )
