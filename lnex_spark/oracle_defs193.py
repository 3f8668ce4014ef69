"""Hundred-ninety-third oracle-registry module: selection-pressure
arithmetic — what you get by sampling more and by upweighting the
worst group.

  * best_of_n_events — exact E[max of n iid draws] from the
    EMPIRICAL value distribution (no simulation): with the sorted
    sample x_(1..N), E[max_n] = sum_i x_(i) ((i/N)^n - ((i-1)/N)^n),
    evaluated for n = 1, 2, 4, 8, 16, plus the median of the max
    via the (1/2)^(1/n) quantile rank pick.  The best-of-n /
    rejection-sampling return curve: how much reward does another
    doubling of samples buy — the marginal-gain table that decides
    BoN inference budgets.

  * group_dro_weights_docs — Group-DRO style worst-group weights
    over sources: per-source "loss" = mean document quality deficit
    (1 - n_chars / max n_chars, ROUNDED to 6), weights w_s ∝
    exp(eta * loss_s) normalized, for eta in {1, 5, 20}, with the
    weighted vs unweighted mean loss.  eta → 0 recovers uniform,
    eta → inf puts all mass on the worst source — the robust-
    optimization dual of temperature-scaled frequency-based
    weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_BON_SQL = """
    WITH ranked AS (
      SELECT value AS x,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS i,
             COUNT(*) OVER () AS nn
      FROM events
    ),
    ns AS (SELECT UNNEST([1, 2, 4, 8, 16]) AS n),
    emax AS (
      SELECT ns.n,
             SUM(r.x * (POW(CAST(r.i AS DOUBLE) / r.nn, ns.n)
                        - POW(CAST(r.i - 1 AS DOUBLE) / r.nn, ns.n))) AS e
      FROM ranked r CROSS JOIN ns
      GROUP BY ns.n
    ),
    med AS (
      SELECT ns.n,
             MAX(CASE WHEN r.i = CAST(CEIL(POW(0.5, 1.0 / ns.n) * r.nn)
                                      AS BIGINT)
                      THEN r.x END) AS m
      FROM ranked r CROSS JOIN ns
      GROUP BY ns.n
    )
    SELECT e.n AS n_samples,
           ROUND(e.e, 4) AS expected_max,
           ROUND(m.m, 4) AS median_max
    FROM emax e JOIN med m ON m.n = e.n
    ORDER BY n_samples
"""


@register("best_of_n_events", _BON_SQL)
def best_of_n_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.scalable_windows import attach_rank

    ev = _t(spark, sf_dir, "events")
    # distributed rank over ALL events + broadcast total (round-4 audit)
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
    ns = ev.sparkSession.createDataFrame(
        [(1,), (2,), (4,), (8,), (16,)], "n int"
    )
    joined = ranked.crossJoin(F.broadcast(ns))
    emax = joined.groupBy("n").agg(
        F.sum(
            F.col("x")
            * (
                F.pow(F.col("i").cast("double") / F.col("nn"), F.col("n"))
                - F.pow(
                    (F.col("i") - 1).cast("double") / F.col("nn"), F.col("n")
                )
            )
        ).alias("e")
    )
    med = joined.groupBy("n").agg(
        F.max(
            F.when(
                F.col("i")
                == F.ceil(
                    F.pow(F.lit(0.5), 1.0 / F.col("n")) * F.col("nn")
                ).cast("long"),
                F.col("x"),
            )
        ).alias("m")
    )
    return (
        emax.join(med, "n")
        .select(
            F.col("n").alias("n_samples"),
            F.round("e", 4).alias("expected_max"),
            F.round("m", 4).alias("median_max"),
        )
        .orderBy("n_samples")
    )


_DRO_SQL = """
    WITH mx AS (SELECT CAST(MAX(n_chars) AS DOUBLE) AS mx FROM documents),
    loss AS (
      SELECT source,
             ROUND(AVG(1 - n_chars / (SELECT mx FROM mx)), 6) AS l,
             COUNT(*) AS n
      FROM documents GROUP BY source
    ),
    etas AS (SELECT CAST(UNNEST([1.0, 5.0, 20.0]) AS DOUBLE) AS eta),
    w AS (
      SELECT e.eta, l.source, l.l, l.n,
             EXP(e.eta * l.l)
               / SUM(EXP(e.eta * l.l)) OVER (PARTITION BY e.eta) AS w
      FROM loss l CROSS JOIN etas e
    ),
    agg AS (
      SELECT eta,
             SUM(w * l) AS weighted_loss,
             AVG(l) AS uniform_loss,
             MAX(l) AS worst_loss
      FROM w GROUP BY eta
    )
    SELECT w.eta, w.source, CAST(w.n AS BIGINT) AS n_docs,
           ROUND(w.l, 6) AS group_loss,
           ROUND(w.w, 6) AS dro_weight,
           ROUND(a.weighted_loss, 6) AS weighted_loss,
           ROUND(a.uniform_loss, 6) AS uniform_loss,
           ROUND(a.worst_loss, 6) AS worst_loss
    FROM w JOIN agg a ON a.eta = w.eta
    ORDER BY w.eta, w.source
"""


@register("group_dro_weights_docs", _DRO_SQL)
def group_dro_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").cast("double").alias("mx"))
    loss = (
        d.crossJoin(F.broadcast(mx))
        .groupBy("source")
        .agg(
            F.round(F.avg(1 - F.col("n_chars") / F.col("mx")), 6).alias("l"),
            F.count("*").alias("n"),
        )
    )
    etas = d.sparkSession.createDataFrame(
        [(1.0,), (5.0,), (20.0,)], "eta double"
    )
    we = Window.partitionBy("eta")
    w = loss.crossJoin(F.broadcast(etas)).select(
        "eta",
        "source",
        "l",
        "n",
        (
            F.exp(F.col("eta") * F.col("l"))
            / F.sum(F.exp(F.col("eta") * F.col("l"))).over(we)
        ).alias("w"),
    )
    agg = w.groupBy("eta").agg(
        F.sum(F.col("w") * F.col("l")).alias("weighted_loss"),
        F.avg("l").alias("uniform_loss"),
        F.max("l").alias("worst_loss"),
    )
    return (
        w.join(F.broadcast(agg), "eta")
        .select(
            "eta",
            "source",
            F.col("n").cast("long").alias("n_docs"),
            F.round("l", 6).alias("group_loss"),
            F.round("w", 6).alias("dro_weight"),
            F.round("weighted_loss", 6).alias("weighted_loss"),
            F.round("uniform_loss", 6).alias("uniform_loss"),
            F.round("worst_loss", 6).alias("worst_loss"),
        )
        .orderBy("eta", "source")
    )
