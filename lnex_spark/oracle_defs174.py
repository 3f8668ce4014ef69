"""Hundred-seventy-fourth oracle-registry module: directional
information flow and the modern rank test for unequal variances.

  * transfer_entropy_events — lag-1 discrete transfer entropy
    between the binarized daily moves (up/down vs previous day) of
    the purchase and click mean-value series, BOTH directions:
    TE(X→Y) = sum p(y_t, y_{t-1}, x_{t-1})
              ln [ p(y_t | y_{t-1}, x_{t-1}) / p(y_t | y_{t-1}) ],
    estimated from plain triple/pair/marginal counts.  The
    nonlinear, directional complement of Granger causality (which only
    sees linear mean dependence); asymmetry TE(X→Y) != TE(Y→X) is
    the leading-indicator readout.

  * brunner_munzel_events — Brunner-Munzel rank statistic for
    purchase vs view values (scipy convention): tie-stable average
    ranks in the combined sample and within groups, group rank
    variances S_i^2 = var(Rc - Rw), W = n1 n2 (Rbar1c - Rbar2c) /
    (N sqrt(n1 S1^2 + n2 S2^2)), plus the stochastic-superiority
    estimate p_hat = P(X < Y) + 0.5 P(X = Y).  The
    Behrens-Fisher-robust replacement for Mann-Whitney U,
    which assumes equal shape/variance under H0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_TE_SQL = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END), 6)
               AS px,
             ROUND(AVG(CASE WHEN event_type = 'click' THEN value END), 6)
               AS cx
      FROM events GROUP BY 1
    ),
    moves AS (
      SELECT d,
             CASE WHEN px > LAG(px) OVER (ORDER BY d) THEN 1 ELSE 0 END AS x,
             CASE WHEN cx > LAG(cx) OVER (ORDER BY d) THEN 1 ELSE 0 END AS y,
             LAG(px) OVER (ORDER BY d) AS _lp
      FROM daily WHERE px IS NOT NULL AND cx IS NOT NULL
    ),
    lagged AS (
      SELECT x AS xt, y AS yt,
             LAG(x) OVER (ORDER BY d) AS xp,
             LAG(y) OVER (ORDER BY d) AS yp
      FROM moves WHERE _lp IS NOT NULL
    ),
    ok AS (
      SELECT * FROM lagged WHERE xp IS NOT NULL
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM ok),
    dir AS (
      SELECT 'x_to_y' AS direction, yt AS tgt, yp AS tgt_lag, xp AS src_lag
      FROM ok
      UNION ALL
      SELECT 'y_to_x', xt, xp, yp FROM ok
    ),
    c3 AS (
      SELECT direction, tgt, tgt_lag, src_lag, COUNT(*) AS c
      FROM dir GROUP BY 1, 2, 3, 4
    ),
    c2p AS (
      SELECT direction, tgt_lag, src_lag, SUM(c) AS cp
      FROM c3 GROUP BY 1, 2, 3
    ),
    c2t AS (
      SELECT direction, tgt, tgt_lag, SUM(c) AS ct
      FROM c3 GROUP BY 1, 2, 3
    ),
    c1 AS (
      SELECT direction, tgt_lag, SUM(c) AS cl FROM c3 GROUP BY 1, 2
    )
    SELECT c3.direction AS direction,
           ROUND(SUM((c3.c / (SELECT n FROM n))
                     * LN((CAST(c3.c AS DOUBLE) / c2p.cp)
                          / (CAST(c2t.ct AS DOUBLE) / c1.cl))), 6) AS te
    FROM c3
    JOIN c2p ON c2p.direction = c3.direction
            AND c2p.tgt_lag = c3.tgt_lag AND c2p.src_lag = c3.src_lag
    JOIN c2t ON c2t.direction = c3.direction
            AND c2t.tgt = c3.tgt AND c2t.tgt_lag = c3.tgt_lag
    JOIN c1 ON c1.direction = c3.direction AND c1.tgt_lag = c3.tgt_lag
    GROUP BY c3.direction
    ORDER BY c3.direction
"""


@register("transfer_entropy_events", _TE_SQL)
def transfer_entropy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        F.round(
            F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))), 6
        ).alias("px"),
        F.round(
            F.avg(F.when(F.col("event_type") == "click", F.col("value"))), 6
        ).alias("cx"),
    ).where(F.col("px").isNotNull() & F.col("cx").isNotNull())
    wd = Window.orderBy("d")
    moves = daily.select(
        "d",
        F.when(F.col("px") > F.lag("px").over(wd), 1).otherwise(0).alias("x"),
        F.when(F.col("cx") > F.lag("cx").over(wd), 1).otherwise(0).alias("y"),
        F.lag("px").over(wd).alias("_lp"),
    ).where(F.col("_lp").isNotNull())
    lagged = moves.select(
        F.col("x").alias("xt"),
        F.col("y").alias("yt"),
        F.lag("x").over(wd).alias("xp"),
        F.lag("y").over(wd).alias("yp"),
    ).where(F.col("xp").isNotNull())
    n = lagged.count()
    d1 = lagged.select(
        F.lit("x_to_y").alias("direction"),
        F.col("yt").alias("tgt"),
        F.col("yp").alias("tgt_lag"),
        F.col("xp").alias("src_lag"),
    )
    d2 = lagged.select(
        F.lit("y_to_x").alias("direction"),
        F.col("xt").alias("tgt"),
        F.col("xp").alias("tgt_lag"),
        F.col("yp").alias("src_lag"),
    )
    dirs = d1.unionByName(d2)
    c3 = dirs.groupBy("direction", "tgt", "tgt_lag", "src_lag").agg(
        F.count("*").alias("c")
    )
    c2p = c3.groupBy("direction", "tgt_lag", "src_lag").agg(
        F.sum("c").alias("cp")
    )
    c2t = c3.groupBy("direction", "tgt", "tgt_lag").agg(
        F.sum("c").alias("ct")
    )
    c1 = c3.groupBy("direction", "tgt_lag").agg(F.sum("c").alias("cl"))
    joined = (
        c3.join(c2p, ["direction", "tgt_lag", "src_lag"])
        .join(c2t, ["direction", "tgt", "tgt_lag"])
        .join(c1, ["direction", "tgt_lag"])
    )
    return (
        joined.groupBy("direction")
        .agg(
            F.round(
                F.sum(
                    (F.col("c") / F.lit(float(n)))
                    * F.log(
                        (F.col("c").cast("double") / F.col("cp"))
                        / (F.col("ct").cast("double") / F.col("cl"))
                    )
                ),
                6,
            ).alias("te")
        )
        .orderBy("direction")
    )


_BM_SQL = """
    WITH samp AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS g,
             value AS v, event_id
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    rc AS (
      SELECT g, v, event_id,
             (2.0 * RANK() OVER (ORDER BY v)
              + COUNT(*) OVER (PARTITION BY v) - 1) / 2 AS rcomb,
             (2.0 * RANK() OVER (PARTITION BY g ORDER BY v)
              + COUNT(*) OVER (PARTITION BY g, v) - 1) / 2 AS rwith
      FROM samp
    ),
    gstat AS (
      SELECT r.g, MAX(gr.n) AS n, MAX(gr.rbar) AS rbar,
             SUM(POW(r.rcomb - r.rwith - gr.rbar + (gr.n + 1) / 2.0, 2))
               / (MAX(gr.n) - 1) AS s2
      FROM rc r JOIN (SELECT g, COUNT(*) AS n, AVG(rcomb) AS rbar
                      FROM rc GROUP BY g) gr ON gr.g = r.g
      GROUP BY r.g
    ),
    flat AS (
      SELECT MAX(CASE WHEN g = 1 THEN n END) AS n1,
             MAX(CASE WHEN g = 2 THEN n END) AS n2,
             MAX(CASE WHEN g = 1 THEN rbar END) AS r1,
             MAX(CASE WHEN g = 2 THEN rbar END) AS r2,
             MAX(CASE WHEN g = 1 THEN s2 END) AS s1,
             MAX(CASE WHEN g = 2 THEN s2 END) AS s2_
      FROM gstat
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND((r2 - (n2 + 1) / 2.0) / n1, 6) AS p_hat,
           ROUND(CAST(n1 AS DOUBLE) * n2 * (r1 - r2) / (n1 + n2)
                 / SQRT(n1 * s1 + n2 * s2_), 6) AS bm_w
    FROM flat
"""


@register("brunner_munzel_events", _BM_SQL)
def brunner_munzel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    )
    samp = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(2).alias("g"),
        F.col("value").alias("v"),
        "event_id",
    )
    # midranks computed RELATIONALLY (round-4 window audit): the
    # original global rank()/count() windows ran over every sampled
    # event; the midrank of value v is fully determined by the
    # value-level counts — rank(v) = cum(v) - c_eq(v) + 1, midrank =
    # (2*rank + c_eq - 1)/2 — so aggregate per value, distributed
    # prefix-sum over the (distinct-value-sized) tables, and equi-join
    # back.  The 2-group within-rank offset comes from a 2-row table.
    from lnex_spark.operators.scalable_windows import attach_running_sum

    vc = attach_running_sum(
        samp.groupBy("v").agg(F.count("*").alias("ceq")),
        [F.col("v").asc()],
        "ceq",
        out_col="cumv",
    )
    rcomb_tab = vc.select(
        "v",
        ((2.0 * (F.col("cumv") - F.col("ceq") + 1) + F.col("ceq") - 1) / 2).alias(
            "rcomb"
        ),
    )
    gvc = attach_running_sum(
        samp.groupBy("g", "v").agg(F.count("*").alias("ceq")),
        [F.col("g").asc(), F.col("v").asc()],
        "ceq",
        out_col="cumgv",
    )
    goff = (
        gvc.groupBy("g")
        .agg(F.sum("ceq").alias("gtot"))
        .withColumn(
            "goffset",
            F.coalesce(
                F.sum("gtot").over(
                    Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("g", "goffset")  # one row per group (2) — bounded
    )
    rwith_tab = gvc.join(F.broadcast(goff), "g").select(
        "g",
        "v",
        (
            (
                2.0
                * (F.col("cumgv") - F.col("goffset") - F.col("ceq") + 1)
                + F.col("ceq")
                - 1
            )
            / 2
        ).alias("rwith"),
    )
    rc = (
        samp.join(rcomb_tab, "v")
        .join(rwith_tab, ["g", "v"])
        .select("g", "rcomb", "rwith")
    )
    gr = rc.groupBy("g").agg(
        F.count("*").alias("n"), F.avg("rcomb").alias("rbar")
    )
    gstat = (
        rc.join(F.broadcast(gr), "g")
        .groupBy("g")
        .agg(
            F.max("n").alias("n"),
            F.max("rbar").alias("rbar"),
            (
                F.sum(
                    F.pow(
                        F.col("rcomb")
                        - F.col("rwith")
                        - F.col("rbar")
                        + (F.col("n") + 1) / 2.0,
                        2,
                    )
                )
                / (F.max("n") - 1)
            ).alias("s2"),
        )
    )
    m = lambda g, c: F.max(F.when(F.col("g") == g, F.col(c)))
    flat = gstat.agg(
        m(1, "n").alias("n1"),
        m(2, "n").alias("n2"),
        m(1, "rbar").alias("r1"),
        m(2, "rbar").alias("r2"),
        m(1, "s2").alias("s1"),
        m(2, "s2").alias("s2_"),
    )
    return flat.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round((F.col("r2") - (F.col("n2") + 1) / 2.0) / F.col("n1"), 6).alias(
            "p_hat"
        ),
        F.round(
            F.col("n1").cast("double")
            * F.col("n2")
            * (F.col("r1") - F.col("r2"))
            / (F.col("n1") + F.col("n2"))
            / F.sqrt(F.col("n1") * F.col("s1") + F.col("n2") * F.col("s2_")),
            6,
        ).alias("bm_w"),
    )
