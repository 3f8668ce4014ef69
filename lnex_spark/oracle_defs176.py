"""Hundred-seventy-sixth oracle-registry module: adoption-dynamics
fitting and the classic inventory segmentation matrix.

  * bass_diffusion_events — Bass diffusion model fit on the hourly
    cumulative-adopter curve (first-seen hour per user): discrete
    Bass regression n_t = a + b N_{t-1} + c N_{t-1}^2 solved by closed-form
    two-predictor OLS (centered normal equations, 2x2 determinant),
    then m = (-b - sqrt(b^2 - 4ac)) / (2c), innovation p = a/m,
    imitation q = p + b — emitted only when the quadratic term is
    negative (a genuine diffusion ceiling); otherwise m/p/q are NULL
    and bass_valid = 0, which is itself the readout: the adoption
    curve is NOT imitation-driven.  q/p >> 1 → viral growth, the
    actionable split Gompertz's shape parameter does not give.

  * xyz_analysis_parts — the ABC×XYZ segmentation of parts: ABC by
    cumulative revenue share (80/95 cuts over parts ordered by
    revenue desc, key-tiebroken), XYZ by the coefficient of
    variation of the part's monthly shipped quantity (X < 0.5 steady,
    Y < 1.0, Z volatile).  The 9-cell matrix with part counts and
    revenue share per cell is THE standard planning artifact: AX
    items get automated replenishment, CZ items get made-to-order —
    composes abc_analysis_orders with a second axis it lacked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_BASS_SQL = """
    WITH first_seen AS (
      SELECT user_id, MIN(date_trunc('hour', ts)) AS h0
      FROM events GROUP BY user_id
    ),
    hourly_new AS (
      SELECT h0, COUNT(*) AS nu FROM first_seen GROUP BY h0
    ),
    curve AS (
      SELECT CAST(SUM(nu) OVER (ORDER BY h0) AS DOUBLE) AS nn,
             CAST(nu AS DOUBLE) AS n_t, h0
      FROM hourly_new
    ),
    reg AS (
      SELECT n_t AS y,
             COALESCE(LAG(nn) OVER (ORDER BY h0), 0) AS x1,
             POW(COALESCE(LAG(nn) OVER (ORDER BY h0), 0), 2) AS x2
      FROM curve
    ),
    mom AS (
      SELECT COUNT(*) AS n, AVG(y) AS yb, AVG(x1) AS x1b, AVG(x2) AS x2b,
             SUM(x1 * x1) - COUNT(*) * AVG(x1) * AVG(x1) AS s11,
             SUM(x2 * x2) - COUNT(*) * AVG(x2) * AVG(x2) AS s22,
             SUM(x1 * x2) - COUNT(*) * AVG(x1) * AVG(x2) AS s12,
             SUM(x1 * y) - COUNT(*) * AVG(x1) * AVG(y) AS s1y,
             SUM(x2 * y) - COUNT(*) * AVG(x2) * AVG(y) AS s2y
      FROM mom_src
    ),
    coefs AS (
      SELECT n,
             (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b,
             (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS c,
             yb - (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) * x1b
                - (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) * x2b
               AS a
      FROM mom
    ),
    solved AS (
      SELECT n, a, b, c,
             CASE WHEN c < 0 AND b * b - 4 * a * c >= 0
                  THEN (-b - SQRT(b * b - 4 * a * c)) / (2 * c) END AS m
      FROM coefs
    )
    SELECT CAST(n AS BIGINT) AS n_hours,
           ROUND(a, 6) AS a, ROUND(b, 6) AS b, ROUND(c, 9) AS c,
           CASE WHEN c < 0 THEN 1 ELSE 0 END AS bass_valid,
           ROUND(m, 2) AS m_ceiling,
           ROUND(a / m, 6) AS p_innovation,
           ROUND(a / m + b, 6) AS q_imitation
    FROM solved
"""


@register("bass_diffusion_events", _BASS_SQL.replace("mom_src", "reg"))
def bass_diffusion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("hour", "ts")).alias("h0")
    )
    hourly_new = first_seen.groupBy("h0").agg(F.count("*").alias("nu"))
    wc = Window.orderBy("h0").rowsBetween(Window.unboundedPreceding, 0)
    wo = Window.orderBy("h0")
    curve = hourly_new.select(
        F.sum("nu").over(wc).cast("double").alias("nn"),
        F.col("nu").cast("double").alias("n_t"),
        "h0",
    )
    reg = curve.select(
        F.col("n_t").alias("y"),
        F.coalesce(F.lag("nn").over(wo), F.lit(0.0)).alias("x1"),
        F.pow(F.coalesce(F.lag("nn").over(wo), F.lit(0.0)), 2).alias("x2"),
    )
    mom = reg.agg(
        F.count("*").alias("n"),
        F.avg("y").alias("yb"),
        F.avg("x1").alias("x1b"),
        F.avg("x2").alias("x2b"),
        (F.sum(F.col("x1") * F.col("x1")) - F.count("*") * F.avg("x1") * F.avg("x1")).alias("s11"),
        (F.sum(F.col("x2") * F.col("x2")) - F.count("*") * F.avg("x2") * F.avg("x2")).alias("s22"),
        (F.sum(F.col("x1") * F.col("x2")) - F.count("*") * F.avg("x1") * F.avg("x2")).alias("s12"),
        (F.sum(F.col("x1") * F.col("y")) - F.count("*") * F.avg("x1") * F.avg("y")).alias("s1y"),
        (F.sum(F.col("x2") * F.col("y")) - F.count("*") * F.avg("x2") * F.avg("y")).alias("s2y"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b = (F.col("s22") * F.col("s1y") - F.col("s12") * F.col("s2y")) / det
    c = (F.col("s11") * F.col("s2y") - F.col("s12") * F.col("s1y")) / det
    a = F.col("yb") - b * F.col("x1b") - c * F.col("x2b")
    coefs = mom.select(
        "n", a.alias("a"), b.alias("b"), c.alias("c")
    )
    solved = coefs.withColumn(
        "m",
        F.when(
            (F.col("c") < 0)
            & (F.col("b") * F.col("b") - 4 * F.col("a") * F.col("c") >= 0),
            (
                -F.col("b")
                - F.sqrt(
                    F.col("b") * F.col("b") - 4 * F.col("a") * F.col("c")
                )
            )
            / (2 * F.col("c")),
        ),
    )
    return solved.select(
        F.col("n").cast("long").alias("n_hours"),
        F.round("a", 6).alias("a"),
        F.round("b", 6).alias("b"),
        F.round("c", 9).alias("c"),
        F.when(F.col("c") < 0, 1).otherwise(0).alias("bass_valid"),
        F.round("m", 2).alias("m_ceiling"),
        F.round(F.col("a") / F.col("m"), 6).alias("p_innovation"),
        F.round(F.col("a") / F.col("m") + F.col("b"), 6).alias("q_imitation"),
    )


_XYZ_SQL = """
    WITH rev AS (
      SELECT l_partkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    abc AS (
      SELECT l_partkey, r,
             CAST(SUM(CAST(r AS DECIMAL(18,4))) OVER (ORDER BY r DESC, l_partkey) AS DOUBLE) / CAST(SUM(CAST(r AS DECIMAL(18,4))) OVER () AS DOUBLE)
               AS cumshare
      FROM rev
    ),
    abc_cls AS (
      SELECT l_partkey, r,
             CASE WHEN cumshare <= 0.8 THEN 'A'
                  WHEN cumshare <= 0.95 THEN 'B' ELSE 'C' END AS abc
      FROM abc
    ),
    monthly AS (
      SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
             ROUND(SUM(l_quantity), 2) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    cv AS (
      SELECT l_partkey,
             CASE WHEN COUNT(*) > 1 AND AVG(q) > 0
                  THEN SQRT((SUM(q * q) - COUNT(*) * AVG(q) * AVG(q))
                            / (COUNT(*) - 1)) / AVG(q)
                  ELSE 0 END AS cv
      FROM monthly GROUP BY l_partkey
    ),
    xyz_cls AS (
      SELECT l_partkey,
             CASE WHEN cv < 0.5 THEN 'X'
                  WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz
      FROM cv
    ),
    tot AS (SELECT SUM(r) AS tr FROM rev)
    SELECT a.abc, x.xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(a.r) / (SELECT tr FROM tot), 6) AS revenue_share
    FROM abc_cls a JOIN xyz_cls x ON x.l_partkey = a.l_partkey
    GROUP BY a.abc, x.xyz
    ORDER BY abc, xyz
"""


@register("xyz_analysis_parts", _XYZ_SQL)
def xyz_analysis_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("r")
    )
    # distributed prefix share over the per-PART table (r4 audit):
    # r sits on the cent grid, so a DECIMAL cumsum on both sides keeps
    # the A/B/C threshold comparison exact under any partial-sum order
    from lnex_spark.operators.scalable_windows import attach_rank

    tot = rev.agg(F.sum(F.col("r").cast("decimal(18,4)")).alias("_tot"))
    abc = (
        attach_rank(
            rev,
            [F.desc("r"), F.asc("l_partkey")],
            rank_col="_rn",
            cumsum_of=F.col("r").cast("decimal(18,4)"),
            cumsum_col="_cum",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "r",
            (F.col("_cum").cast("double") / F.col("_tot").cast("double")).alias(
                "cumshare"
            ),
        )
    ).select(
        "l_partkey",
        "r",
        F.when(F.col("cumshare") <= 0.8, "A")
        .when(F.col("cumshare") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("m")
    ).agg(F.round(F.sum("l_quantity"), 2).alias("q"))
    cv = monthly.groupBy("l_partkey").agg(
        F.when(
            (F.count("*") > 1) & (F.avg("q") > 0),
            F.sqrt(
                (
                    F.sum(F.col("q") * F.col("q"))
                    - F.count("*") * F.avg("q") * F.avg("q")
                )
                / (F.count("*") - 1)
            )
            / F.avg("q"),
        )
        .otherwise(0.0)
        .alias("cv")
    )
    xyz = cv.select(
        "l_partkey",
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    tr = rev.agg(F.sum("r").alias("tr"))
    return (
        abc.join(xyz, "l_partkey")
        .crossJoin(F.broadcast(tr))
        .groupBy("abc", "xyz")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.round(F.sum("r") / F.max("tr"), 6).alias("revenue_share"),
        )
        .orderBy("abc", "xyz")
    )
