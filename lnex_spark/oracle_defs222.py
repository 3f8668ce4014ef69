"""Two-hundred-twenty-second oracle-registry module: price-formation
microstructure in the lineitem ledger — does one price hold, and do
big buyers pay less?

  * price_dispersion_parts — law-of-one-price audit: unit price =
    l_extendedprice / l_quantity per line, per-part coefficient of
    variation across its lines (parts with >= 5 lines), then the
    distribution of CVs: mean, the explicit-rank median, the p90,
    and the share of parts with CV > 0.1.  Persistent dispersion in
    identical goods measures search/menu frictions — or, in a data
    pipeline, inconsistent upstream pricing joins.

  * quantity_discount_parts — per-brand closed-form OLS of unit
    price on quantity over its lines: the share of brands with a
    negative slope (bulk discounts), the mean slope, and the
    quantity-elasticity proxy at the mean.  A positive-slope brand
    in a discount-only catalog is a data bug with a price tag —
    the economics cross-check on a mechanical price~quantity fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_PD_SQL = """
    WITH unit AS (
      SELECT l_partkey, l_extendedprice / l_quantity AS up
      FROM lineitem WHERE l_quantity > 0
    ),
    per_part AS (
      SELECT l_partkey, COUNT(*) AS n,
             SQRT((SUM(up * up) - COUNT(*) * AVG(up) * AVG(up))
                  / (COUNT(*) - 1)) / AVG(up) AS cv
      FROM unit GROUP BY l_partkey
      HAVING COUNT(*) >= 5
    ),
    ranked AS (
      SELECT cv, ROW_NUMBER() OVER (ORDER BY cv, l_partkey) AS rn,
             COUNT(*) OVER () AS nn
      FROM per_part
    )
    SELECT CAST(MAX(nn) AS BIGINT) AS n_parts,
           ROUND(AVG(cv), 6) AS mean_cv,
           ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.5 * nn) AS BIGINT)
                          THEN cv END), 6) AS median_cv,
           ROUND(MAX(CASE WHEN rn = CAST(CEIL(0.9 * nn) AS BIGINT)
                          THEN cv END), 6) AS p90_cv,
           ROUND(AVG(CASE WHEN cv > 0.1 THEN 1.0 ELSE 0.0 END), 6)
             AS share_dispersed
    FROM ranked
"""


@register("price_dispersion_parts", _PD_SQL)
def price_dispersion_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    unit = li.select(
        "l_partkey", (F.col("l_extendedprice") / F.col("l_quantity")).alias("up")
    )
    per_part = (
        unit.groupBy("l_partkey")
        .agg(
            F.count("*").alias("n"),
            (
                F.sqrt(
                    (
                        F.sum(F.col("up") * F.col("up"))
                        - F.count("*") * F.avg("up") * F.avg("up")
                    )
                    / (F.count("*") - 1)
                )
                / F.avg("up")
            ).alias("cv"),
        )
        .where(F.col("n") >= 5)
    )
    # per-PART table is raw-scale: distributed rank + broadcast total
    # (round-4 window audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        per_part,
        [F.col("cv").asc(), F.col("l_partkey").asc()],
        rank_col="rn",
    ).crossJoin(F.broadcast(per_part.agg(F.count("*").alias("nn"))))
    return ranked.agg(
        F.max("nn").cast("long").alias("n_parts"),
        F.round(F.avg("cv"), 6).alias("mean_cv"),
        F.round(
            F.max(
                F.when(
                    F.col("rn") == F.ceil(0.5 * F.col("nn")).cast("long"),
                    F.col("cv"),
                )
            ),
            6,
        ).alias("median_cv"),
        F.round(
            F.max(
                F.when(
                    F.col("rn") == F.ceil(0.9 * F.col("nn")).cast("long"),
                    F.col("cv"),
                )
            ),
            6,
        ).alias("p90_cv"),
        F.round(
            F.avg(F.when(F.col("cv") > 0.1, 1.0).otherwise(0.0)), 6
        ).alias("share_dispersed"),
    )


_QD_SQL = """
    WITH unit AS (
      SELECT p.p_brand AS brand, l.l_quantity AS q,
             l.l_extendedprice / l.l_quantity AS up
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0
    ),
    fits AS (
      SELECT brand, COUNT(*) AS n, AVG(q) AS qb, AVG(up) AS ub,
             (SUM(q * up) - COUNT(*) * AVG(q) * AVG(up))
               / (SUM(q * q) - COUNT(*) * AVG(q) * AVG(q)) AS slope
      FROM unit GROUP BY brand
      HAVING COUNT(*) >= 20
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
           ROUND(AVG(slope), 8) AS mean_slope,
           ROUND(AVG(CASE WHEN slope < 0 THEN 1.0 ELSE 0.0 END), 6)
             AS share_discounting,
           ROUND(AVG(slope * qb / ub), 6) AS mean_elasticity_proxy
    FROM fits
"""


@register("quantity_discount_parts", _QD_SQL)
def quantity_discount_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    p = _t(spark, sf_dir, "part")
    unit = li.join(F.broadcast(p), p.p_partkey == li.l_partkey).select(
        F.col("p_brand").alias("brand"),
        F.col("l_quantity").alias("q"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"),
    )
    fits = (
        unit.groupBy("brand")
        .agg(
            F.count("*").alias("n"),
            F.avg("q").alias("qb"),
            F.avg("up").alias("ub"),
            (
                (
                    F.sum(F.col("q") * F.col("up"))
                    - F.count("*") * F.avg("q") * F.avg("up")
                )
                / (
                    F.sum(F.col("q") * F.col("q"))
                    - F.count("*") * F.avg("q") * F.avg("q")
                )
            ).alias("slope"),
        )
        .where(F.col("n") >= 20)
    )
    return fits.agg(
        F.count("*").cast("long").alias("n_brands"),
        F.round(F.avg("slope"), 8).alias("mean_slope"),
        F.round(
            F.avg(F.when(F.col("slope") < 0, 1.0).otherwise(0.0)), 6
        ).alias("share_discounting"),
        F.round(
            F.avg(F.col("slope") * F.col("qb") / F.col("ub")), 6
        ).alias("mean_elasticity_proxy"),
    )
