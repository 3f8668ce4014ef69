"""Hundred-forty-first oracle-registry module: ranking-quality and
calibration decomposition over the shared documents scorer (the
sigmoid-of-length confidence p and the lang='en' label y —
one scored relation, several summaries):

  * average_precision_docs — average precision (the area under the
    precision-recall curve in its standard step form):
    AP = Σ_k P@k · rel_k / n_pos over the corpus ranked by score
    descending with a deterministic doc_id tiebreak.  Complements
    ROC-AUC, which is prevalence-blind, AP is the
    rare-positive metric a filtering pipeline actually tunes on.
    The rank is a global window over the *eval* relation — in
    production this runs on the labeled eval slice (bounded), never
    the full corpus; the scorer itself stays embarrassingly
    parallel.  Also emits precision@100 from the same ranking.

  * brier_decomposition_docs — Murphy's decomposition of the Brier
    score over decile bins of the confidence:
    reliability Σ n_k(conf̄_k − acc_k)²/N (penalty, smaller better),
    resolution Σ n_k(acc_k − ȳ)²/N (reward, larger better),
    uncertainty ȳ(1−ȳ), plus the exact Brier and the within-bin
    variance gap brier − (rel − res + unc) — the decomposition is
    exact only for bin-constant forecasts, and the gap term measures
    how far these continuous scores are from that.  Two bin-sized
    aggregates after one corpus pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SCORED_SQL = """
      SELECT doc_id,
             1.0 / (1.0 + exp(-(n_chars - 400) / 150.0)) AS p,
             CAST(lang = 'en' AS INTEGER) AS y
      FROM documents
"""

_AP_SQL = f"""
    WITH scored AS ({_SCORED_SQL}),
    ranked AS (
      SELECT y,
             ROW_NUMBER() OVER (ORDER BY p DESC, doc_id) AS k,
             SUM(y) OVER (ORDER BY p DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp_at_k
      FROM scored
    ),
    npos AS (SELECT SUM(y) AS n_pos FROM scored)
    SELECT CAST(n.n_pos AS BIGINT) AS n_pos,
           ROUND(SUM(CASE WHEN r.y = 1
                     THEN r.tp_at_k * 1.0 / r.k ELSE 0 END) / n.n_pos, 6)
             AS average_precision,
           ROUND(SUM(CASE WHEN r.k <= 100 THEN r.y ELSE 0 END) / 100.0, 6)
             AS precision_at_100
    FROM ranked r CROSS JOIN npos n
    GROUP BY n.n_pos
"""


@register("average_precision_docs", _AP_SQL)
def average_precision_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        (1.0 / (1.0 + F.exp(-(F.col("n_chars") - 400) / 150.0))).alias("p"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    # distributed rank + prefix-sum over ALL documents (round-4 audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        scored,
        [F.desc("p"), F.asc("doc_id")],
        rank_col="k",
        cumsum_of="y",
        cumsum_col="tp_at_k",
    ).select("y", "k", "tp_at_k")
    npos = scored.agg(F.sum("y").alias("n_pos"))
    return (
        ranked.crossJoin(F.broadcast(npos))
        .groupBy("n_pos")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("y") == 1,
                        F.col("tp_at_k") * 1.0 / F.col("k"),
                    ).otherwise(0.0)
                )
                / F.col("n_pos"),
                6,
            ).alias("average_precision"),
            F.round(
                F.sum(F.when(F.col("k") <= 100, F.col("y")).otherwise(0))
                / 100.0,
                6,
            ).alias("precision_at_100"),
        )
        .select(
            F.col("n_pos").cast("long").alias("n_pos"),
            "average_precision",
            "precision_at_100",
        )
    )


_BRIER_SQL = f"""
    WITH scored AS ({_SCORED_SQL}),
    binned AS (
      SELECT LEAST(9, CAST(floor(p * 10) AS INTEGER)) AS bin, p, y
      FROM scored
    ),
    bins AS (
      SELECT bin, COUNT(*) AS n_k, AVG(p) AS conf_k, AVG(y * 1.0) AS acc_k,
             SUM((p - y) * (p - y)) AS brier_sum
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT SUM(n_k) AS n, SUM(n_k * acc_k) / SUM(n_k) AS ybar,
             SUM(brier_sum) / SUM(n_k) AS brier
      FROM bins
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           ROUND(SUM(b.n_k * POW(b.conf_k - b.acc_k, 2)) / t.n, 6)
             AS reliability,
           ROUND(SUM(b.n_k * POW(b.acc_k - t.ybar, 2)) / t.n, 6)
             AS resolution,
           ROUND(t.ybar * (1 - t.ybar), 6) AS uncertainty,
           ROUND(t.brier, 6) AS brier,
           ROUND(t.brier
                 - (SUM(b.n_k * POW(b.conf_k - b.acc_k, 2)) / t.n
                    - SUM(b.n_k * POW(b.acc_k - t.ybar, 2)) / t.n
                    + t.ybar * (1 - t.ybar)), 6) AS within_bin_gap
    FROM bins b CROSS JOIN tot t
    GROUP BY t.n, t.ybar, t.brier
"""


@register("brier_decomposition_docs", _BRIER_SQL)
def brier_decomposition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        (1.0 / (1.0 + F.exp(-(F.col("n_chars") - 400) / 150.0))).alias("p"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    binned = scored.select(
        F.least(F.lit(9), F.floor(F.col("p") * 10).cast("int")).alias("bin"),
        "p",
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").alias("n_k"),
        F.avg("p").alias("conf_k"),
        F.avg(F.col("y") * 1.0).alias("acc_k"),
        F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias(
            "brier_sum"
        ),
    )
    tot = bins.agg(
        F.sum("n_k").alias("n"),
        (F.sum(F.col("n_k") * F.col("acc_k")) / F.sum("n_k")).alias("ybar"),
        (F.sum("brier_sum") / F.sum("n_k")).alias("brier"),
    )
    rel = F.sum(F.col("n_k") * F.pow(F.col("conf_k") - F.col("acc_k"), 2)) / F.col("n")
    res = F.sum(F.col("n_k") * F.pow(F.col("acc_k") - F.col("ybar"), 2)) / F.col("n")
    unc = F.col("ybar") * (1 - F.col("ybar"))
    return (
        bins.crossJoin(F.broadcast(tot))
        .groupBy("n", "ybar", "brier")
        .agg(
            F.round(rel, 6).alias("reliability"),
            F.round(res, 6).alias("resolution"),
            F.round(
                F.col("brier") - (rel - res + unc), 6
            ).alias("within_bin_gap"),
        )
        .select(
            F.col("n").cast("long").alias("n"),
            "reliability",
            "resolution",
            F.round(unc, 6).alias("uncertainty"),
            F.round("brier", 6).alias("brier"),
            "within_bin_gap",
        )
    )
