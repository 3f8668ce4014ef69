"""Thirty-fifth oracle-registry module: time-series diagnostics,
community quality, and lexical diversity.

  * autocorr_events — lag-1 and lag-7 autocorrelation of the daily
    mean value series: the stationarity/seasonality diagnostic read
    before trusting any drift statistic.  Lag pairs via a date-
    arithmetic self-join on the (day-count-sized) daily table;
    Pearson r written in the raw-moment form, identically on both
    engines.
  * seasonal_residuals_events — daily totals against their same-
    weekday baseline, z-scored within weekday.  Weekday comes from
    datediff-mod-7 against a fixed anchor (pure integer arithmetic —
    sidesteps the Spark↔DuckDB dow-numbering divergence documented
    at date_funcs_orders).  The seasonal-naive residual screen that
    catches "this Monday is unlike other Mondays" where a global
    z-score cannot.
  * modularity_events — Newman modularity Q of the verified LPA
    communities over the co-occurrence graph: community detection
    plus its quality measurement in one value-checked op (compose
    the unrolled LPA fixpoint, then Q = Σ_c e_c/m − (deg_c/2m)²).
  * lexical_diversity_docs — type-token ratio and hapax share per
    language: the lexical-diversity profile (complements entropy and
    Zipf slope in the corpus-statistics suite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lnex_spark.oracle_defs12 import _LPA_SQL
from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- lag-k autocorrelation of the daily series -----------------------------
_AUTOCORR_SQL = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, avg(value) AS x FROM events GROUP BY 1
    ),
    lags(lag_k) AS (VALUES (1), (7)),
    pairs AS (
      SELECT l.lag_k, a.x AS x, b.x AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d - l.lag_k
    )
    SELECT lag_k, count(*) AS n_pairs,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / sqrt((count(*) * sum(x * x) - sum(x) * sum(x))
                        * (count(*) * sum(y * y) - sum(y) * sum(y))), 6) AS r
    FROM pairs GROUP BY lag_k
"""


@register("autocorr_events", _AUTOCORR_SQL)
def autocorr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.avg("value").alias("x"))
    )
    lags = spark.createDataFrame([(1,), (7,)], "lag_k int")
    a = daily.alias("a")
    b = daily.select(F.col("d").alias("bd"), F.col("x").alias("y"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("bd") == F.expr("date_sub(d, lag_k)"))
        .select("lag_k", "x", "y")
    )
    n = F.count("*")
    num = n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")
    den = F.sqrt(
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        * (n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y"))
    )
    return pairs.groupBy("lag_k").agg(
        n.alias("n_pairs"), F.round(num / den, 6).alias("r")
    )


# --- seasonal (same-weekday) residuals -------------------------------------
_SEASONAL_SQL = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS wd,
             sum(value) AS total
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT wd, avg(total) AS wd_mean, stddev_pop(total) AS wd_std,
             count(*) AS wd_n
      FROM daily GROUP BY wd
    )
    SELECT d, daily.wd, round(total, 6) AS total,
           round(wd_mean, 6) AS wd_mean,
           round(total - wd_mean, 6) AS resid,
           round(CASE WHEN wd_std > 0 THEN (total - wd_mean) / wd_std
                      ELSE 0 END, 6) AS z
    FROM daily JOIN base ON daily.wd = base.wd
"""


@register("seasonal_residuals_events", _SEASONAL_SQL)
def seasonal_residuals_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    anchor = F.lit("2024-01-01").cast("date")
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("ts").cast("date").alias("d"),
            (F.datediff(F.col("ts").cast("date"), anchor) % 7).alias("wd"),
        )
        .agg(F.sum("value").alias("total"))
    )
    base = daily.groupBy("wd").agg(
        F.avg("total").alias("wd_mean"),
        F.stddev_pop("total").alias("wd_std"),
        F.count("*").alias("wd_n"),
    )
    j = daily.join(F.broadcast(base), "wd")
    z = F.when(
        F.col("wd_std") > 0, (F.col("total") - F.col("wd_mean")) / F.col("wd_std")
    ).otherwise(0.0)
    return j.select(
        "d",
        "wd",
        F.round("total", 6).alias("total"),
        F.round("wd_mean", 6).alias("wd_mean"),
        F.round(F.col("total") - F.col("wd_mean"), 6).alias("resid"),
        F.round(z, 6).alias("z"),
    )


# --- modularity of the LPA communities -------------------------------------
_MOD_SQL = (
    _LPA_SQL[: _LPA_SQL.rindex("SELECT node, label FROM l3")].rstrip()
    + """,
    labels AS (SELECT node, label FROM l3),
    m AS (SELECT count(*) / 2.0 AS m FROM und),
    e_in AS (
      SELECT la.label, count(*) / 2.0 AS ec
      FROM und
      JOIN labels la ON und.a = la.node
      JOIN labels lb ON und.b = lb.node
      WHERE la.label = lb.label GROUP BY la.label
    ),
    deg AS (
      SELECT la.label, count(*) AS dc
      FROM und JOIN labels la ON und.a = la.node GROUP BY la.label
    )
    SELECT count(*) AS n_communities,
           round(sum(coalesce(ec, 0) / m.m
                     - (dc / (2.0 * m.m)) * (dc / (2.0 * m.m))), 6) AS modularity
    FROM deg LEFT JOIN e_in ON deg.label = e_in.label CROSS JOIN m
"""
)


@register("modularity_events", _MOD_SQL)
def modularity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 3-round LPA communities (same graph
    and label derivation as lpa_communities_events): per community the
    internal-edge share minus the squared degree share, summed.
    One edge⋈label join per term over the already-partitioned edge
    list; the oracle re-derives labels via the unrolled LPA CTEs."""
    from lnex_spark.operators.graph import label_propagation, undirect

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("user_id", "event_type", F.date_trunc("hour", "ts").alias("hb"))
        .distinct()
    )
    a, b = ev.alias("a"), ev.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hb") == F.col("b.hb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("doc_a"), F.col("b.user_id").alias("doc_b"))
        .distinct()
    )
    labels = label_propagation(edges, iterations=3)
    und = undirect(edges)
    m = und.agg((F.count("*") / 2.0).alias("m"))
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("label_a"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("label_b"))
    e_in = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg((F.count("*") / 2.0).alias("ec"))
    )
    deg = (
        und.join(la, "a")
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count("*").alias("dc"))
    )
    comp = deg.join(e_in, "label", "left").crossJoin(F.broadcast(m))
    term = F.coalesce(F.col("ec"), F.lit(0.0)) / F.col("m") - (
        F.col("dc") / (2.0 * F.col("m"))
    ) * (F.col("dc") / (2.0 * F.col("m")))
    return comp.agg(
        F.count("*").alias("n_communities"),
        F.round(F.sum(term), 6).alias("modularity"),
    )


# --- lexical diversity per language ----------------------------------------
_LEX_SQL = r"""
    WITH toks AS (
      SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT lang, tok, count(*) AS c FROM toks WHERE len(tok) > 0 GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           round(count(*) * 1.0 / sum(c), 6) AS ttr,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS hapax_share
    FROM tf GROUP BY lang
"""


@register("lexical_diversity_docs", _LEX_SQL)
def lexical_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            "lang", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
        )
        .filter(F.length("tok") > 0)
    )
    tf = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    return tf.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.round(F.count("*") * 1.0 / F.sum("c"), 6).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) * 1.0 / F.count("*"), 6
        ).alias("hapax_share"),
    )
