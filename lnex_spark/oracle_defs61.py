"""Sixty-first oracle-registry module: conformal prediction,
Good-Turing smoothing, and difference-in-differences.

  * conformal_events — split-conformal prediction interval for the
    value metric: an md5-gated calibration split, a per-type mean
    model fit on the proper-training split, the 90th-percentile
    absolute residual on the calibration split as an EXACT ordered
    row pick (fully-specified tie order), and the empirical
    coverage of mean±q on the held-out split.  The
    distribution-free uncertainty wrapper for any point model;
    everything is aggregates plus one keyed quantile pick.

  * good_turing_docs — Good-Turing frequency smoothing from the
    count-of-counts table of token TRIGRAMS over a fixed 300-doc
    slice (unigrams of this closed-vocabulary corpus have no rare
    events — trigrams restore the Zipf tail: N1…N5 all populated):
    r* = (r+1)·N_{r+1}/N_r for r ≤ 5 plus the unseen-mass estimate
    N_1/N — the classical LM mass-reallocation, two hash aggregates
    (gram counts, then counts-of-counts).

  * did_events — difference-in-differences: md5 user arms × the two
    half-month periods, the 2×2 mean table and the DiD estimate
    (treatmentΔ − controlΔ) with its pooled standard error from
    per-cell variances.  The quasi-experimental readout when
    randomization isn't available, where a randomized test would use
    a two-sample z or Welch t statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_CONF_SQL = """
    WITH split AS (
      SELECT event_id, event_type, value,
             CAST(('0x' || substr(md5('conf-v1#' || CAST(event_id AS VARCHAR)), 1, 4))
                  AS INTEGER) % 3 AS part  -- 0=train, 1=calibration, 2=test
      FROM events
    ),
    model AS (
      SELECT event_type, AVG(value) AS mu FROM split WHERE part = 0 GROUP BY event_type
    ),
    calib AS (
      SELECT abs(s.value - m.mu) AS resid, s.event_id
      FROM split s JOIN model m ON s.event_type = m.event_type
      WHERE s.part = 1
    ),
    ranked AS (
      SELECT resid,
             row_number() OVER (ORDER BY resid, event_id) AS rk,
             COUNT(*) OVER () AS n
      FROM calib
    ),
    q AS (
      SELECT resid AS q90 FROM ranked WHERE rk = CAST(ceil(0.9 * n) AS BIGINT)
    ),
    test AS (
      SELECT CASE WHEN abs(s.value - m.mu) <= (SELECT q90 FROM q) THEN 1 ELSE 0 END AS covered
      FROM split s JOIN model m ON s.event_type = m.event_type
      WHERE s.part = 2
    )
    SELECT (SELECT ROUND(q90, 6) FROM q) AS q90,
           COUNT(*) AS n_test,
           ROUND(AVG(covered * 1.0), 6) AS coverage
    FROM test
"""


@register("conformal_events", _CONF_SQL)
def conformal_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    split = ev.select(
        "event_id",
        "event_type",
        "value",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("conf-v1#"), F.col("event_id").cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % 3
        ).alias("part"),
    )
    model = split.filter(F.col("part") == 0).groupBy("event_type").agg(F.avg("value").alias("mu"))
    calib = (
        split.filter(F.col("part") == 1)
        .join(model, "event_type")
        .select(F.abs(F.col("value") - F.col("mu")).alias("resid"), "event_id")
    )
    # distributed rank over the calibration EVENTS (raw scale) +
    # broadcast total — round-4 window audit
    from lnex_spark.operators.scalable_windows import attach_rank

    ranked = attach_rank(
        calib, [F.col("resid").asc(), F.col("event_id").asc()], rank_col="rk"
    ).crossJoin(F.broadcast(calib.agg(F.count("*").alias("n"))))
    q = ranked.filter(F.col("rk") == F.ceil(0.9 * F.col("n")).cast("long")).select(
        F.col("resid").alias("q90")
    )
    test = (
        split.filter(F.col("part") == 2)
        .join(model, "event_type")
        .crossJoin(q)
        .select(
            F.when(F.abs(F.col("value") - F.col("mu")) <= F.col("q90"), 1)
            .otherwise(0)
            .alias("covered"),
            "q90",
        )
    )
    return test.agg(
        F.round(F.min("q90"), 6).alias("q90"),
        F.count("*").alias("n_test"),
        F.round(F.avg(F.col("covered") * 1.0), 6).alias("coverage"),
    )


_GT_SQL = r"""
    WITH arrs AS (
      SELECT string_split_regex(lower(trim(text)), '\s+') AS ts
      FROM documents WHERE doc_id < 300
    ),
    toks AS (
      SELECT ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS tok
      FROM arrs, (SELECT unnest(range(1, 2000)) AS i) r
      WHERE i + 2 <= len(ts)
    ),
    freq AS (SELECT tok, COUNT(*) AS r FROM toks GROUP BY tok),
    coc AS (SELECT r, COUNT(*) AS nr FROM freq GROUP BY r),
    tot AS (SELECT SUM(r * nr) AS n_tokens FROM coc)
    SELECT c.r, c.nr,
           ROUND((c.r + 1) * nxt.nr * 1.0 / c.nr, 6) AS r_star,
           ROUND((SELECT nr FROM coc WHERE r = 1) * 1.0 / (SELECT n_tokens FROM tot), 6)
             AS unseen_mass
    FROM coc c JOIN coc nxt ON nxt.r = c.r + 1
    WHERE c.r <= 5
"""


@register("good_turing_docs", _GT_SQL)
def good_turing_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    arrs = d.select(F.split(F.lower(F.trim("text")), r"\s+").alias("ts"))
    toks = arrs.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 3), i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"
            )
        ).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("r"))
    coc = freq.groupBy("r").agg(F.count("*").alias("nr"))
    tot = coc.agg(F.sum(F.col("r") * F.col("nr")).alias("n_tokens"))
    n1 = coc.filter(F.col("r") == 1).select(F.col("nr").alias("n1"))
    nxt = coc.select((F.col("r") - 1).alias("r"), F.col("nr").alias("nr_next"))
    return (
        coc.join(nxt, "r")
        .filter(F.col("r") <= 5)
        .crossJoin(tot)
        .crossJoin(n1)
        .select(
            "r",
            "nr",
            F.round((F.col("r") + 1) * F.col("nr_next") * 1.0 / F.col("nr"), 6).alias("r_star"),
            F.round(F.col("n1") * 1.0 / F.col("n_tokens"), 6).alias("unseen_mass"),
        )
    )


_DID_SQL = """
    WITH cells AS (
      SELECT CASE WHEN CAST(('0x' || substr(md5('did-v1#' || CAST(user_id AS VARCHAR)), 1, 4))
                       AS INTEGER) % 2 = 0 THEN 0 ELSE 1 END AS treated,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 0 ELSE 1 END AS post,
             value
      FROM events
    ),
    mom AS (
      SELECT treated, post, COUNT(*) AS n, AVG(value) AS m,
             (SUM(value * value) - COUNT(*) * AVG(value) * AVG(value)) / (COUNT(*) - 1.0) AS s2
      FROM cells GROUP BY treated, post
    ),
    wide AS (
      SELECT MAX(CASE WHEN treated = 1 AND post = 1 THEN m END) AS t1,
             MAX(CASE WHEN treated = 1 AND post = 0 THEN m END) AS t0,
             MAX(CASE WHEN treated = 0 AND post = 1 THEN m END) AS c1,
             MAX(CASE WHEN treated = 0 AND post = 0 THEN m END) AS c0,
             SUM(s2 / n) AS se2
      FROM mom
    )
    SELECT ROUND(t1 - t0, 6) AS delta_treated,
           ROUND(c1 - c0, 6) AS delta_control,
           ROUND((t1 - t0) - (c1 - c0), 6) AS did,
           ROUND(sqrt(se2), 6) AS se
    FROM wide
"""


@register("did_events", _DID_SQL)
def did_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = ev.select(
        F.when(
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("did-v1#"), F.col("user_id").cast("string"))), 1, 4
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(2),
            )
            == 0,
            0,
        ).otherwise(1).alias("treated"),
        F.when(F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), 0)
        .otherwise(1)
        .alias("post"),
        "value",
    )
    mom = cells.groupBy("treated", "post").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        (
            (F.sum(F.col("value") * F.col("value")) - F.count("*") * F.avg("value") * F.avg("value"))
            / (F.count("*") - 1.0)
        ).alias("s2"),
    )
    wide = mom.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), F.col("m"))).alias("t1"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), F.col("m"))).alias("t0"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), F.col("m"))).alias("c1"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), F.col("m"))).alias("c0"),
        F.sum(F.col("s2") / F.col("n")).alias("se2"),
    )
    return wide.select(
        F.round(F.col("t1") - F.col("t0"), 6).alias("delta_treated"),
        F.round(F.col("c1") - F.col("c0"), 6).alias("delta_control"),
        F.round((F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 6).alias("did"),
        F.round(F.sqrt("se2"), 6).alias("se"),
    )
