"""Ninety-seventh oracle-registry module: model-based funnel
reachability and exact energy distance.

  * reach_probability_events — P(reach 'purchase' within k steps |
    current state) for k = 1..3 under the empirical order-1 Markov
    chain: the recursion r_k(s) = P(s→target) + Σ_{t≠target}
    P(s,t)·r_{k-1}(t) unrolled twice over the 5×5 transition table
    (tiny joins — the matrix-vector product shape of
    gnn_aggregate_events on the chain).  The MODEL-based funnel:
    a conversion funnel counts what happened; this predicts
    reach from any state, the quantity a nudge/intervention
    simulation needs.

  * energy_distance_docs — the exact two-sample energy distance
    D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| between the en and de n_chars
    distributions, computed in O(n log n) instead of O(n²): union
    both samples, one fully-specified sort, and running
    (count, sum) prefix windows give every Σ|a−b| term from integer
    arithmetic — ties contribute zero so side-ordering at equal
    values cannot change the result.  The metric that upgrades
    KS/Wasserstein to a proper two-sample TEST statistic usable in
    multivariate settings; here pinned exactly from integer sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_REACH_SQL = """
    WITH ordered AS (
      SELECT event_type AS s,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
      FROM events
    ),
    trans AS (
      SELECT s, t, COUNT(*) AS c FROM ordered WHERE t IS NOT NULL GROUP BY s, t
    ),
    marg AS (SELECT s, SUM(c) AS cs FROM trans GROUP BY s),
    p AS (
      SELECT t.s, t.t, t.c * 1.0 / m.cs AS p
      FROM trans t JOIN marg m ON t.s = m.s
    ),
    r1 AS (
      SELECT m.s, COALESCE(MAX(CASE WHEN p.t = 'purchase' THEN p.p END), 0.0) AS r
      FROM marg m LEFT JOIN p ON p.s = m.s GROUP BY m.s
    ),
    r2 AS (
      SELECT a.s, a.r + COALESCE(SUM(p.p * b.r), 0.0) AS r
      FROM r1 a
      LEFT JOIN p ON p.s = a.s AND p.t <> 'purchase'
      LEFT JOIN r1 b ON b.s = p.t
      GROUP BY a.s, a.r
    ),
    r3 AS (
      SELECT a.s, a.r + COALESCE(SUM(p.p * b.r), 0.0) AS r
      FROM r1 a
      LEFT JOIN p ON p.s = a.s AND p.t <> 'purchase'
      LEFT JOIN r2 b ON b.s = p.t
      GROUP BY a.s, a.r
    )
    SELECT r1.s AS state,
           ROUND(r1.r, 6) AS p_reach_1,
           ROUND(r2.r, 6) AS p_reach_2,
           ROUND(r3.r, 6) AS p_reach_3
    FROM r1 JOIN r2 ON r1.s = r2.s JOIN r3 ON r1.s = r3.s
"""


@register("reach_probability_events", _REACH_SQL)
def reach_probability_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("s"), F.lead("event_type").over(w).alias("t")
    )
    trans = (
        ordered.filter(F.col("t").isNotNull()).groupBy("s", "t").agg(F.count("*").alias("c"))
    )
    marg = trans.groupBy("s").agg(F.sum("c").alias("cs"))
    p = trans.join(marg, "s").select(
        "s", "t", (F.col("c") * 1.0 / F.col("cs")).alias("p")
    )
    r1 = (
        marg.join(p, "s", "left")
        .groupBy("s")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("t") == "purchase", F.col("p"))), F.lit(0.0)
            ).alias("r")
        )
    )

    def step(prev: DataFrame) -> DataFrame:
        pnp = p.filter(F.col("t") != "purchase")
        return (
            r1.alias("a")
            .join(pnp.alias("e"), F.col("a.s") == F.col("e.s"), "left")
            .join(
                prev.select(F.col("s").alias("bs"), F.col("r").alias("br")),
                F.col("e.t") == F.col("bs"),
                "left",
            )
            .groupBy(F.col("a.s").alias("s"), F.col("a.r").alias("base_r"))
            .agg(
                (
                    F.col("base_r")
                    + F.coalesce(F.sum(F.col("e.p") * F.col("br")), F.lit(0.0))
                ).alias("r")
            )
            .select("s", "r")
        )

    r2 = step(r1)
    r3 = step(r2)
    return (
        r1.select(F.col("s").alias("state"), F.col("r").alias("p_reach_1"))
        .join(r2.select(F.col("s").alias("state"), F.col("r").alias("p_reach_2")), "state")
        .join(r3.select(F.col("s").alias("state"), F.col("r").alias("p_reach_3")), "state")
        .select(
            "state",
            F.round("p_reach_1", 6).alias("p_reach_1"),
            F.round("p_reach_2", 6).alias("p_reach_2"),
            F.round("p_reach_3", 6).alias("p_reach_3"),
        )
    )


_ENERGY_SQL = """
    WITH u AS (
      SELECT n_chars AS v, CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS side, doc_id
      FROM documents WHERE lang IN ('en', 'de')
    ),
    runs AS (
      SELECT v, side, doc_id,
             COALESCE(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER w, 0) AS cx,
             COALESCE(SUM(CASE WHEN side = 0 THEN v ELSE 0 END) OVER w, 0) AS sx,
             COALESCE(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER w, 0) AS cy,
             COALESCE(SUM(CASE WHEN side = 1 THEN v ELSE 0 END) OVER w, 0) AS sy,
             row_number() OVER (PARTITION BY side ORDER BY v, doc_id) AS rk_side,
             COALESCE(SUM(v) OVER ws, 0) AS s_side
      FROM u
      WINDOW w AS (ORDER BY v, side, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             ws AS (PARTITION BY side ORDER BY v, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    sums AS (
      SELECT
        SUM(CASE WHEN side = 1 THEN cx * v - sx ELSE 0 END)
          + SUM(CASE WHEN side = 0 THEN cy * v - sy ELSE 0 END) AS sxy_abs,
        SUM(CASE WHEN side = 0 THEN (rk_side - 1) * v - s_side ELSE 0 END) AS sxx_half,
        SUM(CASE WHEN side = 1 THEN (rk_side - 1) * v - s_side ELSE 0 END) AS syy_half,
        SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n,
        SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS m
      FROM runs
    )
    SELECT CAST(n AS BIGINT) AS n_en, CAST(m AS BIGINT) AS n_de,
           ROUND(2.0 * sxy_abs / (n * m)
                 - 2.0 * sxx_half / (n * n)
                 - 2.0 * syy_half / (m * m), 6) AS energy_dist_sq
    FROM sums
"""


@register("energy_distance_docs", _ENERGY_SQL)
def energy_distance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("lang").isin("en", "de"))
    u = d.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("lang") == "en", 0).otherwise(1).alias("side"),
        "doc_id",
    )
    # Distributed form (round-4 window audit — the original global
    # sort windows ran over every en/de document).  Two attach passes:
    #   pass 1, ORDER BY (v, side, doc_id): the four cross-side
    #     EXCLUSIVE running sums, derived from inclusive prefix sums
    #     minus the current row's own contribution;
    #   pass 2, ORDER BY (side, v, doc_id): per-side rank and
    #     exclusive running value sum, via global rank/cumsum minus
    #     per-side offsets from a 2-row totals table (the per-side
    #     window would otherwise be two corpus-half partitions).
    # Joined back on the unique doc_id.
    from lnex_spark.operators.scalable_windows import attach_rank

    is0 = F.when(F.col("side") == 0, 1).otherwise(0)
    v0 = F.when(F.col("side") == 0, F.col("v")).otherwise(0)
    is1 = F.when(F.col("side") == 1, 1).otherwise(0)
    v1 = F.when(F.col("side") == 1, F.col("v")).otherwise(0)
    p1 = attach_rank(
        u,
        [F.col("v").asc(), F.col("side").asc(), F.col("doc_id").asc()],
        rank_col="_rn1",
        cumsums=[(is0, "c0i"), (v0, "s0i"), (is1, "c1i"), (v1, "s1i")],
    ).select(
        "doc_id",
        "v",
        "side",
        (F.col("c0i") - is0).alias("cx"),
        (F.col("s0i") - v0).alias("sx"),
        (F.col("c1i") - is1).alias("cy"),
        (F.col("s1i") - v1).alias("sy"),
    )
    p2 = attach_rank(
        u,
        [F.col("side").asc(), F.col("v").asc(), F.col("doc_id").asc()],
        rank_col="grn",
        cumsum_of="v",
        cumsum_col="vcum",
    )
    side_off = (
        p2.groupBy("side")
        .agg(F.count("*").alias("_n"), F.sum("v").alias("_s"))
        .select(
            "side",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("side").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("rows_before"),
            F.coalesce(
                F.sum("_s").over(
                    Window.orderBy("side").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("v_before"),
        )  # one row per side (2) — bounded
    )
    p2 = p2.join(F.broadcast(side_off), "side").select(
        "doc_id",
        (F.col("grn") - F.col("rows_before")).cast("int").alias("rk_side"),
        (F.col("vcum") - F.col("v") - F.col("v_before")).alias("s_side"),
    )
    runs = p1.join(p2, "doc_id").select(
        "v", "side", "cx", "sx", "cy", "sy", "rk_side", "s_side"
    )
    sums = runs.agg(
        (
            F.sum(
                F.when(F.col("side") == 1, F.col("cx") * F.col("v") - F.col("sx")).otherwise(0)
            )
            + F.sum(
                F.when(F.col("side") == 0, F.col("cy") * F.col("v") - F.col("sy")).otherwise(0)
            )
        ).alias("sxy_abs"),
        F.sum(
            F.when(
                F.col("side") == 0,
                (F.col("rk_side") - 1) * F.col("v") - F.col("s_side"),
            ).otherwise(0)
        ).alias("sxx_half"),
        F.sum(
            F.when(
                F.col("side") == 1,
                (F.col("rk_side") - 1) * F.col("v") - F.col("s_side"),
            ).otherwise(0)
        ).alias("syy_half"),
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("m"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_en"),
        F.col("m").cast("long").alias("n_de"),
        F.round(
            2.0 * F.col("sxy_abs") / (F.col("n") * F.col("m"))
            - 2.0 * F.col("sxx_half") / (F.col("n") * F.col("n"))
            - 2.0 * F.col("syy_half") / (F.col("m") * F.col("m")),
            6,
        ).alias("energy_dist_sq"),
    )
