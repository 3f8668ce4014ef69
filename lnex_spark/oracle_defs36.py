"""Thirty-sixth oracle-registry module: sorted-neighborhood blocking,
bigram language-model scoring, and RFM segmentation.

  * sorted_neighborhood_docs — the OTHER classic ER blocking method
    (Hernández & Stolfo's sorted-neighborhood): sort on a content
    prefix key, take pairs within a rank window of 3, report
    reduction and pair completeness against identical-text truth on
    the dup-injected corpus.  Complements blocking_quality
    (MinHash-LSH) so both standard blocking families are measured.
    The global sort is the method's essence — at corpus scale it is
    repartitionByRange + sortWithinPartitions with window-width
    boundary overlap (the layout machinery already evidenced by the
    range-clustering test); here the rank window runs over the
    corpus-sized sorted table directly.
  * bigram_lm_score_docs — per-document cross-entropy under the
    corpus bigram LM with add-one smoothing: the n-gram upgrade of
    unigram LM scoring, the quality signal behind perplexity
    filtering of training corpora.  Two count tables + one join per
    doc bigram; smoothing denominators are exact integers.
  * rfm_users — recency/frequency/monetary quintile segmentation:
    the standard user-value report.  ntile(5) under fully-specified
    (metric, user_id) orderings so bucket edges are deterministic on
    both engines; the three global ntile windows run over the
    user-count-sized aggregate, not the event table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- sorted-neighborhood blocking quality ----------------------------------
_SN_SQL = """
    WITH uni AS (
      SELECT doc_id, lower(trim(text)) AS norm FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lower(trim(text)) FROM documents WHERE doc_id < 50
    ),
    keyed AS (
      SELECT doc_id, norm, substr(norm, 1, 24) AS sk,
             row_number() OVER (ORDER BY substr(norm, 1, 24), doc_id) AS rn
      FROM uni
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM keyed a JOIN keyed b
        ON b.rn > a.rn AND b.rn <= a.rn + 3
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM uni a JOIN uni b
        ON a.norm = b.norm AND a.doc_id < b.doc_id
    ),
    caught AS (
      SELECT t.doc_a FROM truth t
      WHERE EXISTS (SELECT 1 FROM cand c
                    WHERE (c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
                       OR (c.doc_a = t.doc_b AND c.doc_b = t.doc_a))
    )
    SELECT (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM truth) AS n_true_pairs,
           (SELECT count(*) FROM caught) AS n_caught,
           round((SELECT count(*) FROM caught) * 1.0
                 / (SELECT count(*) FROM truth), 6) AS pair_completeness
"""


@register("sorted_neighborhood_docs", _SN_SQL)
def sorted_neighborhood_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim("text")).alias("norm")
    )
    uni = d.unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "norm"
        )
    )
    keyed = uni.select(
        "doc_id",
        "norm",
        F.substring("norm", 1, 24).alias("sk"),
    )
    # distributed sort-key rank over ALL documents (round-4 audit)
    from lnex_spark.operators.scalable_windows import attach_rank

    keyed = attach_rank(
        keyed, [F.col("sk").asc(), F.col("doc_id").asc()], rank_col="rn"
    ).select("doc_id", "norm", "rn")
    a = keyed.select(F.col("doc_id").alias("doc_a"), F.col("rn").alias("ra"))
    b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("rn").alias("rb"))
    cand = a.join(
        b, (F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + 3)
    ).select("doc_a", "doc_b")
    ta = uni.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("na"))
    tb = uni.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("nb"))
    truth = ta.join(
        tb, (F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))
    ).select("doc_a", "doc_b")
    sym = cand.unionByName(
        cand.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    caught = truth.join(sym, ["doc_a", "doc_b"], "left_semi")
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nt = truth.agg(F.count("*").alias("n_true_pairs"))
    ng = caught.agg(F.count("*").alias("n_caught"))
    return (
        nc.crossJoin(nt)
        .crossJoin(ng)
        .select(
            "n_candidates",
            "n_true_pairs",
            "n_caught",
            F.round(F.col("n_caught") * 1.0 / F.col("n_true_pairs"), 6).alias(
                "pair_completeness"
            ),
        )
    )


# --- bigram LM cross-entropy per document ----------------------------------
_BIGRAM_LM_SQL = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ),
    big AS (
      SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
      FROM toks, unnest(range(1, len(t))) AS r(i)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c) AS c FROM c2 GROUP BY 1),
    v AS (
      SELECT count(DISTINCT w) AS v FROM (
        SELECT w1 AS w FROM c2 UNION SELECT w2 FROM c2)
    ),
    scored AS (
      SELECT b.doc_id,
             ln((c2.c + 1.0) / (c1.c + v.v)) AS lp
      FROM big b
      JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
      JOIN c1 ON c1.w1 = b.w1
      CROSS JOIN v
      WHERE b.doc_id < 200
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(-avg(lp), 6) AS cross_entropy
    FROM scored GROUP BY doc_id
"""


@register("bigram_lm_score_docs", _BIGRAM_LM_SQL)
def bigram_lm_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-entropy of each doc (doc_id < 200) under the corpus
    bigram LM with add-one smoothing: P(w2|w1) = (C12+1)/(C1+V).
    The bigram/unigram count tables are vocabulary²-bounded and
    broadcastable; the per-doc join is the only corpus-sized step."""
    pos = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "pos", "tok"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        pos.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = (
        c2.select(F.col("w1").alias("w"))
        .union(c2.select("w2"))
        .distinct()
        .agg(F.count("*").alias("v"))
    )
    scored = (
        big.filter(F.col("doc_id") < 200)
        .join(F.broadcast(c2), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.avg("lp"), 6).alias("cross_entropy"),
    )


# --- RFM quintile segmentation ---------------------------------------------
_RFM_SQL = """
    WITH agg AS (
      SELECT user_id,
             date_diff('day', CAST(max(ts) AS DATE),
                       (SELECT CAST(max(ts) AS DATE) FROM events)) AS recency_days,
             count(*) AS frequency,
             round(sum(value), 6) AS monetary
      FROM events GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
           ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
           ntile(5) OVER (ORDER BY monetary ASC, user_id) AS m_score
    FROM agg
"""


@register("rfm_users", _RFM_SQL)
def rfm_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/frequency/monetary quintiles (5 = best: most recent,
    most frequent, highest spend).  ntile windows run over the
    user-count-sized aggregate under fully-specified orderings."""
    ev = _t(spark, sf_dir, "events")
    corpus_max = ev.agg(F.max(F.col("ts").cast("date")).alias("cm"))
    agg = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_d"),
            F.count("*").alias("frequency"),
            F.round(F.sum("value"), 6).alias("monetary"),
        )
        .crossJoin(F.broadcast(corpus_max))
        .select(
            "user_id",
            F.datediff("cm", "last_d").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # three distributed NTILEs over the per-USER table (raw scale at
    # 100 TB): global rank + arithmetic tiling (round-4 window audit)
    from lnex_spark.operators.scalable_windows import attach_rank, ntile_expr

    nt = F.broadcast(agg.agg(F.count("*").alias("_nt")))
    r1 = attach_rank(
        agg, [F.col("recency_days").desc(), F.col("user_id").asc()], rank_col="_r1"
    )
    r2 = attach_rank(
        r1, [F.col("frequency").asc(), F.col("user_id").asc()], rank_col="_r2"
    )
    r3 = attach_rank(
        r2, [F.col("monetary").asc(), F.col("user_id").asc()], rank_col="_r3"
    )
    return r3.crossJoin(nt).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        ntile_expr("_r1", F.col("_nt"), 5).alias("r_score"),
        ntile_expr("_r2", F.col("_nt"), 5).alias("f_score"),
        ntile_expr("_r3", F.col("_nt"), 5).alias("m_score"),
    )
