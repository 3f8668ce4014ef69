"""Forty-fourth oracle-registry module: generation-degeneracy signals.

  * intradoc_repeats — the most-repeated 3-gram WITHIN each document
    (docs whose top shingle occurs more than once): the repetition-
    loop detector for model-generated text — a corpus-level
    repetition rate says how often, this localizes WHICH n-gram loops
    per doc.  Non-distinct shingle counts per doc + a deterministic
    top-1 pick.
  * char_entropy_docs — character-level Shannon entropy per document
    (doc_id < 200): the lowest-level degeneracy signal (collapsed
    generations have low char entropy), complementing the
    token-level per-language entropy already verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lnex_spark.oracles import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- most-repeated 3-gram per document -------------------------------------
_REPEATS_SQL = r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ),
    sh AS (
      SELECT doc_id,
             t[CAST(i AS INT)] || ' ' || t[CAST(i+1 AS INT)] || ' '
               || t[CAST(i+2 AS INT)] AS shingle
      FROM d, unnest(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    cnt AS (SELECT doc_id, shingle, count(*) AS c FROM sh GROUP BY 1, 2)
    SELECT doc_id, shingle, c AS n_repeats FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY c DESC, shingle ASC) AS rk
      FROM cnt) WHERE rk = 1 AND c > 1
"""


@register("intradoc_repeats", _REPEATS_SQL)
def intradoc_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lnex_spark.operators.dedup import _grams

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t")
        )
        .where(F.size("t") >= 3)
    )
    sh = d.select("doc_id", F.explode(_grams(F.col("t"), 3)).alias("shingle"))
    cnt = sh.groupBy("doc_id", "shingle").agg(F.count("*").alias("c"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("c").desc(), F.col("shingle").asc()
    )
    return (
        cnt.select("doc_id", "shingle", "c", F.row_number().over(w).alias("rk"))
        .filter((F.col("rk") == 1) & (F.col("c") > 1))
        .select("doc_id", "shingle", F.col("c").alias("n_repeats"))
    )


# --- character-level entropy per document ----------------------------------
_CHAR_ENTROPY_SQL = """
    WITH ch AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS c
      FROM documents, unnest(range(1, len(text) + 1)) AS r(i)
      WHERE doc_id < 200 AND len(text) > 0
    ),
    cf AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
    tot AS (SELECT doc_id, sum(n) AS t FROM cf GROUP BY doc_id)
    SELECT cf.doc_id,
           CAST(tot.t AS BIGINT) AS n_chars,
           count(*) AS n_distinct_chars,
           round(-sum((n * 1.0 / t) * ln(n * 1.0 / t)), 6) AS char_entropy
    FROM cf JOIN tot ON cf.doc_id = tot.doc_id
    GROUP BY cf.doc_id, tot.t
"""


@register("char_entropy_docs", _CHAR_ENTROPY_SQL)
def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = (
        _t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & (F.length("text") > 0))
        .select("doc_id", F.explode(F.split("text", "")).alias("c"))
    )
    cf = ch.groupBy("doc_id", "c").agg(F.count("*").alias("n"))
    tot = cf.groupBy("doc_id").agg(F.sum("n").alias("t"))
    p = F.col("n") * 1.0 / F.col("t")
    return (
        cf.join(tot, "doc_id")
        .groupBy("doc_id", "t")
        .agg(
            F.count("*").alias("n_distinct_chars"),
            F.round(-F.sum(p * F.log(p)), 6).alias("char_entropy"),
        )
        .select(
            "doc_id",
            F.col("t").alias("n_chars"),
            "n_distinct_chars",
            "char_entropy",
        )
    )
