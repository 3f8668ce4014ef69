"""Entity linking, candidate scoring, canonicalization (L1, L2, L3).

Reference behavior: LNEx returns the full candidate geo-id set per
mention (a dict lookup at match time ≙ a broadcast hash equi-join);
the scoring/canonicalization layer is the KG mandate on top (SURVEY.md
§2A L2/L3). All relational, all built-ins:

  L1  mentions ⋈ broadcast(variants) on norm     — broadcast hash join,
      zero shuffle (gazetteer ≪ transcripts, the defining asymmetry)
  L2  min_by aggregate per mention over the deterministic sort key
      (match_type desc, cat_priority asc, geo_id asc) — map-side
      partial aggregation, ~one shuffled row per mention
  L3  two-stage hash agg: votes per (norm, geo_id) → majority winner
      per norm (count desc, geo_id asc) — tiny shuffle (distinct
      surface forms, not turns)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def link_mentions(
    mentions: DataFrame, variants: DataFrame, hint_broadcast: bool = True
) -> DataFrame:
    """L1: surface form → candidate geo entities (broadcast hash join).

    ``hint_broadcast=False`` drops the hint for the planet-scale case
    where the gazetteer exceeds broadcast limits — Catalyst then picks
    sort-merge, and results are identical (plan-invariance is tested in
    tests/test_scale_fallbacks.py)."""
    gaz = variants.select("norm", "geo_id", "match_type", "cat_priority", "category", "region")
    if hint_broadcast:
        gaz = F.broadcast(gaz)
    return mentions.join(gaz, on="norm", how="inner")


def score_candidates(linked: DataFrame) -> DataFrame:
    """L2: keep the best candidate per mention span, deterministically
    — order (match_type desc, cat_priority asc, geo_id asc).

    Top-1-per-group is an AGGREGATION (min_by over a sort-key struct),
    not a ranking window, on purpose: windows get no map-side partial
    aggregation, so a window would shuffle every candidate row; the
    agg form combines candidates within each map partition and
    shuffles ~one row per mention — at 10^12 turns that is the
    difference between shuffling all L1 output and shuffling the
    mention set. The key struct is unique per candidate (geo_id), so
    the result is deterministic and identical to the window form
    (asserted by the kg_e2e_sql / flagship oracles)."""
    cols = linked.columns
    sort_key = F.struct(
        (-F.col("match_type")).alias("mt"),
        F.col("cat_priority").alias("cp"),
        F.col("geo_id").alias("g"),
    )
    picked = linked.groupBy("conv_id", "turn_idx", "start", "end").agg(
        F.min_by(F.struct(*[F.col(c) for c in cols]), sort_key).alias("_best")
    )
    return picked.select(*[F.col(f"_best.{c}").alias(c) for c in cols])


def canonicalize(winners: DataFrame) -> DataFrame:
    """L3: one geo entity per normalized surface form, corpus-wide
    majority vote over L2 winners (ties → smaller geo_id).

    Two hash aggregations, both partial+final (same agg-over-window
    rationale as score_candidates): vote counting keyed by
    (norm, geo_id), then max_by over (votes, -geo_id) keyed by norm —
    highest vote count, smallest geo_id on ties."""
    votes = winners.groupBy("norm", "geo_id").agg(F.count("*").alias("votes"))
    return votes.groupBy("norm").agg(
        F.max_by(
            "geo_id", F.struct(F.col("votes").alias("v"), (-F.col("geo_id")).alias("g"))
        ).alias("canonical_geo_id")
    )


def apply_canonical(winners: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite every mention to its surface form's canonical entity."""
    return (
        winners.join(F.broadcast(canon), on="norm", how="inner")
        .drop("geo_id")
        .withColumnRenamed("canonical_geo_id", "geo_id")
    )
