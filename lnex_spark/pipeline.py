"""The flagship job: transcripts → location-mention KG triples
(SURVEY.md §3.3). Composes G1-G7 → X2 → (T2+T3+M1-M3) → L1-L3 → K1-K2.

Physical plan of record (§4.4): three shuffles total —
  #1 the salted repartition in front of the extraction UDF (skew),
  #2 the L2 best-candidate aggregation (keyed by mention; min_by with
     map-side partial aggregation — see operators/link.py),
  #3 the L3 canonical vote (keyed by distinct surface form — tiny).
The gazetteer side never shuffles the big table: L1 is a broadcast
hash join. The extraction stage is one mapInPandas (one Arrow
boundary).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lnex_spark.gazetteer.build import (
    build_match_struct,
    build_name_variants,
    build_unigram_lm,
    scan_gazetteer,
)
from lnex_spark.operators.extract import extract_mentions_df
from lnex_spark.operators.link import apply_canonical, canonicalize, link_mentions, score_candidates
from lnex_spark.operators.skew import salt_repartition
from lnex_spark.operators.triples import mention_triples, region_triples


@dataclass
class GazetteerModel:
    """Built gazetteer artifacts: the variant table (relational side of
    L1) and the broadcast match structure (imperative side of M1)."""

    variants: DataFrame
    unigram: DataFrame
    bc_struct: object = field(repr=False, default=None)


def build_gazetteer(
    spark: SparkSession,
    gazetteer_df: DataFrame,
    stopwords_df: DataFrame,
    wordlist_df: DataFrame | None = None,
    bbox: list[float] | None = None,
    mode: str = "hp",
) -> GazetteerModel:
    gaz = scan_gazetteer(spark, gazetteer_df, bbox)
    variants = build_name_variants(gaz, stopwords_df, mode=mode)
    # the variant table is read twice (L1 join + G7 collect) and is
    # small by construction (region-scoped) → cache it
    variants = variants.cache()
    unigram = build_unigram_lm(variants, wordlist_df)
    bc = build_match_struct(spark, variants, unigram)
    return GazetteerModel(variants=variants, unigram=unigram, bc_struct=bc)


def save_gazetteer_model(model: GazetteerModel, path: str) -> None:
    """Persist the built gazetteer (reference parity: LNEx's
    ``cache=True`` pickles its dicts; here the variant table and
    unigram LM are parquet, rebuildable into a broadcast on load —
    table-format artifacts a whole cluster can share, not a local
    pickle)."""
    model.variants.write.mode("overwrite").parquet(f"{path}/variants")
    model.unigram.write.mode("overwrite").parquet(f"{path}/unigram")


def load_gazetteer_model(spark: SparkSession, path: str) -> GazetteerModel:
    """Load a saved gazetteer model and rebuild the broadcast match
    structure (skips the scan/normalize/augment/filter stages — the
    cache-hit path of the reference's ``initialize(cache=True)``)."""
    from lnex_spark.gazetteer.build import build_match_struct

    variants = spark.read.parquet(f"{path}/variants").cache()
    unigram = spark.read.parquet(f"{path}/unigram")
    bc = build_match_struct(spark, variants, unigram)
    return GazetteerModel(variants=variants, unigram=unigram, bc_struct=bc)


def extract_link(
    transcripts: DataFrame,
    model: GazetteerModel,
    salt_partitions: int | None = None,
    persist_winners: bool = True,
    dedup_texts: bool | str = False,
) -> DataFrame:
    """transcripts → canonical linked mentions (conv_id, turn_idx,
    start, end, surface, norm, geo_id, ...).

    ``winners`` feeds BOTH the canonical-vote aggregation and the final
    rewrite join; without materialization Catalyst would recompute the
    expensive extraction UDF stage twice, so the winner set (tiny
    relative to input) is persisted — the batch analogue of the
    checkpoint run_resumable writes to parquet.

    ``dedup_texts``: False → direct extraction over every turn;
    True → extract once per distinct text and join back
    (operators/extract.extract_mentions_dedup_df — identical output,
    pays two text-keyed shuffles to divide the Python stage by the
    duplication ratio); 'auto' → one cheap JVM-side
    approx_count_distinct pass decides (dedup iff distinct/total <
    0.3 — MEASURED at sf0.1/local[16], 300-variant gazetteer, 200k
    turns: 40x verbatim duplication (ratio 0.025) direct 1.36s vs
    dedup 1.16s, while mild 2.4x duplication (ratio 0.42) direct
    1.40s vs dedup 1.64s — this matcher is cheap enough that only
    heavy duplication beats the two text-keyed shuffles; a costlier
    matcher (planet gazetteer, long documents) moves the break-even
    toward 1.0, so the threshold is a job parameter, not an engine
    constant).
    """
    from lnex_spark.operators.extract import extract_mentions_dedup_df

    t = transcripts
    if salt_partitions:
        t = salt_repartition(t, salt_partitions)
    if dedup_texts == "auto":
        stats = t.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("text").alias("d"),
        ).first()
        dedup_texts = stats.n > 0 and stats.d / stats.n < 0.3
    if dedup_texts:
        mentions = extract_mentions_dedup_df(t, model.bc_struct)
    else:
        mentions = extract_mentions_df(t, model.bc_struct)
    linked = link_mentions(mentions, model.variants)
    winners = score_candidates(linked)
    if persist_winners:
        # lazy persist, deliberately: the canonical vote and the rewrite
        # join both read winners in the final job, and the BlockManager's
        # per-partition cache locking already guarantees the extraction
        # computes once (the second branch blocks on the lock and reads
        # the cached block). An eager .count() was A/B-measured at both
        # 200k/local[32] and 2M/local[16] pinned: differences were inside
        # host noise, and eager adds a job barrier — so one job, lazily.
        winners = winners.persist()
    canon = canonicalize(winners)
    return apply_canonical(winners, canon)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer_df: DataFrame,
    stopwords_df: DataFrame,
    wordlist_df: DataFrame | None = None,
    bbox: list[float] | None = None,
    mode: str = "hp",
    salt_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (mention_triples, region_triples)."""
    model = build_gazetteer(spark, gazetteer_df, stopwords_df, wordlist_df, bbox, mode)
    final = extract_link(transcripts, model, salt_partitions)
    return mention_triples(final), region_triples(gazetteer_df)


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    model: GazetteerModel,
    winners_path: str,
    manifest_path: str,
    n_buckets: int = 8,
    buckets_per_batch: int = 4,
    fail_after_batches: int | None = None,
    salt_partitions: int | None = None,
    dedup_texts: bool = False,
) -> list[int]:
    """X3 stage 1: checkpoint-resumable extraction over conv_id buckets.

    The EXPENSIVE stage (extract + link + score) is the unit of resume:
    each batch of buckets writes its L2-winner mentions partitioned by
    bucket (dynamic partition overwrite → idempotent) and appends
    lineage+metrics rows to the manifest. Canonicalization is corpus-
    global, so it deliberately lives in ``finalize_triples`` — run once
    after all buckets complete; this makes a resumed run bit-identical
    to an uninterrupted one regardless of where it was killed.
    Returns the bucket ids processed in this invocation.
    """
    from lnex_spark.operators.lineage import (
        StageTimer,
        pending_buckets,
        record_buckets,
        with_bucket,
    )

    pending = pending_buckets(spark, manifest_path, n_buckets)
    bucketed = with_bucket(transcripts, n_buckets)
    processed: list[int] = []
    batch_no = 0
    for i in range(0, len(pending), buckets_per_batch):
        if fail_after_batches is not None and batch_no >= fail_after_batches:
            break
        batch = pending[i : i + buckets_per_batch]
        subset = bucketed.filter(F.col("bucket").isin(batch))
        with StageTimer() as timer:
            # metrics ride along the ONE write job via CollectMetrics
            # (df.observe) — counting with separate actions would run
            # the expensive Arrow extraction stage twice per batch
            obs_turns = Observation(f"turns-{batch_no}")
            obs_mentions = Observation(f"mentions-{batch_no}")
            t = subset.drop("bucket").observe(
                obs_turns, F.count(F.lit(1)).alias("n")
            )
            if salt_partitions:
                t = salt_repartition(t, salt_partitions)
            if dedup_texts:
                from lnex_spark.operators.extract import extract_mentions_dedup_df

                mentions = extract_mentions_dedup_df(t, model.bc_struct)
            else:
                mentions = extract_mentions_df(t, model.bc_struct)
            winners = score_candidates(link_mentions(mentions, model.variants))
            winners = winners.withColumn(
                "bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")
            ).observe(obs_mentions, F.count(F.lit(1)).alias("n"))
            (
                winners.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(winners_path)
            )
            n_turns = int(obs_turns.get["n"])
            n_mentions = int(obs_mentions.get["n"])
        per = max(len(batch), 1)
        batch_id = f"batch-{batch_no}"
        record_buckets(
            spark,
            manifest_path,
            [
                (int(b), n_turns // per, n_mentions // per, 0, timer.wall_ms // per, batch_id)
                for b in batch
            ],
        )
        processed.extend(batch)
        batch_no += 1
    return processed


def finalize_triples(spark: SparkSession, winners_path: str) -> DataFrame:
    """X3 stage 2: global canonicalize + triple emit over all
    checkpointed winner partitions (cheap: keyed on distinct surface
    forms). Deterministic given complete stage-1 output."""
    winners = spark.read.parquet(winners_path).drop("bucket")
    canon = canonicalize(winners)
    return mention_triples(apply_canonical(winners, canon))
