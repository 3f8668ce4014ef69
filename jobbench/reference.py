"""Expected outputs, computed without Spark, for the per-run output check.

KG: ``fixtures.gold_annotations`` over the same turns and gazetteer is
a brute-force single-process extract → link → vote.  It shares the
matcher functions (``extract_mentions``, ``name_variants``,
``normalize_name``) with the engine, so a match shows that the Spark
plumbing (buckets, salting, joins, aggregations, writes) reproduces
the single-process result; it does not show that extraction itself is
right.

Curation: a DuckDB re-derivation of ``curate_transcripts`` over the
same parquet file, in the form of ``oracle_defs224``'s SQL (ordered
md5 fingerprint, literal string assembly, \\S+ run counts).

Both reduce to ``(count, digest)``: the digest is order-insensitive
(sorted rows hashed), so it compares a written table regardless of
file or row order.
"""

from __future__ import annotations

import hashlib

from lnex_spark.data import fixtures as FX
from lnex_spark.operators.triples import PRED_MENTIONS

def digest(rows) -> tuple[int, str]:
    """(row count, sha256 over the sorted rows' reprs)."""
    rows = sorted(tuple(r) for r in rows)
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def kg_triples(transcripts: list[dict], gazetteer: list[dict]) -> set[tuple[str, str, int]]:
    """The (subj, pred, obj) mention-triple set the KG job must write."""
    gold = FX.gold_annotations(transcripts, gazetteer)
    return {(f"{g['conv_id']}#{g['turn_idx']}", PRED_MENTIONS, int(g["geo_id"])) for g in gold}


def curation_rows(
    transcripts_dir: str, budget: int, shards: int, min_turns: int, len_band: tuple[float, float]
) -> list[tuple[int, int, int]]:
    """(seq_id, n_pairs, n_tokens) rows re-derived by DuckDB for
    ``curate_transcripts(budget, shards, min_turns, len_band)``."""
    import duckdb

    lo, hi = len_band
    sql = f"""
    WITH tr AS (
      SELECT conv_id, turn_idx, role, text
      FROM read_parquet('{transcripts_dir}/*.parquet')
    ),
    fp AS (
      SELECT conv_id,
             md5(string_agg(turn_idx || ':' || text, chr(10) ORDER BY turn_idx))
               AS fingerprint,
             count(*) AS n_turns,
             avg(length(text)) AS mean_len
      FROM tr GROUP BY conv_id
    ),
    keep AS (SELECT min(conv_id) AS conv_id FROM fp GROUP BY fingerprint),
    gated AS (
      SELECT f.conv_id FROM fp f JOIN keep k ON f.conv_id = k.conv_id
      WHERE f.n_turns >= {min_turns} AND f.mean_len BETWEEN {lo} AND {hi}
    ),
    clean AS (
      SELECT t.conv_id, t.turn_idx, t.role,
             regexp_replace(t.text, '[0-9]{{4,}}', '<NUM>', 'g') AS text
      FROM tr t JOIN gated g ON t.conv_id = g.conv_id
    ),
    pairs AS (
      SELECT conv_id, turn_idx,
             coalesce(string_agg(text, ' <SEP> ') OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), '') AS context,
             text AS target, role
      FROM clean
    ),
    toks AS (
      SELECT conv_id, turn_idx,
             len(regexp_extract_all(context || ' ' || target, '\\S+')) AS n_tok,
             CAST(('0x' || substr(md5(conv_id), 1, 4)) AS INTEGER) % {shards} AS shard
      FROM pairs WHERE role = 'assistant'
    ),
    packed AS (
      SELECT shard, n_tok,
             sum(n_tok) OVER (PARTITION BY shard ORDER BY conv_id, turn_idx
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT CAST(CAST(shard AS BIGINT) * (1::BIGINT << 40)
                + ((cum - n_tok) // {budget}) AS BIGINT) AS seq_id,
           count(*) AS n_pairs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM packed GROUP BY 1
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        return [tuple(int(x) for x in r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()
