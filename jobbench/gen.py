"""Seeded input generators for the job benchmark.

Each workload's tables are a pure function of ``(workload, seed)``.
They are written once as parquet under the cache directory and reused
by later runs with the same seed, so generation never counts in any
timed figure.  The program under test only ever sees these files.
The city gazetteer and its mention menu come from the program's own
fixtures (``fixtures.gen_gazetteer``, ``derive.mention_menu``): a change
to those changes the benchmark's inputs.

The cache directory's name also carries ``source_key()``, a hash of the
code the tables and the reference output are made by, so a cache left
by other code is never reused.

Tables per workload (``<cache>/<workload>-n<turns>-s<seed>-<key>/``):
  transcripts/         (conv_id, turn_idx, role, text, tool, ts) as
                       TRANSCRIPT_FILES parquet files, like a table
                       written by a parallel job (one small file would
                       be read by one task)
  gazetteer.parquet    GAZETTEER_SCHEMA rows (kg_docs only)
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from lnex_spark.data import fixtures as FX
from lnex_spark.data.derive import mention_menu

EVENT = "chennai"

# Turn counts per workload: a process (set-up plus one cold job run)
# stays under a minute at local[4], so two workloads fit the time a
# full benchmark pass may take.
N_TURNS = {"kg_docs": 40_000, "curation": 150_000}
N_CONVS = {"kg_docs": 200, "curation": 2_000}

# Document-like filler: the word-salad vocabulary of the ``documents``
# test table (query-engine jargon), none of it a gazetteer token.
DOC_WORDS = """batch part spark line column order small sort fast value scan
    hash slow group agg filter query big key window row table stream merge
    data join vector customer the a index plan cache shard node page""".split()

TRANSCRIPT_FILES = 8

_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
_TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
_GAZ_SCHEMA = pa.schema(
    [
        pa.field("geo_id", pa.int64(), nullable=False),
        pa.field("name", pa.string(), nullable=False),
        ("alt_names", pa.list_(pa.string())),
        ("category", pa.string()),
        ("lat", pa.float64()),
        ("lon", pa.float64()),
        ("region", pa.string()),
    ]
)
_ROLES = ("user", "assistant", "tool")


def _conv_sizes(n_turns: int, n_convs: int) -> list[int]:
    """20% of turns in conversation 0 (the hot key), the rest spread
    evenly over the other conversations.  Sizes do not depend on the
    seed, so seeds vary content, not the amount of work."""
    hot = n_turns // 5
    rest, extra = divmod(n_turns - hot, n_convs - 1)
    return [hot] + [rest + (1 if i < extra else 0) for i in range(n_convs - 1)]


def _doc_text(rng: random.Random) -> str:
    """A document body cut to at most 240 characters."""
    words = [rng.choice(DOC_WORDS) for _ in range(rng.randint(4, 60))]
    return " ".join(words)[:240]


def _assemble(rng: random.Random, sizes: list[int], texts) -> list[dict]:
    """Rows with dense per-conversation turn_idx, stored in a seeded
    shuffled order (readers must not rely on file order)."""
    rows = []
    g = 0
    for conv, n in enumerate(sizes):
        conv_id = f"{EVENT}-c{conv:06d}"
        for turn in range(n):
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": turn,
                    "role": _ROLES[g % 3],
                    "text": next(texts),
                    "tool": "search" if g % 7 == 0 else "",
                    "ts": _EPOCH + timedelta(seconds=17 * g),
                }
            )
            g += 1
    rng.shuffle(rows)
    return rows


def docs_turns(seed: int, n_turns: int, n_convs: int) -> list[dict]:
    """Document-derived turns: ~40% carry one planted mention from the
    city fixture's mention menu (exact, alt-name, variant, hashtag)."""
    rng = random.Random(f"docs-{seed}")
    menu = mention_menu(EVENT)

    def texts():
        while True:
            base = _doc_text(rng)
            if rng.random() < 0.4:
                base = f"{base} near {rng.choice(menu)} today"
            yield base

    return _assemble(rng, _conv_sizes(n_turns, n_convs), texts())


def curation_turns(seed: int, n_turns: int, n_convs: int) -> list[dict]:
    """Document-derived turns with dense turn_idx, a few 4+-digit runs
    for the PII mask, and ~5% of conversations duplicated verbatim
    under new ids (the dedup stage's work)."""
    rng = random.Random(f"cur-{seed}")

    def texts():
        while True:
            base = _doc_text(rng)
            if rng.random() < 0.1:
                base = f"{base} call {rng.randrange(1000, 10**7)}"
            yield base

    n_dup = n_convs // 20
    rows = _assemble(rng, _conv_sizes(n_turns, n_convs - n_dup), texts())
    by_conv: dict[str, list[dict]] = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    cold = sorted(c for c in by_conv if c != f"{EVENT}-c000000")
    for k, src in enumerate(rng.sample(cold, n_dup)):
        dup_id = f"{EVENT}-d{k:06d}"
        rows.extend({**r, "conv_id": dup_id} for r in by_conv[src])
    return rows


def generate(workload: str, seed: int) -> dict:
    """Rows of every table of one workload."""
    n, c = N_TURNS[workload], N_CONVS[workload]
    if workload == "kg_docs":
        return {"transcripts": docs_turns(seed, n, c), "gazetteer": FX.gen_gazetteer(EVENT)}
    if workload == "curation":
        return {"transcripts": curation_turns(seed, n, c)}
    raise ValueError(f"unknown workload {workload!r}")


def source_key(root: str) -> str:
    """A hash of the source of every module under ``root`` that is loaded
    once the generators, the reference (jobbench/reference.py and the
    fixtures, derive, augment and textproc modules behind it) and the
    job argument parsers whose defaults the reference takes are imported;
    the calling script (jobbench/run.py, which assembles the reference)
    is among them.  Twelve hex digits."""
    import jobbench.reference  # noqa: F401
    import jobs.run_curation  # noqa: F401
    import jobs.run_kg  # noqa: F401

    root = os.path.realpath(root)
    files = set()
    for m in list(sys.modules.values()):
        f = getattr(m, "__file__", None)
        if f and os.path.realpath(f).startswith(root + os.sep):
            files.add(os.path.realpath(f))
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:12]


def materialize(workload: str, seed: int, cache_dir: str, key: str) -> str:
    """Write the workload's tables as parquet once per ``(seed, key)``;
    return their directory."""
    d = os.path.join(cache_dir, f"{workload}-n{N_TURNS[workload]}-s{seed}-{key}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        tables = generate(workload, seed)
        turns = pa.Table.from_pylist(tables.pop("transcripts"), schema=_TRANSCRIPT_SCHEMA)
        os.makedirs(os.path.join(d, "transcripts"), exist_ok=True)
        step = -(-turns.num_rows // TRANSCRIPT_FILES)
        for i in range(TRANSCRIPT_FILES):
            pq.write_table(turns.slice(i * step, step), os.path.join(d, "transcripts", f"part-{i:05d}.parquet"))
        if "gazetteer" in tables:
            pq.write_table(
                pa.Table.from_pylist(tables["gazetteer"], schema=_GAZ_SCHEMA), os.path.join(d, "gazetteer.parquet")
            )
        open(os.path.join(d, "_DONE"), "w").close()
    return d
