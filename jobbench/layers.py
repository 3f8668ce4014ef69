"""Per-layer metrics of one traced job run, from Spark's SQL and task
metrics (harvest.py) grouped by the benchmark's spans (trace.py).

Layers are named after the program's modules.  A layer that does not
run on a workload reports 0 for each of its metrics.
"""

from __future__ import annotations

import statistics
import time

from jobbench.harvest import Execution, Harvester
from jobbench.trace import Span, Tracer

# name -> unit, in report order
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "gazetteer.build_s": "s",
    "gazetteer.variants": "count",
    "gazetteer.broadcast_bytes": "bytes",
    "sources.scan_rows": "count",
    "sources.scan_amplification": "ratio",
    "sources.scan_s": "s",
    "sources.write_bytes": "bytes",
    "sources.write_files": "count",
    "extract.turns_in": "count",
    "extract.mentions_out": "count",
    "extract.yield": "ratio",
    "extract.python_run_s": "s",
    "extract.python_init_s": "s",
    "extract.python_start_s": "s",
    "extract.bytes_to_python": "bytes",
    "extract.bytes_from_python": "bytes",
    "extract.task_skew": "ratio",
    "textproc.turns_per_s_1core": "turns/s",
    "link.candidates": "count",
    "link.candidates_per_mention": "ratio",
    "link.l2_shuffle_bytes": "bytes",
    "link.l2_agg_s": "s",
    "link.l3_s": "s",
    "triples.rows": "count",
    "triples.write_s": "s",
    "lineage.batches": "count",
    "lineage.spark_jobs": "count",
    "lineage.batch_s_p50": "s",
    "lineage.batch_s_max": "s",
    "lineage.manifest_s": "s",
    "curation.shuffle_bytes": "bytes",
    "curation.shuffle_records": "count",
    "curation.task_skew": "ratio",
    "curation.agg_peak_mem_bytes": "bytes",
    "curation.spill_bytes": "bytes",
    "curation.packed_rows": "count",
    "spark.busy_share": "ratio",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.turns_per_s_traced": "turns/s",
    "trace.turns_per_s_untraced": "turns/s",
    "trace.traced_over_untraced": "ratio",
}

_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
_AGGS = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def _total(execs: list[Execution], prefix: str, metric: str) -> float:
    out = 0.0
    for e in execs:
        for n in e.find(prefix):
            m = n.metrics.get(metric)
            if m is not None:
                out += m.total
    return out


def _agg_s(execs: list[Execution]) -> float:
    """Aggregation time: hash aggregates' build time, and for sort-based
    aggregates (min_by / max_by over structs) the sort feeding them."""
    out = 0.0
    for e in execs:
        for n in e.nodes.values():
            if n.name not in _AGGS:
                continue
            if "time in aggregation build" in n.metrics:
                out += n.metrics["time in aggregation build"].total
            for c in n.children:
                child = e.nodes[c]
                if n.name == "SortAggregate" and child.name == "Sort" and "sort time" in child.metrics:
                    out += child.metrics["sort time"].total
    return out


def _writes_to(e: Execution, path: str) -> list:
    return [n for n in e.find(_WRITE) if path in n.desc]


def describe(execs: list[Execution]) -> list[dict]:
    """Executions with their nodes' metrics, for the trace file."""
    return [
        {
            "id": e.id,
            "seconds": e.seconds,
            "jobs": e.job_ids,
            "nodes": [
                {"name": n.name, "metrics": {k: [m.total, m.min, m.med, m.max] for k, m in n.metrics.items()}}
                for n in e.nodes.values()
                if n.metrics
            ],
        }
        for e in execs
    ]


class SpanData:
    """The executions and Spark jobs under one span and its descendants."""

    def __init__(self, harvester: Harvester, tracer: Tracer, span: Span, sc):
        ids = [span]
        todo = [span]
        while todo:
            kids = tracer.children(todo.pop())
            ids.extend(kids)
            todo.extend(kids)
        harvester.settle()
        tracker = sc.statusTracker()
        self.job_ids = {int(j) for s in ids for j in tracker.getJobIdsForGroup(s.span_id)}
        self.execs = [harvester.execution(i) for i in harvester.execution_ids(self.job_ids)]
        self.span = span


def kg_layers(harv, tracer, sc, setup: Span, job: Span, paths: dict, turns: int, subjects: int) -> tuple[dict, list]:
    """Layer metrics of one KG job run.  ``paths`` holds transcripts,
    winners, manifest and mention_triples; ``subjects`` is the number of
    distinct turns in the written triples."""
    by_name = {}
    for s in tracer.children(job):
        by_name.setdefault(s.name, []).append(s)
    run = SpanData(harv, tracer, by_name["run_resumable"][0], sc)
    mention_span = next(s for s in by_name["write_triples"] if s.attrs.get("table") == "mention_triples")
    mention = SpanData(harv, tracer, mention_span, sc)
    whole = SpanData(harv, tracer, job, sc)

    out = _common(harv, tracer, whole, setup, paths["transcripts"], turns, sc)
    bcast = [n for e in run.execs for n in e.find("BroadcastExchange")]
    out["gazetteer.build_s"] = next(s for s in tracer.children(setup) if s.name == "build_gazetteer").seconds
    out["gazetteer.variants"] = max((n.metrics["number of output rows"].total for n in bcast), default=0.0)
    out["gazetteer.broadcast_bytes"] = max(
        (n.metrics["data size"].total for n in bcast if "data size" in n.metrics), default=0.0
    )

    pyn = [(e, n) for e in run.execs for n in e.find("MapInPandas")]
    turns_in = sum(e.input_rows(n) for e, n in pyn)
    mentions = sum(n.metrics["number of output rows"].total for _, n in pyn if "number of output rows" in n.metrics)
    out["extract.turns_in"] = turns_in
    out["extract.mentions_out"] = mentions
    out["extract.yield"] = subjects / turns_in if turns_in else 0.0
    for key, metric in (
        ("extract.python_run_s", "time to run Python workers"),
        ("extract.python_init_s", "time to initialize Python workers"),
        ("extract.python_start_s", "time to start Python workers"),
        ("extract.bytes_to_python", "data sent to Python workers"),
        ("extract.bytes_from_python", "data returned from Python workers"),
    ):
        out[key] = _total(run.execs, "MapInPandas", metric)
    # the hot-bucket batch sets it: the worst batch's heaviest stage
    out["extract.task_skew"] = max(
        (harv.heaviest_stage_skew(set(e.job_ids)) for e in run.execs if _writes_to(e, paths["winners"])),
        default=0.0,
    )

    # L1 is the batch plan's only join: broadcast while the gazetteer fits
    candidates = sum(
        n.metrics["number of output rows"].total
        for e in run.execs
        for n in e.nodes.values()
        if n.name.endswith("Join") and "number of output rows" in n.metrics
    )
    out["link.candidates"] = candidates
    out["link.candidates_per_mention"] = candidates / mentions if mentions else 0.0
    out["link.l2_shuffle_bytes"] = _total(run.execs, "Exchange", "shuffle bytes written")
    out["link.l2_agg_s"] = _agg_s(run.execs)
    out["link.l3_s"] = _agg_s(mention.execs)

    out["triples.rows"] = sum(
        n.metrics["number of output rows"].total
        for e in mention.execs
        for n in _writes_to(e, paths["mention_triples"])
    )
    out["triples.write_s"] = sum(s.seconds for s in by_name["write_triples"])

    batches = [e for e in run.execs if _writes_to(e, paths["winners"])]
    batch_s = [e.seconds for e in batches]
    out["lineage.batches"] = float(len(batches))
    out["lineage.spark_jobs"] = float(len(run.job_ids))
    out["lineage.batch_s_p50"] = statistics.median(batch_s) if batch_s else 0.0
    out["lineage.batch_s_max"] = max(batch_s, default=0.0)
    out["lineage.manifest_s"] = sum(
        e.seconds for e in run.execs if any(paths["manifest"] in n.desc for n in e.nodes.values())
    )
    return out, describe(whole.execs)


def curation_layers(harv, tracer, sc, setup: Span, job: Span, paths: dict, turns: int) -> tuple[dict, list]:
    """Layer metrics of one curation job run; ``paths`` holds
    transcripts and packed."""
    whole = SpanData(harv, tracer, job, sc)
    out = _common(harv, tracer, whole, setup, paths["transcripts"], turns, sc)
    out["curation.shuffle_bytes"] = _total(whole.execs, "Exchange", "shuffle bytes written")
    out["curation.shuffle_records"] = _total(whole.execs, "Exchange", "shuffle records written")
    out["curation.task_skew"] = harv.heaviest_stage_skew(whole.job_ids)
    out["curation.agg_peak_mem_bytes"] = max(
        (n.metrics["peak memory"].total for e in whole.execs for a in _AGGS for n in e.find(a) if "peak memory" in n.metrics),
        default=0.0,
    )
    out["curation.spill_bytes"] = sum(
        n.metrics["spill size"].total for e in whole.execs for n in e.nodes.values() if "spill size" in n.metrics
    )
    out["curation.packed_rows"] = sum(
        n.metrics["number of output rows"].total for e in whole.execs for n in _writes_to(e, paths["packed"])
    )
    return out, describe(whole.execs)


def _common(harv: Harvester, tracer: Tracer, whole: SpanData, setup: Span, transcripts: str, turns: int, sc) -> dict:
    """Layers every job runs: session start, the table scan and writes
    (sources) and the whole-job task totals (spark)."""
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = next(s for s in tracer.children(setup) if s.name == "get_spark").seconds
    scans = [n for e in whole.execs for n in e.find("Scan parquet") if transcripts in n.desc]
    scan_rows = sum(n.metrics["number of output rows"].total for n in scans if "number of output rows" in n.metrics)
    out["sources.scan_rows"] = scan_rows
    out["sources.scan_amplification"] = scan_rows / turns
    out["sources.scan_s"] = sum(n.metrics["scan time"].total for n in scans if "scan time" in n.metrics)
    out["sources.write_bytes"] = _total(whole.execs, _WRITE, "written output")
    out["sources.write_files"] = _total(whole.execs, _WRITE, "number of written files")
    st = harv.stage_totals(whole.job_ids)
    cores = sc.defaultParallelism
    out["spark.busy_share"] = st["run_s"] / (whole.span.seconds * cores)
    out["spark.tasks"] = st["tasks"]
    out["spark.shuffle_bytes"] = st["shuffle_write_bytes"]
    out["spark.gc_s"] = st["gc_s"]
    return out


def matcher_rate(transcripts: list[dict], gazetteer: list[dict], seconds: float = 2.0) -> float:
    """textproc alone: turns/s of ``extract_mentions`` over a fixed
    sample, in this process, one core, no Spark.  The match structure is
    built the way ``fixtures.gold_annotations`` builds it."""
    from lnex_spark.data import fixtures as FX
    from lnex_spark.operators.textproc import HashtagSegmenter, extract_mentions

    vmap = FX.build_variant_map(gazetteer, set(FX.gen_stopwords()))
    segmenter = HashtagSegmenter(FX.build_lm(vmap, FX.gen_wordlist()))
    prefixes = {" ".join(v.split(" ")[:i]) for v in vmap for i in range(1, len(v.split(" ")) + 1)}
    max_tokens = max(len(v.split(" ")) for v in vmap)
    full, pref = frozenset(vmap), frozenset(prefixes)
    sample = [r["text"] for r in sorted(transcripts, key=lambda r: (r["conv_id"], r["turn_idx"]))[:2000]]
    done = 0
    t0 = time.perf_counter()
    while True:
        for text in sample:
            extract_mentions(text, full, pref, max_tokens, segmenter)
        done += len(sample)
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            return done / elapsed
