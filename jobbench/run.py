"""Job-level benchmark of the KG and curation pipelines.

Usage (from the repository root):

    python3 jobbench/run.py --workload kg_docs --seed 1 --seconds 1 --trace 0

One process is one closed loop with one client: it generates (or reuses)
the seeded input tables, sets the job up once the way jobs/run_kg.py or
jobs/run_curation.py does (``get_spark`` defaults at local[<cores>]),
then runs the job body again and again until ``--seconds`` have passed
(at least once), one run at a time.  Timings are medians over the runs.
The first run is cold, as a spark-submit job's only run is; with
``--seconds 1`` (BENCHMARK.json) each process times that run alone.
Every run reads the generated parquet table, writes committed output,
and has that output checked against a reference computed without Spark
(reference.py).

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json
``end_to_end``).  ``--trace 1`` tags each call into the program with a
span and reports per-layer metrics read from Spark's own SQL and task
metrics (layers.py), plus the tracing overhead measured over four more
runs, traced, untraced, untraced, traced; it also writes the spans
and layer metrics to ``.jobbench/trace-<workload>-s<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".jobbench")
CACHE = os.path.join(WORK, "cache")

# Stop starting job runs once this much of the process's time is used:
# the whole process must end within 180 s.
_NO_NEW_RUN_AFTER_S = 130.0

# After its cold run a traced process makes warm runs in blocks of four,
# traced, untraced, untraced, traced, so that the warm-up trend of
# consecutive runs cancels out of the traced/untraced comparison.
_OVERHEAD_BLOCK = (True, False, False, True)
# ... and goes on with whole blocks until this much warm-run time is spent
_OVERHEAD_MIN_S = 30.0

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "first_commit_s": "s",
    "ok_ratio": "ratio",
}
WORKLOADS = ("kg_docs", "curation")


def _isolate_scratch() -> None:
    """Keep Spark's shuffle and temp files, the gateway's temp files and
    the JVM's (no hsperfdata file in /tmp) inside the checkout, and let
    Python workers import the program."""
    local = os.path.join(WORK, "local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


class Job:
    """One job body: ``setup`` once, then ``run`` many times."""

    app_name = "lnex_job"

    def __init__(self, tables: str, tracer):
        self.tables = tables
        self.transcripts = os.path.join(tables, "transcripts")
        self.tracer = tracer
        self.spark = None

    def setup(self) -> None:
        from lnex_spark.session import get_spark

        with self.tracer.span("get_spark"):
            self.spark = get_spark(master=None, app_name=self.app_name)
        self.tracer.bind(self.spark)
        self.setup_program()
        with self.tracer.span("python_worker"):
            # the first Python worker: a run pays its start-up before any row
            self.spark.range(0, 1, numPartitions=1).mapInPandas(lambda it: it, "id long").collect()

    def setup_program(self) -> None:
        pass

    def shutdown(self) -> None:
        """Stop the session and the driver JVM, and wait for the JVM."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


class KgJob(Job):
    """The jobs/run_kg.py body at its argument defaults."""

    app_name = "lnex_kg_construct"

    def setup_program(self) -> None:
        from jobs.run_kg import parse_args
        from lnex_spark.data import fixtures as FX
        from lnex_spark.pipeline import build_gazetteer
        from lnex_spark.sources.tableformat import read_table

        gaz_path = os.path.join(self.tables, "gazetteer.parquet")
        self.args = parse_args(["--transcripts", self.transcripts, "--gazetteer", gaz_path, "--out", "-", "--manifest", "-"])
        with self.tracer.span("build_gazetteer"):
            spark = self.spark
            self.gaz = read_table(spark, gaz_path)
            stop = spark.createDataFrame([(w,) for w in FX.gen_stopwords()], "word string")
            wl = spark.createDataFrame(FX.gen_wordlist(), "word string, freq long")
            self.model = build_gazetteer(spark, self.gaz, stop, wl, bbox=None, mode=self.args.mode)

    def paths(self, out: str) -> dict:
        return {
            "transcripts": self.transcripts,
            "winners": f"{out}/winners",
            "manifest": f"{out}/manifest",
            "mention_triples": f"{out}/mention_triples",
            "region_triples": f"{out}/region_triples",
        }

    def run(self, out: str) -> dict:
        from lnex_spark.operators.triples import region_triples, write_triples
        from lnex_spark.pipeline import finalize_triples, run_resumable
        from lnex_spark.sources.tableformat import read_table

        p, a, span, spark = self.paths(out), self.args, self.tracer.span, self.spark
        with span("read_table"):
            transcripts = read_table(spark, p["transcripts"])
        with span("run_resumable"):
            processed = run_resumable(
                spark,
                transcripts,
                self.model,
                winners_path=p["winners"],
                manifest_path=p["manifest"],
                n_buckets=a.buckets,
                buckets_per_batch=a.buckets_per_batch,
                salt_partitions=a.salt_partitions,
                dedup_texts=a.dedup_texts,
            )
        with span("finalize_triples"):
            triples = finalize_triples(spark, p["winners"])
        with span("write_triples", table="mention_triples"):
            write_triples(triples, p["mention_triples"])
        with span("write_triples", table="region_triples"):
            write_triples(region_triples(self.gaz), p["region_triples"])
        with span("read_back"):
            n = spark.read.parquet(p["mention_triples"]).count()
        # a batch is committed when its buckets are appended to the
        # manifest, after its winners write
        return {"processed": len(processed), "rows": n, "commit_path": p["manifest"]}

    def check(self, out: str, result: dict, ref: dict) -> tuple[bool, int]:
        """Triples equal the reference, the manifest covers every bucket."""
        import pyarrow.parquet as pq

        from jobbench.reference import digest

        p = self.paths(out)
        t = pq.read_table(p["mention_triples"]).to_pydict()
        rows = zip(t["subj"], t["pred"], t["obj"])
        buckets = set(pq.read_table(p["manifest"], columns=["bucket"]).column("bucket").to_pylist())
        ok = (
            list(digest(rows)) == ref["digest"]
            and result["rows"] == ref["digest"][0]
            and result["processed"] == self.args.buckets
            and buckets == set(range(self.args.buckets))
        )
        return ok, len(set(t["subj"]))


class CurationJob(Job):
    """The jobs/run_curation.py body at its argument defaults."""

    app_name = "lnex_curation"

    def setup_program(self) -> None:
        from jobs.run_curation import parse_args

        self.args = parse_args(["--transcripts", self.transcripts, "--out", "-"])

    def paths(self, out: str) -> dict:
        return {"transcripts": self.transcripts, "packed": f"{out}/packed"}

    def run(self, out: str) -> dict:
        from lnex_spark.operators.curation import curate_transcripts
        from lnex_spark.sources.tableformat import read_table

        p, a, span, spark = self.paths(out), self.args, self.tracer.span, self.spark
        with span("read_table"):
            t = read_table(spark, p["transcripts"]).select("conv_id", "turn_idx", "role", "text")
        lo, hi = (float(x) for x in a.len_band.split(","))
        with span("curate_transcripts"):
            packed = curate_transcripts(t, budget=a.budget, shards=a.shards, min_turns=a.min_turns, len_band=(lo, hi))
        with span("write_packed"):
            packed.write.mode("overwrite").parquet(p["packed"])
        with span("read_back"):
            n = spark.read.parquet(p["packed"]).count()
        return {"rows": n, "commit_path": p["packed"]}

    def check(self, out: str, result: dict, ref: dict) -> tuple[bool, int]:
        import pyarrow.parquet as pq

        from jobbench.reference import digest

        t = pq.read_table(self.paths(out)["packed"]).to_pydict()
        got = digest(zip(t["seq_id"], t["n_pairs"], t["n_tokens"]))
        return list(got) == ref["digest"] and result["rows"] == ref["digest"][0], 0


def reference(workload: str, tables: str) -> dict:
    """The expected output's (count, digest), computed once per seed."""
    path = os.path.join(tables, "reference.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import pyarrow.parquet as pq

    from jobbench import reference as R

    if workload == "curation":
        from jobs.run_curation import parse_args

        a = parse_args(["--transcripts", "-", "--out", "-"])
        lo, hi = (float(x) for x in a.len_band.split(","))
        rows = R.curation_rows(os.path.join(tables, "transcripts"), a.budget, a.shards, a.min_turns, (lo, hi))
    else:
        transcripts = pq.read_table(os.path.join(tables, "transcripts")).to_pylist()
        gazetteer = pq.read_table(os.path.join(tables, "gazetteer.parquet")).to_pylist()
        rows = R.kg_triples(transcripts, gazetteer)
    ref = {"digest": list(R.digest(rows))}
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)
    return ref


def overhead(runs: list[dict], n_turns: int) -> dict:
    """Tracing overhead from the warm runs of a traced process: the
    medians of traced and untraced turns/s, and the median over the
    adjacent traced/untraced pairs of each block ((1, 2) and (4, 3)) of
    traced turns/s ÷ untraced turns/s.  Only passed runs and whole
    blocks count; a ratio of 0 means no block was completed."""
    warm = runs[1:]
    tps = [n_turns / r["wall_s"] if r["ok"] else None for r in warm]
    with_t = [t for t, r in zip(tps, warm) if t and r["traced"]]
    without = [t for t, r in zip(tps, warm) if t and not r["traced"]]
    ratios = []
    for b in range(0, len(tps) - 3, 4):
        for t, u in ((b, b + 1), (b + 3, b + 2)):
            if tps[t] and tps[u]:
                ratios.append(tps[t] / tps[u])
    return {
        "traced": statistics.median(with_t) if with_t else 0.0,
        "untraced": statistics.median(without) if without else 0.0,
        "ratio": statistics.median(ratios) if ratios else 0.0,
    }


def main(argv=None) -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    _isolate_scratch()
    import pyarrow.parquet as pq

    from jobbench import gen
    from jobbench.trace import RssSampler, Tracer

    tables = gen.materialize(args.workload, args.seed, CACHE, gen.source_key(ROOT))
    ref = reference(args.workload, tables)

    traced = bool(args.trace)
    tracer = Tracer(traced)
    job = (CurationJob if args.workload == "curation" else KgJob)(tables, tracer)
    sampler = RssSampler()
    work = os.path.join(WORK, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    runs: list[dict] = []
    try:
        t0 = time.perf_counter()
        with tracer.span("setup") as setup_span:
            job.setup()
        setup_s = time.perf_counter() - t0
        n_turns = pq.ParquetDataset(job.transcripts).read(columns=["turn_idx"]).num_rows

        from jobbench.harvest import Harvester

        harv = Harvester(job.spark)
        layers, executions = None, []
        deadline = time.monotonic() + args.seconds
        while True:
            k = len(runs)
            out = os.path.join(work, f"run{k}")
            # traced: the first (cold) run gives the layer metrics
            tracer.enabled = traced and (k == 0 or _OVERHEAD_BLOCK[(k - 1) % 4])
            rec = {"traced": tracer.enabled}
            start_ms = int(time.time() * 1000)
            try:
                with sampler.window() as peak, tracer.span("job_run") as job_span:
                    t0 = time.perf_counter()
                    result = job.run(out)
                    rec["wall_s"] = time.perf_counter() - t0
                rec["peak_rss_mb"] = peak() / 1e6
                commit_ms = harv.first_commit_ms(result["commit_path"], start_ms)
                rec["first_commit_s"] = (commit_ms - start_ms) / 1000.0
                rec["ok"], subjects = job.check(out, result, ref)
            except Exception as ex:  # a failed run counts; the loop stops
                rec["ok"] = False
                print(f"run {k} failed: {ex!r}", file=sys.stderr)
                runs.append(rec)
                break
            if k == 0 and traced:
                from jobbench import layers as L

                sc, paths = job.spark.sparkContext, job.paths(out)
                if isinstance(job, KgJob):
                    layers, executions = L.kg_layers(harv, tracer, sc, setup_span, job_span, paths, n_turns, subjects)
                else:
                    layers, executions = L.curation_layers(harv, tracer, sc, setup_span, job_span, paths, n_turns)
            shutil.rmtree(out, ignore_errors=True)
            runs.append(rec)
            now = time.monotonic()
            if k == 0:
                warm_start = now
            # a traced process ends on a whole block
            enough = not traced or ((len(runs) - 1) % 4 == 0 and now - warm_start >= _OVERHEAD_MIN_S)
            if (now >= deadline and enough) or now - t_start > _NO_NEW_RUN_AFTER_S:
                break
    finally:
        tracer.enabled = False
        sampler.close()
        job.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for r in runs if not r["ok"])
    timed = [r for r in runs if r["ok"]]
    tps = [n_turns / r["wall_s"] for r in timed]
    report = {}
    if not traced:
        report = {
            "setup_s": setup_s,
            "turns_per_s": statistics.median(tps) if tps else 0.0,
            "first_commit_s": statistics.median(r["first_commit_s"] for r in timed) if timed else 0.0,
            "ok_ratio": (len(runs) - failed) / len(runs),
        }
        units = END_TO_END
    else:
        from jobbench import layers as L

        layers = dict(layers or {k: 0.0 for k in L.PER_LAYER})
        layers["process.peak_rss_mb"] = timed[0]["peak_rss_mb"] if timed else 0.0
        if isinstance(job, KgJob):
            layers["textproc.turns_per_s_1core"] = L.matcher_rate(
                pq.read_table(job.transcripts).to_pylist(),
                pq.read_table(os.path.join(tables, "gazetteer.parquet")).to_pylist(),
            )
        tr = overhead(runs, n_turns)
        layers["trace.turns_per_s_traced"] = tr["traced"]
        layers["trace.turns_per_s_untraced"] = tr["untraced"]
        layers["trace.traced_over_untraced"] = tr["ratio"]
        report, units = layers, L.PER_LAYER
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"), layers, executions)

    for name, value in report.items():
        print(f"{name:34s} {value:16.4f} {units[name]}")
    if not traced:
        print(f"{'failed_ratio':34s} {failed / len(runs):16.4f} ratio")
        # a per-layer metric in BENCHMARK.json: the JVM heap's growth makes
        # it bimodal between identical runs (README.md)
        peak = statistics.median(r["peak_rss_mb"] for r in timed) if timed else 0.0
        print(f"{'peak_rss_mb':34s} {peak:16.4f} MB")
        walls = " ".join(f"{r['wall_s']:.2f}" for r in runs if "wall_s" in r)
        print(f"job run wall s: {walls}")
    print(
        json.dumps(
            {
                "correct": failed == 0 and bool(timed),
                "attempted": len(runs),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in report.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
