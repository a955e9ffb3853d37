"""Per-layer ledger: the traced run.

``run`` (called by run.py with ``--trace 1``) launches this file as its
own process. That process starts its session the way every job does
(launch.py), runs the workload's job script, then the other workload's
job script on the same, now warm, session, then a few layer probes. The
scripts' closing ``spark.stop()`` is deferred to the end, so that the
local UI REST API (loopback only) can still be read.

A job's layer times come from the job's own run: each of its SQL
executions goes to the phase of the first output directory it writes
at or after it (PHASES). A phase runs from the end of the previous
phase's last execution (the first phase: from its first execution's
start) to the end of its own last execution, so it includes the
script's own work between them; its stage metrics are those of its
executions' Spark jobs. The workload's job runs as in an untraced run,
so ``remainder.s`` = job_s - setup_s - its phase times is the part of
the job no layer explains: the script's own start (imports, the input's
schema) and its end. ``remainder.job_s`` ends where the script returns,
before its ``spark.stop()``.

Layers and what each times:

- session: the process's ``get_spark()`` (``start_s``) and first
  trivial job (``first_job_s``), as every job starts;
- plans.checkpoint: the extraction job's bucket loop, and
  ``run_with_resume`` over that job's finished output, every bucket
  done (``skip_s``);
- operators.metrics + sinks: the extraction job's three reports, and
  the Python-UDF operators in their plans;
- operators.curation / dedup: the curation job's five phases;
- probes on the warm session, under Spark job groups: scan (the
  projected input into a noop sink); arrow_boundary (an identity
  ``mapInArrow`` over the same projection, minus the scan);
  operators.extract (``sections_long(parse_turns_fused(turns))``, the
  extraction job's default transform, over the whole corpus into a
  noop sink); operators.spans (``extract_turn_spans``, noop sink);
- pure Python, single-core in the ledger process: extraction.tei
  (``parse_tei`` per assembled conversation) and
  ``operators.spans.turn_units`` per turn.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
import urllib.request
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (metric, output directories its executions write), in job order
PHASES = {
    "extract_fresh": (("checkpoint.run_s", ("data", "_manifest")),
                      ("metrics.lineage_s", ("lineage",)),
                      ("metrics.quality_s", ("quality",)),
                      ("metrics.per_doc_csv_s", ("quality_csv",))),
    "curate": (("curation.gopher_quality_s", ("quality",)),
               ("dedup.dup_clusters_s", ("clusters",)),
               ("curation.keep_s", ("keep",)),
               ("curation.chunks_s", ("chunks",)),
               ("curation.funnel_s", ("metrics",))),
}
WRITE = re.compile(r"\) Execute InsertIntoHadoopFsRelationCommand\n"
                   r"(?:.*\n)*?Arguments: (?:file:)?([^,]+),")
# a Python-UDF operator in a plan's tree, as "<Name> (<node id>)"
UDF_NODE = re.compile(r"\b(?:MapInPandas|MapInArrow|PythonMapInArrow|"
                      r"BatchEvalPython|ArrowEvalPython) \(\d+\)")


def run(workload: str, inputs: dict, env: dict, run_dir: str) -> tuple:
    """Run both jobs and the probes in one process launched from here.

    → ([each job's result, as run.one_job gives it], {metric: (value,
    unit)})."""
    import run as bench

    order = [workload] + [w for w in bench.WORKLOADS if w != workload]
    outs = {w: os.path.join(run_dir, f"out_{w}") for w in order}
    spec = os.path.join(run_dir, "ledger_spec.json")
    result = os.path.join(run_dir, "ledger.json")
    with open(spec, "w") as f:
        json.dump({"jobs": [(w, outs[w], bench.job_argv(w, inputs, outs[w]))
                            for w in order],
                   "transcripts": inputs["transcripts"],
                   "n_buckets": bench.N_BUCKETS, "result": result}, f)
    job = bench.one_job([sys.executable, os.path.abspath(__file__), spec],
                        workload, inputs, env, outs[workload])
    if not os.path.exists(result):
        raise RuntimeError(f"traced run failed: {job['problems']}")
    # one_job checked the workload's output; the other job's is
    # checked here
    others = []
    for w in order[1:]:
        try:
            problems = bench.check(w, outs[w], inputs)
        except Exception as e:  # noqa: BLE001 — unreadable output
            problems = [f"output check raised {e!r}"]
        if problems:
            print(f"{w} job failed: {problems}", file=sys.stderr)
        others.append({"problems": problems})
    with open(result) as f:
        m = {k: tuple(v) for k, v in json.load(f).items()}
    layers = sum(m[name][0] for name, _ in PHASES[workload])
    m["remainder.job_s"] = (job["done_s"], "s")
    m["remainder.setup_s"] = (job["setup_s"], "s")
    m["remainder.layers_s"] = (layers, "s")
    m["remainder.s"] = (job["done_s"] - job["setup_s"] - layers, "s")
    jobs = [job] + others
    m["ops_failed"] = (sum(bool(j["problems"]) for j in jobs) / len(jobs),
                       "ratio")
    return jobs, m


class UI:
    """Reads the application's jobs, stages and SQL executions from the
    local UI REST API; times probe calls under Spark job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = (f"http://127.0.0.1:{port}/api/v1/applications/"
                    f"{self.sc.applicationId}")

    def time(self, name: str, fn) -> float:
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        fn()
        seconds = time.perf_counter() - t0
        self.sc.setJobGroup("untimed", "untimed")
        return seconds

    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.load(r)

    def settled(self) -> tuple:
        """(SQL executions, jobs, {stage id: stage}) once the UI has
        caught up with everything that ran."""
        for _ in range(100):
            sql = self._get("/sql?details=true&planDescription=true"
                            "&offset=0&length=100000")
            jobs = self._get("/jobs")
            stages = self._get("/stages")
            if (all(e["status"] != "RUNNING" for e in sql)
                    and all(j["status"] != "RUNNING" for j in jobs)
                    and all(s["status"] != "ACTIVE" for s in stages)):
                break
            time.sleep(0.1)
        return sql, jobs, {s["stageId"]: s for s in stages
                           if s["status"] == "COMPLETE"}

    def last_execution(self) -> int:
        return max((e["id"] for e in self.settled()[0]), default=-1)


def phases(executions: list, out: str, names: tuple) -> dict:
    """{metric: [executions]}: each execution goes to the phase of the
    first write into one of the phase's directories at or after it."""
    owner = {d: name for name, dirs in names for d in dirs}
    got: dict = {name: [] for name, _ in names}
    pending: list = []
    for e in sorted(executions, key=lambda e: e["id"]):
        pending.append(e)
        w = WRITE.search(e.get("planDescription", ""))
        top = (os.path.relpath(w.group(1), out).split(os.sep)[0]
               if w else None)
        if top in owner:
            got[owner[top]] += pending
            pending = []
    return got


def job_layers(ui: UI, workload: str, out: str, after: int, m: dict) -> None:
    """Phase times and stage metrics of the job whose SQL executions
    have ids above ``after``."""
    sql, jobs, stages = ui.settled()
    by_phase = phases([e for e in sql if e["id"] > after], out,
                      PHASES[workload])
    job_stages = {j["jobId"]: j["stageIds"] for j in jobs}

    def stages_of(*names):
        return [stages[s] for name in names for e in by_phase[name]
                for j in e["successJobIds"] + e["failedJobIds"]
                for s in job_stages.get(j, ()) if s in stages]

    end = min(_started(e) for e in by_phase[PHASES[workload][0][0]])
    for name, execs in by_phase.items():
        start, end = end, max(_started(e) + e["duration"] / 1e3
                              for e in execs)
        m[name] = (end - start, "s")
    if workload == "extract_fresh":
        ck = stages_of("checkpoint.run_s")
        reports = ("metrics.lineage_s", "metrics.quality_s",
                   "metrics.per_doc_csv_s")
        m.update({
            "checkpoint.stages": (len(ck), "count"),
            "checkpoint.tasks": (int(_sum(ck, "numTasks")), "count"),
            "checkpoint.executor_s": (_sum(ck, "executorRunTime", 1e-3),
                                      "s"),
            "checkpoint.out_mb": (_dir_mb(os.path.join(out, "data")), "MB"),
            "metrics.executor_s": (
                _sum(stages_of(*reports), "executorRunTime", 1e-3), "s"),
            # an adaptive plan also lists its initial plan: count the
            # final one
            "metrics.udf_nodes": (sum(
                len(UDF_NODE.findall(
                    e["planDescription"].split("== Initial Plan ==")[0]))
                for name in reports for e in by_phase[name]), "count"),
        })
    else:
        cur = stages_of("curation.gopher_quality_s", "dedup.dup_clusters_s",
                        "curation.keep_s", "curation.chunks_s")
        m.update({
            "curation.min_stage_tasks": (
                min(s["numTasks"] for s in cur), "count"),
            "curation.shuffle_write_mb": (
                _sum(cur, "shuffleWriteBytes", 2**-20), "MB"),
            "curation.executor_s": (_sum(cur, "executorRunTime", 1e-3), "s"),
        })


def _started(execution: dict) -> float:
    """An execution's start as a Unix time (``...T06:17:38.875GMT``)."""
    return datetime.strptime(execution["submissionTime"].replace(
        "GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _sum(stages, key, scale=1.0):
    return sum(s[key] for s in stages) * scale


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 2**20


def pure_python(transcripts: str, m: dict) -> None:
    """Single-core per-doc parse_tei and per-turn turn_units timings."""
    import pyarrow.parquet as pq

    from paperslicer_spark.extraction.tei import parse_tei
    from paperslicer_spark.operators.spans import turn_units
    from paperslicer_spark.sources.transcripts import assemble_payload

    rows = sorted((r["conv_id"], r["turn_idx"], r["text"])
                  for r in pq.read_table(
                      transcripts, columns=["conv_id", "turn_idx", "text"])
                  .to_pylist() if r["text"] is not None)
    convs: dict = {}
    unit_ns, unparsed = [], 0
    for conv_id, _, text in rows:
        convs.setdefault(conv_id, []).append(text)
        t0 = time.perf_counter_ns()
        ok = turn_units(text)[2]
        unit_ns.append(time.perf_counter_ns() - t0)
        unparsed += not ok
    doc_ns, errors = [], 0
    for conv_id, frags in convs.items():
        payload = assemble_payload(frags)
        t0 = time.perf_counter_ns()
        try:
            parse_tei(payload, source_path=conv_id)
        except Exception:  # noqa: BLE001 — counted, as the job does
            errors += 1
        doc_ns.append(time.perf_counter_ns() - t0)
    m["tei.parse_tei_us"] = (statistics.median(doc_ns) / 1e3, "us")
    m["tei.parse_tei_p99_us"] = (
        statistics.quantiles(doc_ns, n=100)[98] / 1e3, "us")
    m["tei.error_docs"] = (errors, "count")
    m["spans.turn_units_us"] = (statistics.median(unit_ns) / 1e3, "us")
    m["spans.unparsed_turns"] = (unparsed, "count")


def probes(spark, ui: UI, transcripts: str, extract_out: str,
           n_buckets: int, m: dict) -> None:
    from paperslicer_spark.operators.extract import (parse_turns_fused,
                                                     sections_long)
    from paperslicer_spark.operators.spans import extract_turn_spans
    from paperslicer_spark.plans.checkpoint import run_with_resume

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    def identity(batches):
        yield from batches

    def never(part):
        raise AssertionError("every bucket of the finished job is done")

    turns = spark.read.parquet(transcripts)
    proj = turns.select("conv_id", "turn_idx", "text")
    scan = ui.time("scan", noop(proj))
    boundary = ui.time("boundary", noop(
        proj.mapInArrow(identity, schema=proj.schema)))
    m["scan.s"] = (scan, "s")
    m["arrow_boundary.s"] = (boundary - scan, "s")
    parse = ui.time("extract", noop(sections_long(parse_turns_fused(turns))))
    m["extract.parse_pass_s"] = (parse, "s")
    m["checkpoint.overhead_ratio"] = (m["checkpoint.run_s"][0] / parse,
                                      "ratio")
    m["spans.extract_turn_spans_s"] = (
        ui.time("spans", noop(extract_turn_spans(turns))), "s")
    m["checkpoint.skip_s"] = (ui.time("checkpoint.skip", lambda: (
        run_with_resume(spark, turns, extract_out, never,
                        n_buckets=n_buckets))), "s")

    _, jobs, stages = ui.settled()
    ext = [stages[s] for j in jobs if j.get("jobGroup") == "extract"
           for s in j["stageIds"] if s in stages]
    m.update({
        "extract.executor_s": (_sum(ext, "executorRunTime", 1e-3), "s"),
        "extract.gc_s": (_sum(ext, "jvmGcTime", 1e-3), "s"),
        "extract.shuffle_write_mb": (
            _sum(ext, "shuffleWriteBytes", 2**-20), "MB"),
    })


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    import launch
    from pyspark.sql import SparkSession

    from paperslicer_spark.session import get_spark

    start_s, first_job_s = launch.start()
    spark = get_spark()
    stop, SparkSession.stop = SparkSession.stop, lambda self: None
    m: dict = {"session.start_s": (start_s, "s"),
               "session.first_job_s": (first_job_s, "s")}
    ui = UI(spark)
    outs = {}
    for workload, out, argv in spec["jobs"]:
        after = ui.last_execution()
        launch.run_script(argv)
        job_layers(ui, workload, out, after, m)
        outs[workload] = out
    probes(spark, ui, spec["transcripts"], outs["extract_fresh"],
           spec["n_buckets"], m)
    pure_python(spec["transcripts"], m)
    stop(spark)
    with open(spec["result"], "w") as f:
        json.dump(m, f)


if __name__ == "__main__":
    main()
