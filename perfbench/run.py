"""End-to-end benchmark of the two jobs users run.

    python3 perfbench/run.py --workload extract_fresh --seed 1 \
        --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``extract_fresh``: ``scripts/run_extract.py`` on a seeded transcripts
  corpus (gen.py), from an empty output directory.
- ``curate``: ``scripts/run_curate.py`` with default flags on a seeded
  documents table, from an empty output directory.

One client, closed loop: each job is launched as a subprocess on
``local[<cores>]`` after the previous one exited; jobs start while
less than ``--seconds`` have passed (at least one). Every job's output
is checked (check.py) against expectations made without Spark in
set-up (gen.py): the extraction job's sections against ``parse_tei``
over each generated conversation, the curation job's quality flags,
clusters, keep-list and funnel against the repo's DuckDB oracles. A
job that exits non-zero or whose output fails its check counts as
failed.

End-to-end metrics (``--trace 0``), medians over the run's jobs:

- ``job_s``: wall time from launching the job command to its exit;
- ``setup_s``: the job process's own set-up: ``session.get_spark()``
  plus one trivial job, run by launch.py before it hands the process to
  the job script, timed from launch to the trivial job's result;
- ``peak_rss_mb``: peak resident memory of the job's process tree
  (the job process, its JVM, Python workers), sampled from /proc every
  0.2 s; pages the forked Python workers share are counted once
  (procs.py).

Not covered here: the salted-agg assembly path (``--assembly
salted-agg``) and the 122-query registry are measured only by
``bench.py``.

``--trace 1`` runs the per-layer ledger (ledger.py): the workload's
job, then the other workload's job, then layer probes, all in one
process; layer times come from each job's own Spark SQL executions. It
prints the per-layer metrics, including the part of the workload's job
time no layer explains.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; ``failed`` /
``attempted`` is the ops_failed ratio (also a per-layer metric of the
traced run, since an end-to-end metric must never read 0).

Environment pins for every Spark process it starts: ``SPARK_GRAFT_CPUS``
= usable cores, ``PYTHONPATH`` = the checkout root, ``SPARK_LOCAL_DIRS``
and ``TMPDIR`` (and the JVM's ``java.io.tmpdir``) under
``.perfbench_work/``, the JVM's ``-XX:-UsePerfData``, and
``SPARK_DRIVER_MEMORY=2g``
(the 8 g default pre-touches 8 GB per job, too much for a 15 GB host
shared with other work).

The program's own default for ``spark.local.dir`` is the RAM-backed
``/dev/shm/spark-local``; the benchmark keeps shuffle and spill files in
its checkout instead, because it may write nowhere else. At these
sizes that costs little: on a 4-vCPU VM with an ext4 virtual disk,
three curate jobs took 36.7, 41.1 (overlapping other work) and
36.7 s with the checkout and 37.6, 34.5 and 34.3 s with ``/dev/shm``
(set-up 12.7, 15.9, 12.1 s against 11.9, 12.0, 11.3 s), alternating.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PRODUCT = ("scripts/run_extract.py", "scripts/run_curate.py",
           "paperslicer_spark/session.py", "__spark_entry__.py")

# Sizes keep one run near a minute, so that the ~50 runs a comparison
# takes fit in an hour: on a 4-core host a Spark session alone costs
# 12-18 s, and per-bucket and per-report fixed costs, not corpus size,
# dominate a job (16 buckets over 500 conversations took ~85 s).
N_CONVS = 1000       # transcripts conversations (extract_fresh)
N_DOCS = 2000        # documents (curate)
N_FILES = 16         # parquet files per input, more than the cores
N_BUCKETS = 2        # run_extract --buckets
JOB_TIMEOUT = 150.0

WORKLOADS = ("extract_fresh", "curate")


def spark_env() -> dict:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_DRIVER_MEMORY="2g",
        TMPDIR=tmp,
        # no hsperfdata file in /tmp: the benchmark writes only inside
        # its checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.pop("SPARK_MASTER", None)
    return env


def job_argv(workload: str, inputs: dict, out: str) -> list:
    """The job script and its arguments."""
    if workload == "extract_fresh":
        return [os.path.join(ROOT, "scripts/run_extract.py"),
                "--input", inputs["transcripts"], "--output", out,
                "--buckets", str(N_BUCKETS)]
    return [os.path.join(ROOT, "scripts/run_curate.py"),
            "--input", inputs["documents"], "--output", out]


def job_cmd(workload: str, inputs: dict, out: str) -> list:
    return ([sys.executable, os.path.join(HERE, "launch.py")]
            + job_argv(workload, inputs, out))


def make_inputs(seed: int, run_dir: str, workloads) -> dict:
    import gen

    inputs: dict = {}
    if "extract_fresh" in workloads:
        convs = gen.conversations(N_CONVS, seed)
        inputs["transcripts"] = os.path.join(run_dir, "transcripts")
        gen.write_transcripts(convs, inputs["transcripts"], N_FILES)
        inputs["expected"] = gen.expected_sections(convs)
    if "curate" in workloads:
        inputs["documents"] = os.path.join(run_dir, "documents")
        gen.write_documents(N_DOCS, seed, inputs["documents"], N_FILES)
        inputs["curated"] = gen.expected_curation(inputs["documents"])
    return inputs


def check(workload: str, out: str, inputs: dict) -> list:
    import check as chk

    if workload == "extract_fresh":
        return chk.check_extract(out, inputs["expected"], N_CONVS, N_BUCKETS)
    return chk.check_curate(out, inputs["curated"])


def one_job(cmd: list, workload: str, inputs: dict, env: dict,
            out: str) -> dict:
    """Run one job command and check its output.

    → job_s (launch to exit), done_s (launch to ``perfbench:done``),
    setup_s (launch to ``perfbench:ready``), peak_rss_mb and the
    output's problems."""
    from procs import Job

    job = Job(cmd, env, os.path.dirname(out), out + ".log")
    secs, rc = job.run(JOB_TIMEOUT)
    try:
        problems = ([f"exit code {rc}, marks {job.marks}, log {out}.log"]
                    if rc != 0 or len(job.marks) != 2
                    else check(workload, out, inputs))
    except Exception as e:  # noqa: BLE001 — unreadable output
        problems = [f"output check raised {e!r}"]
    if problems:
        print(f"{workload} job failed: {problems}", file=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    return {"job_s": secs, "done_s": job.marks.get("done", secs),
            "setup_s": job.marks.get("ready", secs),
            "peak_rss_mb": job.peak_rss_mb, "problems": problems}


def run_jobs(workload: str, inputs: dict, env: dict, run_dir: str,
             seconds: float) -> list:
    """Closed loop, one client: launch jobs until ``seconds`` have passed."""
    jobs: list = []
    t0 = time.perf_counter()
    while not jobs or time.perf_counter() - t0 < seconds:
        out = os.path.join(run_dir, f"out{len(jobs)}")
        jobs.append(one_job(job_cmd(workload, inputs, out), workload,
                            inputs, env, out))
    return jobs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PRODUCT if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(WORK, ignore_errors=True)
    for d in (run_dir, os.path.join(WORK, "tmp"),
              os.path.join(WORK, "spark-local")):
        os.makedirs(d)
    env = spark_env()
    try:
        if args.trace:
            import ledger

            inputs = make_inputs(args.seed, run_dir, WORKLOADS)
            jobs, layers = ledger.run(args.workload, inputs, env, run_dir)
            metrics = {name: {"value": v, "unit": u}
                       for name, (v, u) in layers.items()}
        else:
            inputs = make_inputs(args.seed, run_dir, (args.workload,))
            jobs = run_jobs(args.workload, inputs, env, run_dir, args.seconds)
            metrics = {name: {"value": statistics.median(j[name]
                                                         for j in jobs),
                              "unit": unit}
                       for name, unit in (("job_s", "s"), ("setup_s", "s"),
                                          ("peak_rss_mb", "MB"))}
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    attempted, failed = len(jobs), sum(bool(j["problems"]) for j in jobs)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
