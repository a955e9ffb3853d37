"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Checks that:

1. each workload's job completes and its output passes its check;
2. a tampered output (one row dropped) fails the check;
3. an extraction job killed once the manifest shows exactly half its
   buckets committed resumes to output equal to a fresh run's
   (set-up is retried when the kill lands past half);
4. run.py exits non-zero, printing no result, when the program files
   are absent (a directory holding only the benchmark).

Exit code 0 when all hold.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import run  # noqa: E402
from procs import Job, stop  # noqa: E402

run.N_CONVS, run.N_DOCS, run.N_FILES = 40, 200, 5


def drop_one_row(table_dir: str) -> None:
    f = sorted(p for p in glob.glob(os.path.join(table_dir, "**", "*.parquet"),
                                    recursive=True)
               if pq.read_metadata(p).num_rows)[0]
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)


def done_buckets(out: str) -> int:
    files = glob.glob(os.path.join(out, "_manifest", "*.parquet"))
    try:
        return len({b for f in files
                    for b in pq.read_table(f, columns=["bucket"])
                    .column(0).to_pylist()})
    except OSError:  # a file renamed into place while listing
        return -1


def killed_at_half(inputs: dict, env: dict, out: str, attempts: int = 3):
    """Build the resume state: kill the job once exactly half of its
    buckets are in the manifest; retry when the count is off."""
    half = run.N_BUCKETS // 2
    for _ in range(attempts):
        shutil.rmtree(out, ignore_errors=True)
        proc = subprocess.Popen(run.job_cmd("extract_fresh", inputs, out),
                                env=env, cwd=run.WORK,
                                stdout=subprocess.DEVNULL,
                                stderr=subprocess.DEVNULL,
                                start_new_session=True)
        deadline = time.monotonic() + run.JOB_TIMEOUT
        n = 0
        while proc.poll() is None and time.monotonic() < deadline:
            n = done_buckets(out)
            if n >= half:
                break
            time.sleep(0.02)
        stop(proc)
        if done_buckets(out) == half:
            return
        print(f"resume set-up: killed at {n} buckets, retrying")
    raise AssertionError("could not kill the job at exactly half")


def main() -> int:
    shutil.rmtree(run.WORK, ignore_errors=True)
    run_dir = os.path.join(run.WORK, "run")
    for d in (run_dir, os.path.join(run.WORK, "tmp"),
              os.path.join(run.WORK, "spark-local")):
        os.makedirs(d)
    env = run.spark_env()
    inputs = run.make_inputs(5, run_dir, run.WORKLOADS)
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            failures.append(what)

    try:
        for workload, table in (("extract_fresh", "data"), ("curate", "keep")):
            out = os.path.join(run_dir, workload)
            secs, rc = Job(run.job_cmd(workload, inputs, out), env, run_dir,
                           out + ".log").run(run.JOB_TIMEOUT)
            problems = run.check(workload, out, inputs) if rc == 0 else [rc]
            expect(not problems, f"{workload} completes in {secs:.1f} s "
                                 f"and passes its check {problems}")
            drop_one_row(os.path.join(out, table))
            expect(bool(run.check(workload, out, inputs)),
                   f"{workload} with one row dropped from {table}/ fails")

        out = os.path.join(run_dir, "resume")
        killed_at_half(inputs, env, out)
        expect(check.check_extract(out, inputs["expected"], run.N_CONVS,
                                   run.N_BUCKETS) != [],
               "the killed job's output is incomplete")
        secs, rc = Job(run.job_cmd("extract_fresh", inputs, out), env,
                       run_dir, out + ".log").run(run.JOB_TIMEOUT)
        expect(rc == 0 and not check.check_extract(
            out, inputs["expected"], run.N_CONVS, run.N_BUCKETS),
            f"the resumed job ({secs:.1f} s) equals a fresh run's output")
    finally:
        shutil.rmtree(run.WORK, ignore_errors=True)

    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE)) as bare:
        shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
                    bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            "curate", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare, capture_output=True,
                           text=True, timeout=180)
        expect(r.returncode != 0 and not r.stdout.strip(),
               "without the program files run.py fails and prints nothing")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
