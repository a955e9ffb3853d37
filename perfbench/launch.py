"""Run a job script in a process that first times its own set-up.

    python3 perfbench/launch.py scripts/run_extract.py --input ...

Starts the session the way every job does (``get_spark()``), runs one
trivial job and prints ``perfbench:ready``; then runs the script as
``__main__`` with the remaining arguments (its own ``get_spark()`` call
returns that session) and prints ``perfbench:done``. The parent
(procs.Job) timestamps both lines.
"""

import runpy
import sys
import time

from paperslicer_spark.session import get_spark


def start() -> tuple:
    """Session set-up; → (get_spark seconds, trivial job seconds)."""
    t0 = time.perf_counter()
    spark = get_spark()
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    print("perfbench:ready", flush=True)
    return t1 - t0, t2 - t1


def run_script(argv: list) -> None:
    sys.argv = list(argv)
    runpy.run_path(argv[0], run_name="__main__")
    print("perfbench:done", flush=True)


if __name__ == "__main__":
    start()
    run_script(sys.argv[1:])
