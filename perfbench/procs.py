"""Subprocess helpers: launch in a new session, sample the RSS of the
whole process tree from /proc, and stop and reap every process the
launch started (the job process, its JVM, Python workers)."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from typing import Dict, List, Optional, Tuple

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def session_procs(sid: int) -> Dict[int, Tuple[str, int]]:
    """{pid: (comm, parent pid)} of the session's live processes."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # "pid (comm) state ppid pgrp session ..."; comm may hold spaces
        close = stat.rindex(b")")
        fields = stat[close + 2:].split()
        if int(fields[3]) == sid and fields[0] != b"Z":
            comm = stat[stat.index(b"(") + 1:close].decode(errors="replace")
            procs[int(name)] = (comm, int(fields[1]))
    return procs


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_mb(sid: int) -> float:
    """Resident memory of the session's processes, pages they share
    counted once.

    The forked Python workers share pages, so theirs is Pss. The JVM
    (the ``java`` process whose parent is not one) shares none, so its
    RSS from statm is used: reading Pss walks every page, ~40 ms for a
    2 GB heap. A ``java`` child of the JVM is the JVM spawning a worker;
    until it execs it runs in the JVM's memory, so it is skipped."""
    procs = session_procs(sid)
    total_kb = 0
    for pid, (comm, ppid) in procs.items():
        try:
            if comm != "java":
                total_kb += _pss_kb(pid)
            elif procs.get(ppid, ("",))[0] != "java":
                with open(f"/proc/{pid}/statm") as f:
                    total_kb += int(f.read().split()[1]) * PAGE_KB
        except OSError:  # the process ended
            pass
    return total_kb / 1024


def stop(proc: subprocess.Popen, grace: float = 30.0) -> None:
    """Kill what is left of the session ``proc`` leads and wait until all
    of it is gone. Called once the result is in, so nothing is lost."""
    sid = proc.pid
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + grace
    while session_procs(sid) and time.monotonic() < deadline:
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        time.sleep(0.05)


class Job:
    """One command, timed from launch to exit, with its peak tree RSS.

    ``marks`` maps ``name`` to the time from launch to the first line of
    standard output that reads ``perfbench:<name>`` (launch.py)."""

    def __init__(self, cmd: List[str], env: dict, cwd: str, log: str):
        self.cmd, self.env, self.cwd, self.log = cmd, env, cwd, log
        self.peak_rss_mb = 0.0
        self.marks: dict = {}

    def _sample(self, sid: int, done: threading.Event) -> None:
        while not done.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(sid))
            done.wait(0.2)

    def _copy(self, pipe, out, t0: float) -> None:
        for line in pipe:
            # progress bars on the merged stderr end in \r, not \n
            text = line.rsplit(b"\r", 1)[-1].strip()
            if text.startswith(b"perfbench:"):
                self.marks.setdefault(text[10:].decode(),
                                      time.perf_counter() - t0)
            out.write(line)

    def run(self, timeout: float) -> tuple:
        """→ (seconds, returncode); returncode None on timeout."""
        with open(self.log, "wb") as out:
            t0 = time.perf_counter()
            proc = subprocess.Popen(self.cmd, env=self.env, cwd=self.cwd,
                                    stdout=subprocess.PIPE,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            done = threading.Event()
            threads = [
                threading.Thread(target=self._sample, args=(proc.pid, done)),
                threading.Thread(target=self._copy,
                                 args=(proc.stdout, out, t0)),
            ]
            for t in threads:
                t.start()
            try:
                rc: Optional[int] = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                rc = None
            seconds = time.perf_counter() - t0
            done.set()
            stop(proc)
            for t in threads:
                t.join()
            proc.stdout.close()
        return seconds, rc
