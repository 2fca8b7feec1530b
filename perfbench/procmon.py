"""CPU seconds and peak resident memory of a process tree, read from /proc.

The tree is a root pid and every process below it: for `kg_build` that is
the benchmark's own Python driver, the Spark JVM it launched and the JVM's
Python daemon and workers; for the `prep_job` workload it is the job's
child process and everything under it.

The sampler is a process of its own (this file run as a script), so its
CPU is not in the tree's CPU and it does not hold the driver's GIL. Every
``interval`` seconds it walks the tree down from the root through
/proc/<pid>/task/<tid>/children, leaving itself out. CPU is the sum over
every pid ever seen of its last sampled utime+stime, so a worker that
exits keeps the CPU it had used up to its last sample. Peak RSS is the
largest sum of RSS over the live tree at one sample. Pages that forked
Python workers share with their daemon are counted once per process, as
RSS does.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[float, int, str] | None:
    """(cpu seconds, rss bytes, command) of one pid, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    end = raw.rindex(b")")
    fields = raw[end + 2 :].split()
    cpu = (int(fields[11]) + int(fields[12])) / _CLK
    rss = int(fields[21]) * _PAGE
    return cpu, rss, raw[raw.index(b"(") + 1 : end].decode(errors="replace")


def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (the JVM forks from any thread)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", "rb") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree(root: int, skip: int | None = None) -> dict[int, tuple[float, int, str]]:
    """{pid: (cpu seconds, rss bytes, command)} for ``root`` and all its
    descendants, ``skip`` left out. A child under another command name
    than its parent that still runs the parent's executable (or is already
    gone) is a fork that has not exec'd yet, which is how the JVM launches
    processes: its resident pages are the parent's, so its RSS counts 0."""
    out = {}
    st = _stat(root)
    if st is None:
        return out
    out[root] = st
    todo = [root]
    while todo:
        parent = todo.pop()
        for pid in _children(parent):
            if pid == skip or pid in out:
                continue
            st = _stat(pid)
            if st is None:
                continue
            cpu, rss, comm = st
            if comm != out[parent][2] and _exe(pid) in (None, _exe(parent)):
                rss = 0
            out[pid] = (cpu, rss, comm)
            todo.append(pid)
    return out


def descendants(root: int) -> list[int]:
    return [p for p in tree(root) if p != root]


class TreeMonitor:
    """Samples one process tree from a sampler process between start() and
    stop().

    ``cpu_s`` is the CPU the tree used while the monitor ran. CPU already
    spent by processes alive at start() is subtracted, unless ``whole``:
    then the root is a process just started and all its tree's CPU counts.
    ``peak_rss_mb`` is the largest tree RSS seen in that window;
    ``sampler_cpu_s`` is the sampler's own CPU, which is not in ``cpu_s``."""

    def __init__(self, root: int, whole: bool = False, interval: float = 0.1):
        self.root = root
        self.whole = whole
        self.interval = interval
        self._proc: subprocess.Popen | None = None

    def start(self) -> "TreeMonitor":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(self.root), str(self.interval),
             str(int(self.whole))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        # the sampler prints one line once it holds the base sample
        if not self._proc.stdout.readline():
            raise RuntimeError("process-tree sampler did not start")
        return self

    def stop(self) -> None:
        if self._proc is None:
            return
        proc, self._proc = self._proc, None
        proc.stdin.close()
        out = json.loads(proc.stdout.read())
        proc.stdout.close()
        proc.wait()
        self.cpu_s = out["cpu_s"]
        self.peak_rss_mb = out["peak_rss_mb"]
        self.peak_parts = out["peak_parts"]
        self.pids = out["pids"]
        self.samples = out["samples"]
        self.sampler_cpu_s = out["sampler_cpu_s"]


def _sampler(root: int, interval: float, whole: bool) -> None:
    """Sample until stdin closes, then print the totals as one JSON line."""
    me = os.getpid()
    base = {} if whole else {pid: cpu for pid, (cpu, _, _) in tree(root, me).items()}
    last = dict(base)
    peak, parts, samples = 0, {}, 0

    def sample() -> None:
        nonlocal peak, parts, samples
        snap = tree(root, me)
        samples += 1
        for pid, (cpu, _, _) in snap.items():
            last[pid] = cpu
        total = sum(rss for _, rss, _ in snap.values())
        if total > peak:
            peak = total
            parts = {}
            for _, rss, comm in snap.values():
                parts[comm] = parts.get(comm, 0.0) + rss / (1 << 20)

    sample()
    print("ready", flush=True)
    while not select.select([sys.stdin], [], [], interval)[0]:
        sample()
    sample()
    t = os.times()
    print(json.dumps({
        "cpu_s": sum(cpu - base.get(pid, 0.0) for pid, cpu in last.items()),
        "peak_rss_mb": peak / (1 << 20),
        "peak_parts": parts,
        "pids": list(last),
        "samples": samples,
        "sampler_cpu_s": t.user + t.system,
    }), flush=True)


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left at the deadline."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2 :].split()[0] != b"Z"


if __name__ == "__main__":
    _sampler(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3] == "1")
