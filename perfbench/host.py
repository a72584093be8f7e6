"""Process-tree accounting and host probes, read from /proc.

The benchmark's process tree is this Python driver, the Spark JVM it
launches, and the python workers that JVM forks. Memory (PSS) and CPU
time are summed over every live process of that tree; CPU of
children that already exited and were reaped is folded into their
parent's cumulative child times, so the total never goes backwards.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listdir and open
        return None
    # the command name (field 2) may hold spaces; fields restart after ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below `root` (not including it)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys seconds of the tree, reaped children included."""
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_pss_mb(root: int) -> float:
    """Resident memory of the tree as PSS: a page shared by several
    processes (python workers forked from one daemon share most of
    theirs) is split among them instead of counted once per process."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1e3


class RssSampler:
    """Background thread keeping the peak resident memory (PSS) of the
    tree. One sample walks the JVM's page tables under its mmap lock
    (~20 ms for a 1 GB heap), hence one sample a second."""

    def __init__(self, root: int, interval_s: float = 1.0):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- host probe --------------------------------------------------------------
# A fixed pure-Python loop, sized so that one run of it takes a fraction
# of a second: the single-thread figure shows a slow or stolen core, the
# nproc-wide figure (one process per core, wall / single) shows a
# co-tenant that occupies some but not all cores.
_PROBE_ITERS = 700_000
_PROBE_SRC = f"t=0\nfor i in range({_PROBE_ITERS}): t=(t*31+i)&0xffffffff\n"


def _probe_once() -> float:
    t0 = time.perf_counter()
    exec(_PROBE_SRC, {})
    return time.perf_counter() - t0


def host_probe(n_procs: int) -> dict:
    single = min(_probe_once() for _ in range(2))
    t0 = time.perf_counter()
    procs = [
        subprocess.Popen([sys.executable, "-c", _PROBE_SRC]) for _ in range(n_procs)
    ]
    for p in procs:
        p.wait()
    wide = time.perf_counter() - t0
    return {
        "single_s": round(single, 4),
        "wide_s": round(wide, 4),
        "wide_procs": n_procs,
        "wide_ratio": round(wide / single, 3),
        "loadavg_1m": os.getloadavg()[0],
    }


def stop_descendants(root: int, timeout_s: float = 20.0) -> None:
    """Terminate whatever is still running below `root` and wait for it."""
    pids = descendants(root)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)  # reaps our own children
            except ChildProcessError:
                pass
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and _alive(p)]
        if pids:
            time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
