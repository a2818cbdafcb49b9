"""Process-tree sampling from ``/proc``: worker memory high-water marks,
tree CPU seconds, and orderly shutdown of everything the run started.

PySpark's Python workers are forked by the ``pyspark.daemon`` process,
which the JVM starts from one of its worker threads. ``/proc/<pid>/children``
of the JVM's main thread therefore misses them: the walk reads the
``children`` file of every task (thread) of every process.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def children(pid: int) -> set[int]:
    """Direct children of ``pid``, over all of its threads."""
    out: set[int] = set()
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        txt = _read(f"/proc/{pid}/task/{tid}/children")
        if txt:
            out.update(int(c) for c in txt.split())
    return out


def descendants(pid: int) -> set[int]:
    seen: set[int] = set()
    todo = [pid]
    while todo:
        for c in children(todo.pop()):
            if c not in seen:
                seen.add(c)
                todo.append(c)
    return seen


def status_kb(pid: int, field: str) -> int:
    """A ``kB`` field of ``/proc/<pid>/status`` (0 once the process is gone)."""
    txt = _read(f"/proc/{pid}/status")
    if txt:
        for line in txt.splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def cmdline(pid: int) -> str:
    txt = _read(f"/proc/{pid}/cmdline")
    return txt.replace("\0", " ") if txt else ""


def cpu_seconds(pid: int) -> float:
    """utime + stime of ``pid`` plus those of its reaped children."""
    txt = _read(f"/proc/{pid}/stat")
    if not txt:
        return 0.0
    f = txt[txt.rindex(")") + 2:].split()
    # fields 14-17 of stat (1-based): utime stime cutime cstime
    return sum(int(x) for x in f[11:15]) / CLK_TCK


def tree_cpu_seconds(root: int) -> float:
    return sum(cpu_seconds(p) for p in {root} | descendants(root))


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from ``/proc/stat``:
    steal is time the hypervisor ran other guests on our vCPUs."""
    ticks = [int(x) for x in _read("/proc/stat").splitlines()[0].split()[1:]]
    return ticks[7], sum(ticks)


def is_python_worker(pid: int) -> bool:
    """The ``pyspark.daemon`` process and the workers it forks (which keep
    its command line)."""
    return "pyspark.daemon" in cmdline(pid) or "pyspark.worker" in cmdline(pid)


class TreeSampler:
    """Background sampler of the Python-worker ``VmHWM`` (kB) and the JVM's
    ``VmHWM`` over the whole process tree under ``root``.

    ``VmHWM`` is the kernel's own high-water mark, so a sample every
    ``interval`` seconds misses only the last rise of a worker that exits
    between two samples; workers are reused across tasks, so most live
    for the whole run. ``stop()`` takes a final sample."""

    def __init__(self, root: int, interval: float = 1.0):
        self.root = root
        self.interval = interval
        self.worker_hwm_kb = 0
        self.jvm_hwm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        for pid in descendants(self.root):
            if is_python_worker(pid):
                self.worker_hwm_kb = max(self.worker_hwm_kb,
                                         status_kb(pid, "VmHWM"))
            elif "java" in cmdline(pid).split(" ", 1)[0]:
                self.jvm_hwm_kb = max(self.jvm_hwm_kb, status_kb(pid, "VmHWM"))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def _alive(pid: int) -> bool:
    txt = _read(f"/proc/{pid}/stat")
    # a zombie has exited; only its parent's wait() is missing
    return bool(txt) and txt[txt.rindex(")") + 2] != "Z"


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait up to ``timeout`` s for ``pids`` to exit; return the survivors."""
    deadline = time.monotonic() + timeout
    left = {p for p in pids if _alive(p)}
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = {p for p in left if _alive(p)}
    return left


def terminate(pids: set[int], timeout: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, every pid still alive; wait for each to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        pids = wait_gone(pids, timeout)
        if not pids:
            return
