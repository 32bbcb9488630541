"""CPU time and resident memory of this process's descendants, from /proc.

The measured tree is every descendant of the benchmark process: the
driver JVM, the PySpark daemon and its forked workers. The benchmark
process itself (py4j client, checks, this sampler) is left out, and so
is the time of the JVM's JIT compiler threads, read on its own.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'.
    return data[data.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds.
    Workers that exited and were reaped inside the tree still count,
    through their parent's cutime/cstime."""
    total = 0
    for pid in descendants() if pids is None else pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def jit_cpu_s(jvm_pid: int) -> float:
    """utime + stime of the JVM's JIT compiler threads, in seconds. They
    must not exit (-XX:-UseDynamicNumberOfCompilerThreads), or their
    time would leave the count."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                data = f.read()
        except OSError:
            continue
        if data[data.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += sum(int(x) for x in data[data.rindex(")") + 2:].split()[11:13])
    return total / _TICK


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except (OSError, IndexError):
        return 0.0


def is_pyspark_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class RssSampler:
    """Background thread sampling, every ``period`` seconds, the summed
    RSS of the JVM ``jvm_pid`` and the PySpark daemon and workers under
    it, and the largest single worker RSS; peaks reset on ``reset()``.
    Other children of the JVM are short-lived helpers started by
    fork/exec: until they exec they show the JVM's own pages, so
    counting them would double the JVM."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_tree_mb = 0.0
        self.peak_worker_mb = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def reset(self) -> None:
        with self._lock:
            self.peak_tree_mb = self.peak_worker_mb = 0.0
        self.sample()

    def sample(self) -> None:
        workers = [p for p in descendants(self.jvm_pid) if is_pyspark_worker(p)]
        sizes = [rss_mb(p) for p in workers]
        tree = rss_mb(self.jvm_pid) + sum(sizes)
        worker = max(sizes, default=0.0)
        with self._lock:
            self.peak_tree_mb = max(self.peak_tree_mb, tree)
            self.peak_worker_mb = max(self.peak_worker_mb, worker)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()


def reap_all(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has ended; SIGKILL stragglers.
    Processes reparented away from us are still waited for by pid."""
    deadline = time.time() + timeout
    for sig in (None, signal.SIGKILL):
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        for p in alive:
            if sig is not None:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while time.time() < deadline and any(_alive(p) for p in alive):
            time.sleep(0.05)
        deadline = time.time() + 10
    still = [p for p in pids if _alive(p)]
    if still:
        raise RuntimeError(f"processes did not exit: {still}")


def _alive(pid: int) -> bool:
    st = _stat(pid)
    # A zombie has ended; its parent reaps it.
    return st is not None and st[0] != "Z"
