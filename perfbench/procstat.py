"""Process-tree CPU and memory from ``/proc`` (Linux, stdlib only).

The benchmark charges the engine for the CPU of the Spark driver JVM and
everything under it (the pyspark daemon and its forked Python workers),
and reports the peak summed resident set of the Python processes in
that tree.  ``/proc/<pid>/stat`` gives both: ``utime``/``stime`` for a
live process, ``cutime``/``cstime`` for children it has already reaped
(short-lived workers end up there), and ``rss`` in pages.

It also makes the benchmark the subreaper of everything it starts, so
that processes orphaned on the way (the launcher shell Spark leaves
behind, Python workers outliving their daemon) can be waited for.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    comm: str
    ppid: int
    cpu_ticks: int  # utime + stime
    child_cpu_ticks: int  # cutime + cstime (reaped children)
    rss_pages: int


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line.  ``comm`` sits in
    parentheses and may itself contain spaces or parentheses, so the
    numeric fields are split off after the LAST ``)``."""
    lpar = text.index("(")
    rpar = text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1 : rpar]
    f = text[rpar + 2 :].split()
    # f[0] is field 3 (state); proc(5) numbers fields from 1
    return ProcStat(
        pid=pid,
        comm=comm,
        ppid=int(f[1]),
        cpu_ticks=int(f[11]) + int(f[12]),
        child_cpu_ticks=int(f[13]) + int(f[14]),
        rss_pages=int(f[21]),
    )


def read_all(proc: str = "/proc") -> dict[int, ProcStat]:
    """Snapshot every process; ones that exit mid-scan are skipped."""
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                st = parse_stat(f.read())
        except (FileNotFoundError, ProcessLookupError):
            continue
        out[st.pid] = st
    return out


def tree(stats: dict[int, ProcStat], root: int) -> list[ProcStat]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for st in stats.values():
        kids.setdefault(st.ppid, []).append(st.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        out.append(st)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(stats: dict[int, ProcStat], root: int) -> float:
    """CPU seconds used so far by the tree, reaped children included."""
    return sum(st.cpu_ticks + st.child_cpu_ticks for st in tree(stats, root)) / CLK_TCK


def python_rss_mb(stats: dict[int, ProcStat], root: int) -> float:
    """Summed RSS of the Python processes in the tree (resident pages a
    fork shares with its parent count once per process, as RSS does)."""
    pages = sum(
        st.rss_pages for st in tree(stats, root) if st.comm.startswith("python")
    )
    return pages * PAGE_BYTES / 1e6


class TreeSampler:
    """Background thread tracking the peak of :func:`python_rss_mb`.

    ``reset()`` starts a new peak window; ``peak_mb`` reads it.  The
    thread only reads ``/proc`` and is stopped by ``close()``."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> float:
        mb = python_rss_mb(read_all(), self.root)
        with self._lock:
            self._peak = max(self._peak, mb)
        return mb

    def reset(self) -> None:
        with self._lock:
            self._peak = 0.0
        self.sample()

    @property
    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak

    def cpu_s(self) -> float:
        return tree_cpu_s(read_all(), self.root)

    def close(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


# --- process hygiene -----------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Have orphaned descendants reparent to this process rather than to
    init, so :func:`reap_children` can wait for them."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def reap_children(grace_s: float = 20.0, kill_after_s: float = 5.0) -> None:
    """Wait until this process has no children left, orphans it adopted
    included.  Children still running after ``grace_s`` get SIGTERM,
    and SIGKILL ``kill_after_s`` later."""
    me = os.getpid()
    t_term = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        now = time.monotonic()
        if now > t_term:
            sig = signal.SIGKILL if now > t_term + kill_after_s else signal.SIGTERM
            for st in read_all().values():
                if st.ppid == me:
                    try:
                        os.kill(st.pid, sig)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)
