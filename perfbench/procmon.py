"""CPU time and resident memory of a process tree, read from ``/proc``.

Standard library only. The tree is the benchmark process and every
descendant: the Spark driver JVM, the Python worker daemon and the workers
it forks. A background thread samples the tree every ``INTERVAL`` seconds.
``cpu_s()`` is the CPU time the tree has spent so far, so the difference of
two calls is the CPU of what ran between them. ``window()`` reports the
peak resident set of the tree's JVM and of its Python processes, kept apart
because the JVM's resident set follows the garbage collector's heap sizing,
not the work. A process that exits keeps the CPU time last sampled for it,
so at most one sampling interval of its CPU is lost.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL = 0.1


def _read_stats() -> dict[int, tuple[int, int, float, int, bytes]]:
    """pid -> (ppid, start_ticks, cpu_s, rss_bytes, command name) for every
    process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
        except OSError:  # exited between listdir and open
            continue
        # fields after the parenthesised command name, starting at field 3
        rest = data[data.rindex(b")") + 2 :].split()
        out[int(name)] = (
            int(rest[1]),
            int(rest[19]),
            (int(rest[11]) + int(rest[12])) / _CLK_TCK,
            int(rest[21]) * _PAGE,
            data[data.index(b"(") + 1 : data.rindex(b")")],
        )
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the whole machine, from ``/proc/stat``."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    todo, tree = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree.append(pid)
            todo.extend(children.get(pid, ()))
    return tree


class TreeSampler:
    """Samples CPU and RSS of this process's tree while started."""

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._cpu: dict[tuple[int, int], float] = {}  # (pid, start) -> cpu_s
        self._peak_py_rss = 0
        self._peak_jvm_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        stats = _read_stats()
        py_rss = jvm_rss = 0
        with self._lock:
            for pid in _tree(stats, self.root):
                _, start, cpu, rss, comm = stats[pid]
                self._cpu[(pid, start)] = cpu
                # other commands are short-lived helpers the JVM spawns,
                # which briefly show the JVM's own resident set
                if comm == b"java":
                    jvm_rss += rss
                elif comm.startswith(b"python"):
                    py_rss += rss
            self._peak_py_rss = max(self._peak_py_rss, py_rss)
            self._peak_jvm_rss = max(self._peak_jvm_rss, jvm_rss)

    def _loop(self) -> None:
        while not self._stop.wait(INTERVAL):
            self.sample()

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()

    def cpu_s(self) -> float:
        """CPU seconds spent by every process seen in the tree so far."""
        self.sample()
        with self._lock:
            return sum(self._cpu.values())

    @contextmanager
    def window(self):
        """Yields a dict that holds, over the ``with`` block once it ends,
        the peak resident memory of the tree's JVM (``peak_jvm_rss_bytes``)
        and of its Python processes, the driver and the workers
        (``peak_py_rss_bytes``), and the share of the machine's CPU time
        the hypervisor gave to other guests (``steal_frac``), which
        explains outlying runs."""
        self.sample()
        with self._lock:
            self._peak_py_rss = self._peak_jvm_rss = 0
        result: dict = {}
        steal0, total0 = _cpu_ticks()
        try:
            yield result
        finally:
            self.sample()
            steal1, total1 = _cpu_ticks()
            result["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
            with self._lock:
                result["peak_py_rss_bytes"] = self._peak_py_rss
                result["peak_jvm_rss_bytes"] = self._peak_jvm_rss
