"""Process-tree CPU and resident memory from ``/proc`` (no psutil).

The tree is this process and every descendant: the Spark driver JVM, the
PySpark daemon and its forked Python workers.  CPU counts
``utime + stime + cutime + cstime`` of each live process, so a worker that
exits and is reaped still reports through its parent.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    # comm may hold spaces and parens: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after comm: utime=11, stime=12, cutime=13, cstime=14
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


#: processes younger than this are left out of the memory sum
MIN_AGE_S = 1.0
#: seconds between two memory samples
SAMPLE_INTERVAL_S = 0.2


def tree_rss_bytes(root: int | None = None) -> int:
    """Summed proportional resident set (``Pss`` of ``smaps_rollup``): each
    shared page is split among the processes mapping it, so the forked
    Python workers count their shared pages once.  Processes younger than
    ``MIN_AGE_S`` are skipped: the JVM forks short-lived children to run
    shell commands, and one forked between two reads of this loop would
    add a second share of the JVM's pages."""
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0])
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        # field 22 (index 19 after comm): start time in ticks since boot
        if fields is None or now - int(fields[19]) / _TICK < MIN_AGE_S:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of the tree's summed resident memory: ``stop()``
    returns the largest sample taken since ``start()``."""

    def __init__(self) -> None:
        self._peak = 0
        self._active = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            with self._lock:
                if self._active:
                    self._peak = max(self._peak, tree_rss_bytes())

    def start(self) -> None:
        with self._lock:
            self._peak = 0
            self._active = True

    def stop(self) -> int:
        """Peak of the window, counting one last sample taken now."""
        with self._lock:
            self._active = False
            return max(self._peak, tree_rss_bytes())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
