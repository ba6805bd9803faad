"""CPU time and memory of a process tree, read from /proc.

The tree is the benchmark's own driver process and every descendant:
the JVM that spark-submit launches, the PySpark worker daemon and its
forked Python workers. CPU includes children that already exited and
were reaped inside the tree (``cutime``/``cstime``); memory is the
summed proportional set size (PSS), so pages shared between forked
workers count once.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields restart after ')'
    return data[data.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live descendant process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in descendants(root):
        fields = stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


def tree_pss_mb(root: int) -> float:
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PssSampler:
    """Background sampler of the tree's summed PSS. ``take_peak()``
    returns the highest sample since the previous call."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            value = tree_pss_mb(self.root)
            with self._lock:
                self._peak = max(self._peak, value)

    def take_peak(self) -> float:
        value = tree_pss_mb(self.root)
        with self._lock:
            peak, self._peak = max(self._peak, value), 0.0
        return peak

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
