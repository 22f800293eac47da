"""Peak resident memory of the engine's process tree, read from /proc.

The Spark driver JVM is a child of the benchmark's Python process and
launches the Python workers (a ``pyspark.daemon`` and its forks) as its
own descendants.  ``RssSampler`` walks that tree every ``interval_s``
and keeps the peak of the JVM's memory, of the workers' summed memory,
and of their total at one instant.  Memory is the proportional set size
(PSS): the forked workers share most of their pages with the daemon,
and summing their RSS would count those pages once per fork, so the
figure would follow how many workers happened to be forked.
"""

from __future__ import annotations

import os
import threading

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # exited while we looked
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:  # exited while we looked
        pass
    return 0.0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as fh:
            return fh.read().strip() == b"java"
    except OSError:
        return False


def engine_tree(root: int) -> tuple[list[int], list[int]]:
    """(JVM pids, Python worker pids) below ``root``."""
    kids = _children()
    jvms, workers, stack = [], [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        if _is_jvm(pid):
            jvms.append(pid)
            below = list(kids.get(pid, ()))
            while below:
                w = below.pop()
                workers.append(w)
                below.extend(kids.get(w, ()))
        else:
            stack.extend(kids.get(pid, ()))
    return jvms, workers


class PssSampler:
    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.jvm_peak_mb = 0.0
        self.python_peak_mb = 0.0
        self.total_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        jvms, workers = engine_tree(os.getpid())
        jvm = sum(_pss_mb(p) for p in jvms)
        py = sum(_pss_mb(p) for p in workers)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)
        self.python_peak_mb = max(self.python_peak_mb, py)
        self.total_peak_mb = max(self.total_peak_mb, jvm + py)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
