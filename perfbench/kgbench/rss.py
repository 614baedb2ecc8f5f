"""Resident memory of this process and every descendant (the Spark driver
JVM and its Python workers), sampled from ``/proc``."""

from __future__ import annotations

import os
import statistics
import threading
import time
from typing import Dict, List, Tuple


def _children(pid: int) -> List[int]:
    out: List[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants, in KiB."""
    seen: Dict[int, int] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen[pid] = _rss_kb(pid)
        stack.extend(_children(pid))
    return sum(seen.values())


class RssSampler:
    """Background sampler of :func:`tree_rss_kb`; use as a context manager.
    Keeps (perf_counter, KiB) samples so a caller can summarise any
    window of the run."""

    def __init__(self, interval_s: float = 0.2, root: int | None = None):
        self.interval_s = interval_s
        self.root = root or os.getpid()
        self.samples: List[Tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.samples.append((time.perf_counter(), tree_rss_kb(self.root)))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def median_mb(self, start: float, end: float) -> float:
        """Median RSS over samples taken in [start, end], in MiB."""
        window = [kb for t, kb in self.samples if start <= t <= end]
        if not window:
            raise ValueError("no RSS sample inside the window")
        return statistics.median(window) / 1024.0
