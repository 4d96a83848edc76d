"""Measurement helpers: sample statistics, process-tree PSS sampling and
Spark-job-aware spans for the traced run."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it.

    With n sorted samples that is the (n-10)-th smallest.  Below 21
    samples that rank falls at or under the median, so the slowest sample
    is reported instead and ``beyond`` says how many samples lie past it
    (0).  The record keeps the percentile and the sample count."""
    s = sorted(xs)
    n = len(s)
    k = n - 11 if n >= 21 else n - 1
    pct = 100.0 * k / (n - 1) if n > 1 else 100.0
    return {"value": s[k], "percentile": round(pct, 1), "n": n, "beyond": n - 1 - k}


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the closing paren
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_mb() -> tuple[float, float]:
    """(total, largest single process) PSS in MB over this process and
    all its descendants: the driver, the JVM and the Python workers.
    PSS splits pages shared between forked workers instead of counting
    them once per process, as summed RSS would."""
    kids = _children()
    todo, seen = [os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, ()))
    sizes = [_pss_kb(p) for p in seen]
    return sum(sizes) / 1024.0, max(sizes) / 1024.0


class PeakPss:
    """Background sampler of :func:`tree_pss_mb`; the peak is taken only
    while ``active`` is set (the timed window)."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.active = threading.Event()
        self.peak_mb = 0.0
        self.peak_largest_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                total, largest = tree_pss_mb()
                self.peak_mb = max(self.peak_mb, total)
                self.peak_largest_mb = max(self.peak_largest_mb, largest)

    def __enter__(self) -> PeakPss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """Spans around calls into the library's public functions.

    Each span sets a Spark job group, so the jobs it started (and their
    failed tasks) are read back from the status tracker when it ends.
    Spans are kept in memory; :meth:`dump` writes them as JSON."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.pass_no = 0

    @contextmanager
    def span(self, name: str, **counts):
        self._seq += 1
        group = f"span-{self._seq}"
        rec = {
            "id": self._seq,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self.pass_no,
            "counts": dict(counts),
        }
        outer = self._stack[-1]["group"] if self._stack else None
        self.sc.setJobGroup(group, name)
        rec["group"] = group
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if outer is None:
                self.sc.setJobGroup("untraced", "outside any span")
            else:
                self.sc.setJobGroup(outer, self._stack[-1]["name"])
            rec.update(self._jobs(group))
            self.spans.append(rec)

    def _jobs(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        failed, last_stage_tasks = 0, 0
        for jid in sorted(jobs):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    failed += stage.numFailedTasks
            if info.stageIds:
                stage = st.getStageInfo(max(info.stageIds))
                if stage is not None:
                    last_stage_tasks = stage.numTasks
        return {"jobs": len(jobs), "failed_tasks": failed,
                "last_stage_tasks": last_stage_tasks}

    def dump(self) -> list[dict]:
        return [
            {k: v for k, v in s.items() if k != "group"} for s in self.spans
        ]


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's marker files and the
    hidden CRC side files are not data."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
