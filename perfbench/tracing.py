"""Spans, host steal time and Spark event-log totals for the benchmark.

Spans are recorded only around the benchmark's own calls into the
package's public functions; nothing inside ``pdf_parser_spark`` is
instrumented. A disabled tracer records nothing, which is how the
untraced passes of a traced run measure the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# A timed sample whose /proc/stat steal exceeds this share of its wall
# time is treated as disturbed and left out of the medians (the
# discipline of bench_extra.py and tools/scaling_bench.py, scaled to
# the sample's length).
STEAL_SHARE_CLEAN = 0.05


def steal_s() -> float:
    """Host-wide steal seconds since boot (/proc/stat, 100 ticks/s)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / 100.0


class Sample:
    """Wall and steal seconds of one timed interval."""

    def __init__(self):
        self.wall = self.steal = 0.0

    def clean(self) -> bool:
        return self.steal <= STEAL_SHARE_CLEAN * max(self.wall, 1.0)


@contextmanager
def timed(samples: list | None = None):
    """Time the body; append the Sample to ``samples`` if given."""
    s = Sample()
    s0, t0 = steal_s(), time.perf_counter()
    try:
        yield s
    finally:
        s.wall = time.perf_counter() - t0
        s.steal = steal_s() - s0
        if samples is not None:
            samples.append(s)


def clean_median(samples: list[Sample]) -> float:
    """Median wall of the undisturbed samples (of all, if none is)."""
    pool = [s.wall for s in samples if s.clean()] or [s.wall
                                                      for s in samples]
    return statistics.median(pool)


class Tracer:
    """In-memory spans: (name, start, end, parent index)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p)

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e, _ in self.spans if n == name)

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _ in self.spans if n == name]


def event_log_totals(log_dir: str, job_group: str) -> dict[str, int]:
    """Shuffle-write and spill bytes of the tasks of jobs submitted under
    ``job_group``, summed from Spark's JSON event log in ``log_dir``."""
    stages: set[int] = set()
    shuffle = spill = 0
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            if (ev.get("Event") == "SparkListenerJobStart"
                    and (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") == job_group):
                stages.update(ev.get("Stage IDs", []))
        for ev in events:
            if (ev.get("Event") != "SparkListenerTaskEnd"
                    or ev.get("Stage ID") not in stages):
                continue
            m = ev.get("Task Metrics") or {}
            shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            spill += (m.get("Memory Bytes Spilled", 0)
                      + m.get("Disk Bytes Spilled", 0))
    return {"shuffle_write_bytes": shuffle, "spill_bytes": spill}
