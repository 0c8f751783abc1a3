"""Shared pieces of the benchmark: statistics, spans, memory, results."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int) -> float | None:
    """Highest ladder percentile with at least ten samples beyond it, or
    None when fewer than eleven samples leave no such percentile."""
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:  # float slack
            return pct
    return None


def summarize(values) -> dict:
    """Median and tail of a timing sample, with the tail's percentile and
    the sample count. With too few samples for any tail, the tail is the
    maximum (and ``tail_pct`` says 100)."""
    xs = list(values)
    pct = tail_pct(len(xs))
    return {
        "n": len(xs),
        "p50": statistics.median(xs),
        "tail_pct": pct if pct is not None else 100.0,
        "tail": percentile(xs, pct) if pct is not None else max(xs),
    }


def median_or_zero(values) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    when the run ends. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            self._next += 1
            self.spans.append({"id": self._next, "name": name, "start": start,
                               "end": end, "parent": parent,
                               "run": self.run_id, **attrs})
            return self._next

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the body; yields a dict whose ``id`` is filled at exit."""
        rec = {"id": None}
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["id"] = self.add(name, start, time.perf_counter(), parent, **attrs)

    def durations(self, name: str) -> list[float]:
        """Seconds spent in every span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of this Python driver and of its JVM."""
    out = {"python": _vm_hwm_mb(os.getpid()), "jvm": 0.0}
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        out["jvm"] = _vm_hwm_mb(proc.pid)
    return out


@dataclass
class Result:
    """What one workload run reports: both metric families plus the
    correctness tally. ``notes`` are printed before the result line."""

    attempted: int = 0
    failed: int = 0
    checks_failed: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        """Record a correctness check; a failed one fails the run."""
        if not ok:
            self.checks_failed.append(what)
        return ok
