"""Pieces shared by the workloads: the run context, the outcome of a
run, timing statistics and the warehouse file state."""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Context:
    """What a workload gets from the runner: its own work directory
    inside the checkout, the seed, the input size and the traced flag."""

    work: str
    seed: int
    size: str
    trace: bool
    spark: object = None
    notes: dict = field(default_factory=dict)


@dataclass
class Outcome:
    """One measured run of a workload.

    ``op_s`` are the untraced wall times of the repeated operation
    (``op_p50_s``); ``batch_s`` the wall time of the fixed phase;
    ``layers`` the per-layer metrics of the traced operations, whose
    times ``traced_op_s`` are compared with ``overhead_base`` (default
    ``op_s``) for the tracing overhead; ``spans`` every traced span;
    ``aliases`` the workload's own names for its numbers."""

    op_s: list
    batch_s: float
    attempted: int
    failed: int
    layers: dict = field(default_factory=dict)
    traced_op_s: list = field(default_factory=list)
    overhead_base: list | None = None
    aliases: dict = field(default_factory=dict)
    details: list = field(default_factory=list)
    spans: list = field(default_factory=list)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it — the 11th-largest sample. Below 21 samples no
    percentile above the median has ten beyond it, so the median is
    reported with percentile 50."""
    n = len(xs)
    if n < 21:
        return median(xs), 50.0, n
    s = sorted(xs)
    return float(s[n - 11]), 100.0 * (n - 10) / n, n


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Clock:
    """Deadline for the measured loop of a run."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.seconds = seconds

    def left(self, next_s: float = 0.0) -> bool:
        """Whether an operation taking ``next_s`` would still end in time."""
        return time.perf_counter() - self.t0 + next_s < self.seconds


def file_state(root: str) -> dict:
    """{relative path: (bytes, mtime_ns)} of every parquet data file
    under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out
