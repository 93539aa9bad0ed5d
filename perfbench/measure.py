"""Closed-loop timing and the result record every workload returns."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Outcome:
    """What one workload run measured and checked.

    `ops` maps each checked operation to whether it passed; `attempted`
    and `failed` in the printed result are counted from it."""

    ops: dict[str, bool] = field(default_factory=dict)
    metrics: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def op(self, name: str) -> None:
        self.ops.setdefault(name, True)

    def fail(self, name: str, why: str) -> None:
        self.ops[name] = False
        self.notes.append(f"FAIL {name}: {why}")

    def check(self, name: str, ok: bool, why: str) -> None:
        self.op(name)
        if not ok:
            self.fail(name, why)

    def put(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def merge(self, other: "Outcome") -> None:
        self.ops.update(other.ops)
        self.metrics.update(other.metrics)
        self.notes += other.notes


def closed_loop(step, seconds: float, min_ops: int = 1) -> list[float]:
    """Run step(i) back to back, each call starting when the previous one
    has finished, until `seconds` have passed and at least `min_ops`
    calls completed. step(i) returns the seconds its operation took, timed
    by itself so that bookkeeping around the operation (state copies,
    trace collection) stays out of them; returns those times."""
    times: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(times) < min_ops or time.perf_counter() < t_end:
        times.append(step(len(times)))
    return times


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under path."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return total, files
