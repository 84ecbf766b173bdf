"""The closed loop: one process submits an operation, waits for it, checks its
output outside the timed section, then submits the next.

A failed operation counts as attempted and failed and its sample reads as
infinitely slow, so a failure can only lower ``docs_per_s`` and raise
``cpu_s_per_kdoc`` — never drop a sample or shrink a total.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from tracing import sample_tree


@dataclass
class LoopResult:
    walls: list[float] = field(default_factory=list)   # inf = failed
    attempted: int = 0
    failed: int = 0
    cpu_s: float = 0.0            # tree CPU inside the timed sections
    worker_hwm_mb: float = 0.0

    def record(self, wall: float, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok
        self.walls.append(wall if ok else math.inf)

    @property
    def median_s(self) -> float:
        return statistics.median(self.walls)

    def docs_per_s(self, docs: int) -> float:
        m = self.median_s
        return 0.0 if math.isinf(m) else docs / m

    def cpu_s_per_kdoc(self, docs: int) -> float:
        ok_ops = self.attempted - self.failed
        # no op succeeded: report the CPU of all attempts against ONE op's docs
        return self.cpu_s / (docs * max(ok_ops, 1) / 1000)


def _run(op) -> tuple[bool, object]:
    try:
        out = op()
    except Exception:  # noqa: BLE001 — an op failure is a measured outcome
        traceback.print_exc(file=sys.stderr)
        return False, None
    return True, out


def passes(fn) -> bool:
    """True if ``fn()`` returns; a raised error is printed and reads False."""
    try:
        fn()
    except Exception:  # noqa: BLE001 — a failed check is a measured outcome
        traceback.print_exc(file=sys.stderr)
        return False
    return True


def closed_loop(op, check, *, seconds: float, min_samples: int,
                sample=sample_tree, clock=time.perf_counter) -> LoopResult:
    """Run ``op`` back to back until ``seconds`` passed and at least
    ``min_samples`` ran. ``check(op())`` raises if the output is wrong."""
    res = LoopResult()
    deadline = clock() + seconds
    while res.attempted < min_samples or clock() < deadline:
        before = sample()
        t0 = clock()
        ran, out = _run(op)
        wall = clock() - t0
        after = sample()
        res.cpu_s += after.total_cpu_s - before.total_cpu_s
        res.worker_hwm_mb = max(res.worker_hwm_mb, after.worker_hwm_mb)
        res.record(wall, ran and passes(lambda: check(out)))
    return res
