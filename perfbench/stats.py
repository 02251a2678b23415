"""Small statistics and host-probe helpers: percentiles with their sample
counts, the warm-up stop rule, failed-op accounting, CPU steal and a fixed
calibration probe. Stdlib only, so the tests need no Spark."""

from __future__ import annotations

import hashlib
import os
import statistics
import time


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (the method
    NumPy calls "linear"). Raises on an empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th percentile
    rank, i.e. how many samples back a tail percentile."""
    return n - 1 - int((n - 1) * q / 100.0)


def summary(values: list[float]) -> dict:
    """Median, p90 and the sample counts behind them. ``p90`` is reported
    only when at least ten samples lie beyond it, as a tail percentile
    with fewer is a guess."""
    out = {"n": len(values), "p50": percentile(values, 50)}
    if samples_beyond(len(values), 90) >= 10:
        out["p90"] = percentile(values, 90)
    return out


def falling(history: list[float], block: int, tol: float) -> bool:
    """True while the median of the last ``block`` samples is more than
    ``tol`` (a share) below the median of the ``block`` samples before it,
    or while there are not yet two blocks to compare."""
    if len(history) < 2 * block:
        return True
    last = statistics.median(history[-block:])
    prev = statistics.median(history[-2 * block : -block])
    return last < prev * (1.0 - tol)


def steady(by_type: dict[str, list[float]], block: int, tol: float) -> bool:
    """Warm-up stop rule: every op type's block median has stopped
    falling."""
    return bool(by_type) and not any(
        falling(xs, block, tol) for xs in by_type.values()
    )


class Tally:
    """Attempted and failed op counts plus the first few failure reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, problems: list[str]) -> bool:
        """Count one op; ``problems`` lists its failed checks. Returns
        whether the op passed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append("; ".join(problems))
        return not problems

    def fail(self, n: int, reason: str) -> None:
        """Mark ``n`` already-counted ops as failed by a later check."""
        self.failed = min(self.attempted, self.failed + n)
        if len(self.reasons) < 20:
            self.reasons.append(reason)


def steal_seconds(path: str = "/proc/stat") -> float | None:
    """Host CPU time stolen from this machine's CPUs so far (the ``steal``
    column of the aggregate ``cpu`` line), in seconds; None when the file
    or the column is missing."""
    try:
        with open(path) as f:
            fields = f.readline().split()
    except OSError:
        return None
    if len(fields) < 9 or fields[0] != "cpu":
        return None
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def calibration_s(rounds: int = 60000) -> float:
    """Wall time of a fixed single-threaded hashing loop. Comparing it
    between runs (and between the start and end of one run) shows how much
    the host itself slowed, apart from the program."""
    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t
