"""Percentiles with a sample-count guard, and resident-memory readings."""

from __future__ import annotations

import math

#: a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """Raised when a percentile has fewer than MIN_BEYOND samples beyond it."""


def percentile(values: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1) by linear interpolation between order
    statistics.  Refuses, by raising :class:`TooFewSamples`, when fewer than
    ``MIN_BEYOND`` samples lie above it: a p90 needs 100 samples, a median 20.
    """
    if not 0 < q < 1:
        raise ValueError(f"quantile {q} outside (0, 1)")
    n = len(values)
    beyond = math.floor(n * (1 - q) + 1e-9)
    if beyond < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples has {beyond} beyond it; "
            f"{MIN_BEYOND} needed"
        )
    xs = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0
