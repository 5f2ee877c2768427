"""Order statistics and the benchmark's output: a prose table, then one
compact JSON line (the last line of standard output)."""

from __future__ import annotations

import json
import math
from typing import Dict, Iterable, List, Sequence, Tuple


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolation percentile (``q`` in [0, 100]) of a non-empty
    sample — numpy's default ``linear`` method."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)


def quartiles(values: Sequence[float]) -> Tuple[float, float, float]:
    """``(p25, median, p75)`` by the same linear method."""
    return percentile(values, 25), percentile(values, 50), percentile(values, 75)


class Metrics:
    """Named metric values plus, for timings, the samples behind them."""

    def __init__(self) -> None:
        self.values: Dict[str, Tuple[float, str]] = {}
        self.samples: Dict[str, List[float]] = {}

    def put(self, name: str, value: float, unit: str,
            samples: Iterable[float] = ()) -> None:
        self.values[name] = (float(value), unit)
        samples = list(samples)
        if samples:
            self.samples[name] = samples

    def table(self, names: Sequence[str]) -> List[str]:
        """Human-readable lines: value, unit and, for sampled metrics, the
        median with quartiles and the sample count."""
        lines = []
        for name in names:
            value, unit = self.values[name]
            line = f"{name:34s} {value:14.6g} {unit}"
            s = self.samples.get(name)
            if s:
                p25, p50, p75 = quartiles(s)
                line += f"   (median {p50:.6g}, p25 {p25:.6g}, p75 {p75:.6g}, n={len(s)})"
            lines.append(line)
        return lines

    def pick(self, names: Sequence[str]) -> Dict[str, dict]:
        return {
            n: {"value": self.values[n][0], "unit": self.values[n][1]}
            for n in names
        }


def result_line(correct: bool, attempted: int, failed: int,
                metrics: Dict[str, dict]) -> str:
    """The final stdout line: one compact JSON object, no prose."""
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted),
         "failed": int(failed), "metrics": metrics},
        separators=(",", ":"), allow_nan=False,
    )
