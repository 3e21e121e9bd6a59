"""Sample statistics and the result-line contract of the benchmark."""

from __future__ import annotations

import json
import math
import re

# A metric or workload name: starts with a letter or digit, at most 64 of
# letters, digits, '_', '.' and '-'.  A unit: at most 16 of letters,
# digits, '_', '/', '%', '.' and '-'.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128
MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def reportable(n: int, q: float) -> bool:
    """A percentile q (0 < q < 1) of n samples is reported only when at
    least MIN_BEYOND samples lie beyond it; the median also needs them."""
    return round(n * (1.0 - q), 9) >= MIN_BEYOND


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest of p99/p95/p90/p75/p50 the sample supports, as
    (q, value); None when not even the median has MIN_BEYOND samples
    beyond it."""
    for q in (0.99, 0.95, 0.9, 0.75, 0.5):
        if reportable(len(values), q):
            return q, quantile(values, q)
    return None


def check_spec(spec: dict) -> list[str]:
    """Problems with BENCHMARK.json's names, units and metric counts."""
    problems: list[str] = []
    seen: set[str] = set()
    groups = (("workloads", 2, 8), ("end_to_end", 1, MAX_END_TO_END), ("per_layer", 1, MAX_PER_LAYER))
    for key, lo, hi in groups:
        items = spec.get(key, [])
        if not lo <= len(items) <= hi:
            problems.append(f"{key}: {len(items)} entries, want {lo}..{hi}")
        for item in items:
            name = item.get("name", "")
            if not NAME_RE.match(name):
                problems.append(f"{key}: bad name {name!r}")
            if name in seen:
                problems.append(f"{key}: name {name!r} used twice")
            seen.add(name)
            if key == "workloads":
                why = item.get("why", "")
                if set(item) != {"name", "why"} or not why or len(why) > 200 or "\n" in why:
                    problems.append(f"workload {name}: needs exactly a one-line why")
                continue
            if not UNIT_RE.match(item.get("unit", "")):
                problems.append(f"{key}: {name} has bad unit {item.get('unit')!r}")
            if item.get("better") not in ("lower", "higher"):
                problems.append(f"{key}: {name} has bad 'better'")
            want = {"name", "unit", "better", "bound"} if key == "end_to_end" else {"name", "unit", "better"}
            if set(item) != want:
                problems.append(f"{key}: {name} keys {sorted(item)} != {sorted(want)}")
            if key == "end_to_end" and not 0 < item.get("bound", 0) <= 0.25:
                problems.append(f"end_to_end: {name} bound outside (0, 0.25]")
    if not any(
        m.get("name") == "setup_s" and m.get("unit") == "s" and m.get("better") == "lower"
        for m in spec.get("end_to_end", [])
    ):
        problems.append("end_to_end: no setup_s metric in s, lower")
    return problems


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    """The last stdout line: exactly correct/attempted/failed/metrics."""
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    )
