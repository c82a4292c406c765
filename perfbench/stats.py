"""Pure helpers: interval unions, span self times, result shape.

Kept free of Spark and of the library so that ``test_perfbench.py``
can check them in milliseconds.
"""

from __future__ import annotations

import math
from typing import Dict, Iterable, List, Optional, Sequence, Tuple


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        elif hi > cur_hi:
            cur_hi = hi
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clipped_union_length(
    intervals: Iterable[Tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    return union_length(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )


def self_times(spans: Sequence[dict]) -> List[float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover.

    ``spans`` are dicts with ``start``, ``end`` and ``parent`` (the
    index of the parent span in the same list, or None)."""
    children: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"])
        - clipped_union_length(children.get(i, ()), s["start"], s["end"])
        for i, s in enumerate(spans)
    ]


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def result_line(
    correct: bool, attempted: int, failed: int, metrics: Dict[str, dict]
) -> dict:
    """The one-line result object, validated against its format."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
    check_result_shape(out)
    return out


def check_result_shape(out: dict, names: Optional[Iterable[str]] = None) -> None:
    """Raise ValueError unless ``out`` has exactly the result keys
    (and, when given, exactly the metric ``names``)."""
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(out)}")
    if not isinstance(out["correct"], bool):
        raise ValueError("correct must be a bool")
    for key in ("attempted", "failed"):
        if not isinstance(out[key], int) or isinstance(out[key], bool):
            raise ValueError(f"{key} must be an int")
    if out["attempted"] < 1 or not 0 <= out["failed"] <= out["attempted"]:
        raise ValueError("need attempted >= 1 and 0 <= failed <= attempted")
    for name, m in out["metrics"].items():
        if set(m) != {"value", "unit"}:
            raise ValueError(f"metric {name} keys {sorted(m)}")
        if not isinstance(m["value"], float) or not math.isfinite(m["value"]):
            raise ValueError(f"metric {name} value {m['value']!r}")
    if names is not None and set(out["metrics"]) != set(names):
        missing = set(names) - set(out["metrics"])
        extra = set(out["metrics"]) - set(names)
        raise ValueError(f"metrics missing {sorted(missing)} extra {sorted(extra)}")
