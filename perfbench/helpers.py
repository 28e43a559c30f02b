"""Pure helpers of the benchmark: no Spark, no I/O beyond ``dir_bytes``.

Everything here is unit-tested in ``perfbench/tests/test_helpers.py``.
"""

from __future__ import annotations

import math
import os
import random
import re
from collections.abc import Iterable, Sequence


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive values (each slot weighs the same)."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(
    start: float, end: float, children: Iterable[tuple[float, float]]
) -> float:
    """A span's duration minus the part of it its child spans cover.

    Children may overlap one another (``concurrency.await_all`` runs its
    legs on several threads at once); the covered part is their union,
    clipped to the span, so overlapping legs are not subtracted twice."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def attribute_jobs(
    ranges: dict[str, tuple[int, int]], job_ids: Iterable[int]
) -> dict[str, list[int]]:
    """Assign Spark job ids to slots by the half-open id range
    ``[first, next)`` read from the scheduler before and after each slot.

    Slots run one after another, so every job allocated between a slot's
    start and end belongs to it, whichever driver thread submitted it.
    Job groups, by contrast, are thread-local and miss jobs submitted
    from ``concurrency.await_all`` legs."""
    out: dict[str, list[int]] = {name: [] for name in ranges}
    for j in sorted(job_ids):
        for name, (lo, hi) in ranges.items():
            if lo <= j < hi:
                out[name].append(j)
                break
    return out


def fail_ratio(failed: int, attempted: int) -> float:
    """Slot executions that raised over slot executions attempted."""
    if attempted <= 0:
        raise ValueError("no slot executions attempted")
    return failed / attempted


def space_amp(bytes_left: int, input_bytes: int) -> float:
    """Bytes the slots left in the run's temp dir per input byte read."""
    if input_bytes <= 0:
        return 0.0
    return bytes_left / input_bytes


def pass_order(slots: Sequence[str], seed: int, pass_index: int) -> list[str]:
    """The slot order of one pass: a permutation fixed by (seed, pass)."""
    order = list(slots)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def dir_bytes(path: str) -> int:
    """Bytes of all regular files under ``path`` (0 if it is gone)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total


_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?")


def parse_metric_total(text: str) -> float:
    """Total of a Spark SQL metric as the status store renders it.

    Sum metrics read ``"1,234"``; size and timing metrics read
    ``"total (min, med, max ...)\\n1.2 MiB (...)"``, whose first number
    after the header is the total."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)
