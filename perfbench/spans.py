"""Phase breakdown of a traced run, read from its spans file.

    python3 perfbench/spans.py .perfbench_out/spans-curation_ingest-seed1.jsonl

For each slot, prints every layer function it called with its call
count, inclusive time and self time (inclusive minus the union of its
child spans), summed over the run's passes and listed in first-call
order, e.g. ``operators.dedup.exact_dedup`` and
``operators.dedup.retain_representatives`` inside
``near_dup_retention``.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

from helpers import self_time


def breakdown(records: list[dict]) -> dict[str, dict[str, list[float]]]:
    """{slot: {module.function: [calls, inclusive_s, self_s]}}."""
    children = defaultdict(list)
    for r in records:
        if r["parent"] is not None:
            children[(r["pass"], r["parent"])].append((r["start"], r["end"]))
    out: dict[str, dict[str, list[float]]] = defaultdict(dict)
    for r in sorted(records, key=lambda r: (r["pass"], r["start"])):
        key = f"{r['module']}.{r['name']}"
        row = out[r["slot"]].setdefault(key, [0, 0.0, 0.0])
        row[0] += 1
        row[1] += r["end"] - r["start"]
        row[2] += self_time(
            r["start"], r["end"], children.get((r["pass"], r["id"]), ())
        )
    return out


def main(path: str) -> None:
    with open(path) as fh:
        records = [json.loads(line) for line in fh]
    for slot, rows in breakdown(records).items():
        print(slot)
        for key, (calls, incl, own) in rows.items():
            print(f"  {key:60s} {calls:5d} calls {incl:9.3f} s {own:9.3f} s self")


if __name__ == "__main__":
    main(sys.argv[1])
