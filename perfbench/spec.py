"""What the benchmark reports: the single source of ``BENCHMARK.json``.

    python3 perfbench/spec.py > BENCHMARK.json

``perfbench/tests/test_spec.py`` fails when the committed file drifts
from this module.
"""

from __future__ import annotations

import json

from workloads import ALL_SLOTS, WORKLOADS

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 1  # below one pass of either workload: every run measures one pass

# name: (unit, bound); all are "lower is better".
END_TO_END = {
    "setup_s": ("s", 0.25),
    "pass_s": ("s", 0.25),
    "slot_geomean_s": ("s", 0.25),
}

# Layer modules the workloads call into (each is wrapped in traced runs).
LAYER_MODULES = [
    "operators.dedup",
    "operators.search",
    "operators.text",
    "operators.aggregates",
    "operators.complete",
    "operators.append",
    "sources.readers",
    "sources.writers",
    "sources.avro_ocf",
    "concurrency",
]
# BM25 lifecycle phases the workloads reach (bm25_doc_search).
BM25_PHASES = ("build_ranked_index", "bm25_search_many")

ENGINE_COUNTERS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.in_jobs_s": "s",
    "driver.outside_jobs_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "shuffle.read_bytes": "B",
    "shuffle.write_bytes": "B",
    "spill.bytes": "B",
    "input.bytes": "B",
    "output.bytes": "B",
    "python.data_sent_bytes": "B",
    "python.rows_returned": "count",
    "space_amp": "ratio",
    "peak_rss_mb": "MiB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.release_s": "s",
    "session.rdds_released": "count",
    "plans.driver_queries.build_s": "s",
    "plans.driver_queries.sink_s": "s",
    "trace.overhead_s": "s",
}


def per_layer() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = dict(ENGINE_COUNTERS)
    for slot in ALL_SLOTS:
        out[f"slot.{slot}.jobs"] = "count"
        out[f"slot.{slot}.outside_jobs_s"] = "s"
    for phase in BM25_PHASES:
        out[f"operators.search.{phase}_s"] = "s"
    for mod in LAYER_MODULES:
        out[f"{mod}.self_s"] = "s"
        out[f"{mod}.calls"] = "count"
        out[f"{mod}.jobs"] = "count"
    return out


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [
            {"name": name, "why": w["why"]} for name, w in WORKLOADS.items()
        ],
        "end_to_end": [
            {"name": n, "unit": u, "better": "lower", "bound": b}
            for n, (u, b) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "lower"}
            for n, u in per_layer().items()
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
