"""The benchmark's workloads: which contract slots run, and why.

Each slot is ``QUERIES[name](spark, sf_dir)`` from
``mpg_data_warehouse_spark.plans.driver_queries`` plus a noop sink.
The two workloads split the engine's layers so that an optimisation of
one side is exercised by one workload and bypassed by the other.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "warehouse_sql": {
        "why": (
            "the paper's own JVM-only scan/join/aggregate/window surface, "
            "where per-job and driver-side cost dominate; no Python workers "
            "and no index or table writes"
        ),
        "slots": [
            "ground_cover_pct_complete",
            "multi_way_join_enrich",
            "membership_semi_anti",
            "date_repair_from_dim",
            "string_agg_top3_dates",
            "window_partition_count",
            "group_multiples_having",
            "species_richness_union_dedup",
        ],
    },
    "curation_ingest": {
        "why": (
            "LLM-data dedup and BM25 index build/probe plus the Avro write "
            "path: executor CPU, shuffle, the Python-worker boundary, stored bytes"
        ),
        "slots": [
            "near_dup_retention",
            "minhash_near_dup_pairs",
            "bm25_doc_search",
            "avro_roundtrip_agg",
        ],
    },
}

ALL_SLOTS = [s for w in WORKLOADS.values() for s in w["slots"]]
