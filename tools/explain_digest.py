"""Per-query physical-plan digests: for every registry query, capture
the executed plan, normalize away volatile tokens (expr ids, paths,
stats), and emit EXPLAINS.md with operator counts + a stable plan
hash. Round-over-round diffs of this file make perf regressions
attributable to a specific plan change (VERDICT r1 item 7).

Usage: python tools/explain_digest.py [sf_dir] [out_md]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mpg_data_warehouse_spark.plans.driver_queries import QUERIES
from mpg_data_warehouse_spark.session import (
    get_spark,
    persistent_rdd_ids,
    release_rdd_storage,
)


def plans_fingerprint(plans_dir: str | None = None) -> str:
    """sha256 over every ``plans/*.py`` source file (sorted relpath +
    content) — bound into the EXPLAINS.md header so ANY plan-file edit
    without a digest regeneration fails ``test_explains_fresh``, not
    just edits to the six sampled queries (r9 VERDICT item 5).
    ``plans_dir`` is injectable so the guard's edit-sensitivity is
    itself testable against a tampered copy."""
    plans_dir = plans_dir or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "mpg_data_warehouse_spark",
        "plans",
    )
    h = hashlib.sha256()
    for fname in sorted(os.listdir(plans_dir)):
        if not fname.endswith(".py"):
            continue
        h.update(fname.encode())
        with open(os.path.join(plans_dir, fname), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]

# Operators whose counts form the digest row. Exchange is the shuffle
# count; the join columns catch a broadcast silently degrading to SMJ;
# the Python columns guard the zero-UDF policy.
OPS = [
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "WindowGroupLimit",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "Generate",
    "InMemoryTableScan",
]

_VOLATILE = [
    (re.compile(r"#\d+L?"), "#_"),          # expression ids
    (re.compile(r"file:[^\s,\]]+"), "file:_"),  # scan paths
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"\[id=#?\d+\]"), "[id=_]"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(_)"),
    # HOF lambda variable ids come from a SESSION-GLOBAL counter, so
    # the same plan hashes differently depending on how many lambda-
    # bearing plans the session built before it — normalize or the
    # digest is capture-order-dependent
    (re.compile(r"\b(lambda )?x_\d+"), r"\1x_"),
]


def normalize(plan: str) -> str:
    for pat, repl in _VOLATILE:
        plan = pat.sub(repl, plan)
    return plan


def digest(plan: str) -> tuple[dict[str, int], str]:
    norm = normalize(plan)
    counts = {op: len(re.findall(rf"\b{op}\b", norm)) for op in OPS}
    h = hashlib.sha256(norm.encode()).hexdigest()[:12]
    return counts, h


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "EXPLAINS.md",
    )
    # plan text embeds the shuffle width, which by default follows the
    # host's cores: take the digests at one fixed width on every host
    spark = get_spark("explain-digest", shuffle_partitions=32)
    # scan-metadata blobs (DataFilters/PushedFilters/...) truncate at
    # maxMetadataStringLength (default 100) — and the truncation point
    # depends on EXPRESSION-ID WIDTH, which grows with session age, so
    # the same plan hashed differently in young vs old sessions. Raise
    # the budget so the normalizer sees the whole expression.
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")

    shown = [op for op in OPS]
    lines = [
        "# EXPLAINS — physical-plan digests",
        "",
        # machine-checked freshness header (test_explains_fresh):
        # queries= the registry size at generation time, rows= plans
        # actually captured, plans-fingerprint= sha256 of plans/*.py —
        # any registry growth or plan-file edit without regeneration
        # fails the guard, not just edits to the sampled queries
        "__DIGEST_META_PLACEHOLDER__",
        "",
        f"Plans captured at `{sf_dir}` (plan *shape* is sf-invariant for",
        "these queries; AQE may re-split at runtime). `hash` is a sha256",
        "prefix of the normalized executed plan — a changed hash with an",
        "unchanged operator row means expression-level drift only.",
        "NOTE: operator counts are STATIC-plan counts — a `.cache()`d",
        "subtree is printed once per consumer, so plans that fan a",
        "cached intermediate into several joins (e.g.",
        "`ngram_jaccard_pairs`'s replica-collapse map) count its",
        "exchanges per reference; at runtime the cached stage executes",
        "once. Cross-check `imts` (InMemoryTableScan) for reuse.",
        "Capture state: since r10 every query's storage AND SQL cache",
        "is released after its capture, so each plan is captured",
        "cache-clean — deterministic across sessions (verified by",
        "back-to-back full regenerations), but hashes are NOT",
        "comparable to pre-r10 digests captured under accumulated",
        "cache state (r10 one-time drift on ~9 unchanged-op rows).",
        "Regenerate: `python tools/explain_digest.py`.",
        "",
        "| query | " + " | ".join(
            {"Exchange": "xchg", "BroadcastHashJoin": "bhj",
             "SortMergeJoin": "smj", "BroadcastNestedLoopJoin": "bnlj",
             "CartesianProduct": "cart", "HashAggregate": "hagg",
             "ObjectHashAggregate": "ohagg", "SortAggregate": "sagg",
             "Window": "win", "WindowGroupLimit": "wgl",
             "MapInPandas": "mip", "ArrowEvalPython": "arrow",
             "BatchEvalPython": "pyudf", "Generate": "gen",
             "InMemoryTableScan": "imts"}[op]
            for op in shown
        ) + " | hash |",
        "|---|" + "---|" * (len(shown) + 1),
    ]

    failures: list[str] = []
    planned = 0
    for name in sorted(QUERIES):
        ids0 = persistent_rdd_ids(spark)
        try:
            # storage-scoped queries (session.run_scoped) return an
            # eagerly checkpointed frame whose plan is one LogicalRDD
            # scan — digest the UNDERLYING builder's plan instead
            fn = getattr(QUERIES[name], "__wrapped__", QUERIES[name])
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # streaming-only or env-gated entries
            failures.append(f"{name}: {type(exc).__name__}")
            continue
        finally:
            # unwrapped scoped builders persist/cache/checkpoint
            # corpus-sized intermediates with no run_scoped to free
            # them — digesting 50 such plans in one session would
            # accumulate exactly the storage debris run_scoped exists
            # to prevent, so release the diff after each capture
            # (bench.py's pattern)
            release_rdd_storage(spark, persistent_rdd_ids(spark) - ids0)
            spark.catalog.clearCache()  # + their CacheManager entries
        counts, h = digest(plan)
        planned += 1
        lines.append(
            f"| {name} | "
            + " | ".join(str(counts[op]) for op in shown)
            + f" | `{h}` |"
        )

    if failures:
        lines += ["", "Not planable in batch mode:"] + [
            f"- {f}" for f in failures
        ]
    lines.append("")
    meta = (
        f"<!-- digest-meta queries={len(QUERIES)} rows={planned} "
        f"plans-fingerprint={plans_fingerprint()} -->"
    )
    lines[lines.index("__DIGEST_META_PLACEHOLDER__")] = meta
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out} ({planned} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
