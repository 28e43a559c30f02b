"""Capture ``.explain("formatted")`` for headline queries into
``plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<tag>.txt`` (default r14) —
the optimization round's evidence files (the judge checks plan claims
against these).

Usage: python tools/capture_plans.py <tag> [query ...]

With no query names, captures every bench HEADLINE query. Uses
sf0.001 by default (plan SHAPE is sf-invariant; override with
SPARK_GRAFT_SF_DIR). Storage each query creates is released after its
capture so later captures are cache-clean.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mpg_data_warehouse_spark.plans.driver_queries import QUERIES
from mpg_data_warehouse_spark.session import (
    get_spark,
    persistent_rdd_ids,
    release_rdd_storage,
)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    tag = sys.argv[1]
    names = sys.argv[2:]
    if not names:
        from bench import HEADLINE

        names = [n for n in HEADLINE if n in QUERIES]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
    )
    os.makedirs(out_dir, exist_ok=True)
    # plan text embeds the shuffle width, which by default follows the
    # host's cores: take the dumps at one fixed width on every host
    spark = get_spark("capture-plans", shuffle_partitions=32)
    for name in names:
        ids0 = persistent_rdd_ids(spark)
        # unwrap scoped queries (same as explain_digest): the scoped
        # wrapper returns an eager checkpoint whose plan is a bare
        # RDD scan — the evidence wants the builder's real plan
        fn = getattr(QUERIES[name], "__wrapped__", QUERIES[name])
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        release_rdd_storage(spark, persistent_rdd_ids(spark) - ids0)
        print(f"{name}: {len(plan)} chars")
    return 0


if __name__ == "__main__":
    sys.exit(main())
