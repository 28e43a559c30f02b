"""Results do not depend on the shuffle width. The default width
follows the host's cores and AQE coalesces every stage, cached ones
included, to its data, so the slots that persist, checkpoint and
shuffle the most must give the same rows at a narrow and a wide
initial width: same row count and same order-insensitive value hash
(``tools/check_oracle.normalize``, the oracle gate's own comparison)."""

from __future__ import annotations

import os
import sys

import pytest
from conftest import SF_SMOKE as SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SLOTS = [
    "membership_semi_anti",
    "minhash_near_dup_pairs",
    "near_dup_retention",
    "bm25_doc_search",
]


def _normalized(spark, name, width):
    if os.path.join(REPO, "tools") not in sys.path:
        sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_oracle import normalize

    from mpg_data_warehouse_spark.plans.driver_queries import QUERIES

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        return normalize(QUERIES[name](spark, SF).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("name", SLOTS)
def test_result_is_independent_of_shuffle_width(spark, name):
    narrow = _normalized(spark, name, 4)
    wide = _normalized(spark, name, 32)
    assert narrow[0] > 0, f"{name} returned no rows"
    assert narrow == wide
