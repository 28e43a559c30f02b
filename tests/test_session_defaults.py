"""Session defaults fit the host (session.get_spark): the initial
shuffle width is the session's scheduling width, AQE coalesces cached
plans as well as uncached ones but not below the session's cores, and
the default driver heap fits in physical memory. The heap default is
tested without a JVM; the coalescing tests read task counts from the
shared session's status tracker."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from mpg_data_warehouse_spark.session import driver_memory, get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------------------
# JVM-free: the heap default
# ---------------------------------------------------------------------------


def _mb(heap: str) -> int:
    assert heap.endswith("m"), heap
    return int(heap[:-1])


def test_default_driver_heap_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    assert 0 < _mb(driver_memory()) <= phys_mb
    # a fixed share of RAM on small hosts, never above 24g on large ones
    assert _mb(driver_memory(15 << 30)) < 15 << 10
    assert _mb(driver_memory(1 << 40)) == 24 << 10


def test_driver_heap_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


# ---------------------------------------------------------------------------
# On the shared session
# ---------------------------------------------------------------------------


def test_session_width_and_its_precedence(spark):
    assert (
        spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        == "true"
    )
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        # no explicit width: the context's scheduling width
        get_spark("tests")
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            sc.defaultParallelism
        )
        # an explicit width wins over the default...
        get_spark("tests", shuffle_partitions=5)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
        # ...and the key in extra_conf over both, like any other key
        get_spark(
            "tests",
            shuffle_partitions=5,
            extra_conf={"spark.sql.shuffle.partitions": "7"},
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_spark_graft_cpus_sets_the_width():
    """``SPARK_GRAFT_CPUS=2`` starts ``local[2]`` with a shuffle width of
    2 (a fresh JVM, so it runs in a child process)."""
    probe = (
        "from mpg_data_warehouse_spark.session import get_spark\n"
        "s = get_spark('width-probe')\n"
        "print(s.sparkContext.master, s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    assert out.split()[-2:] == ["local[2]", "2"], out


def _rescan_tasks(spark, agg, group):
    """Task counts of the stages that rescan the persisted ``agg``."""
    sc = spark.sparkContext
    agg.count()  # materializes the cache
    sc.setJobGroup(group, "rescan of a persisted aggregate")
    try:
        agg.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(s) is not None
    ]
    assert tasks, "the rescan ran no stage"
    return tasks


def test_cached_aggregate_rescans_at_coalesced_width(spark):
    """A persisted groupBy aggregate built under a wide shuffle (32) is
    rescanned by no more tasks than the session has cores: AQE
    coalesced the cached plan's output partitioning."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    agg = (
        spark.range(20_000)
        .groupBy((F.col("id") % 100).alias("k"))
        .agg(F.sum("id").alias("s"))
        .persist()
    )
    try:
        tasks = _rescan_tasks(spark, agg, "test-cached-plan-coalescing")
        assert max(tasks) <= spark.sparkContext.defaultParallelism, tasks
    finally:
        agg.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_coalescing_keeps_a_small_shuffle_on_every_core(spark):
    """A cached aggregate of about a megabyte still spreads over the
    session's cores after AQE coalesces it from 32 partitions, so a
    CPU-heavy consumer of the cached frame runs on all of them."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    agg = (
        spark.range(20_000)
        .select(F.sha2(F.col("id").cast("string"), 256).alias("h"))
        .groupBy("h")
        .count()
        .persist()
    )
    try:
        tasks = _rescan_tasks(spark, agg, "test-coalescing-floor")
        cores = spark.sparkContext.defaultParallelism
        assert cores <= min(tasks) < 32, tasks
    finally:
        agg.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
