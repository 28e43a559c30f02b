"""Self-test: a slot whose legs run through ``concurrency.await_all``
is charged every job it submits. Starts a small local Spark session."""

import pytest

pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from mpg_data_warehouse_spark.session import get_spark

    s = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def _slot(spark):
    """Two jobs on the caller's thread, four on await_all leg threads
    (an RDD count is exactly one job)."""
    from mpg_data_warehouse_spark import concurrency

    sc = spark.sparkContext
    sc.parallelize(range(10), 2).count()
    sc.parallelize(range(5), 1).count()
    concurrency.await_all(
        *[lambda i=i: sc.parallelize(range(i + 1), 1).count() for i in range(4)]
    )
    return spark.range(1)


def test_job_id_range_counts_await_all_legs(spark, tmp_path):
    import run

    sc = spark.sparkContext
    bench = run.Bench(spark, "warehouse_sql", 0, str(tmp_path), None)
    bench.queries = {"selftest": lambda s, _sf: _slot(s)}
    sc.setJobGroup("perfbench-selftest", "job-group baseline")
    try:
        r = bench.run_slot("selftest", "", collect=False)
    finally:
        sc.setJobGroup(None, None)
    assert r.error is None
    # 6 jobs from the slot body + 1 for the noop sink
    assert r.next_job - r.first_job == 7
    # job groups are thread-local: the legs' jobs escape the caller's group
    grouped = sc.statusTracker().getJobIdsForGroup("perfbench-selftest")
    assert len(grouped) == 3  # 2 caller jobs + the sink; the 4 legs escape


def test_traced_legs_carry_the_await_all_span(spark, tmp_path):
    import run
    from spantrace import TAG_PREFIX, Tracer
    from statusstore import read_jobs

    tracer = Tracer(spark.sparkContext)
    tracer.install()
    try:
        bench = run.Bench(spark, "warehouse_sql", 0, str(tmp_path), tracer)
        bench.queries = {"selftest": lambda s, _sf: _slot(s)}
        r = bench.run_slot("selftest", "", collect=False)
    finally:
        tracer.uninstall()
    assert r.error is None
    module_of = {s.sid: s.module for s in tracer.spans}
    tagged = [
        module_of.get(int(j.description[len(TAG_PREFIX):]))
        for j in read_jobs(spark.sparkContext, r.first_job, r.next_job)
        if j.description and j.description.startswith(TAG_PREFIX)
    ]
    assert tagged.count("concurrency") == 4
    assert tagged.count("plans.driver_queries") == 3  # 2 in build + sink
    # the wrappers are gone again after uninstall
    from mpg_data_warehouse_spark import concurrency

    assert not hasattr(concurrency.await_all, "__wrapped__")


def test_traced_pass_reports_every_per_layer_metric(spark, tmp_path):
    import run
    from spantrace import Tracer
    from spec import per_layer

    tracer = Tracer(spark.sparkContext)
    tracer.install()
    try:
        bench = run.Bench(spark, "warehouse_sql", 0, str(tmp_path), tracer)
        bench.queries = {"selftest": lambda s, _sf: _slot(s)}
        bench.slots = ["selftest"]
        p = bench.run_pass(0)
        m = run.traced_pass_metrics(bench, p, tracer.spans)
    finally:
        tracer.uninstall()
    # the rest are per-run values that run.measure adds
    assert set(per_layer()) - set(m) == {
        "space_amp",
        "peak_rss_mb",
        "session.start_s",
        "session.warmup_s",
    }
    assert m["spark.jobs"] == 7
    assert m["concurrency.jobs"] == 4
    assert m["slot.membership_semi_anti.jobs"] == 0  # not in this pass
