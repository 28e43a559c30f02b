"""Reads Spark's in-process status stores after a timed window closes.

Works with the UI disabled: ``AppStatusStore`` (jobs, stages) and the
SQL ``statusStore`` (plan-node metrics) are populated by listeners
regardless. Nothing here runs inside a timed window.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from helpers import parse_metric_total

STAGE_FIELDS = {
    "executor.run_s": ("executorRunTime", 1e-3),
    "executor.cpu_s": ("executorCpuTime", 1e-9),
    "shuffle.read_bytes": ("shuffleReadBytes", 1),
    "shuffle.write_bytes": ("shuffleWriteBytes", 1),
    "input.bytes": ("inputBytes", 1),
    "output.bytes": ("outputBytes", 1),
}
# Plan nodes that cross the JVM / Python-worker boundary.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)


def next_job_id(sc) -> int:
    """The id the scheduler will give the next job. Ids are allocated in
    submission order from every driver thread, so the ids between two
    reads are exactly the jobs submitted in between."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def sql_execution_count(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


@dataclass
class JobInfo:
    job_id: int
    start_s: float  # epoch seconds
    end_s: float
    description: str | None
    stage_ids: list[int] = field(default_factory=list)


def read_jobs(sc, first: int, nxt: int) -> list[JobInfo]:
    """Jobs with ids in ``[first, nxt)`` that the store still holds."""
    store = sc._jsc.sc().statusStore()
    out = []
    for j in range(first, nxt):
        try:
            jd = store.job(j)
        except Py4JJavaError:  # evicted from the store, or never registered
            continue
        sub, comp = jd.submissionTime(), jd.completionTime()
        start = sub.get().getTime() / 1000 if sub.isDefined() else None
        end = comp.get().getTime() / 1000 if comp.isDefined() else start
        desc = jd.description()
        stages = []
        it = jd.stageIds().iterator()
        while it.hasNext():
            stages.append(int(it.next()))
        out.append(
            JobInfo(
                j,
                start if start is not None else 0.0,
                end if end is not None else 0.0,
                desc.get() if desc.isDefined() else None,
                stages,
            )
        )
    return out


def read_stage_totals(sc, stage_ids) -> dict[str, float]:
    """Executor counters summed over the stages that ran (skipped stages
    contribute nothing), plus stage and task counts."""
    store = sc._jsc.sc().statusStore()
    tot = {k: 0.0 for k in STAGE_FIELDS}
    tot.update({"spill.bytes": 0.0, "spark.stages": 0, "spark.tasks": 0})
    for s in sorted(set(stage_ids)):
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # evicted from the store
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        tot["spark.stages"] += 1
        tot["spark.tasks"] += int(sd.numCompleteTasks())
        for key, (getter, scale) in STAGE_FIELDS.items():
            tot[key] += getattr(sd, getter)() * scale
        tot["spill.bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return tot


def read_python_node_totals(spark, first_exec: int) -> dict[str, float]:
    """Bytes sent to and rows returned from Python workers, summed over
    the Python plan nodes of SQL executions ``first_exec`` onwards."""
    sq = spark._jsparkSession.sharedState().statusStore()
    n = int(sq.executionsCount())
    tot = {"python.data_sent_bytes": 0.0, "python.rows_returned": 0.0}
    if n <= first_exec:
        return tot
    it = sq.executionsList(first_exec, n - first_exec).iterator()
    while it.hasNext():
        eid = it.next().executionId()
        values = sq.executionMetrics(eid)
        nodes = sq.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name() not in PYTHON_NODES:
                continue
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                key = {
                    "data sent to Python workers": "python.data_sent_bytes",
                    "number of output rows": "python.rows_returned",
                }.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    tot[key] += parse_metric_total(v.get())
    return tot


def process_peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())
