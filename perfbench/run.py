"""Closed-loop benchmark of mpg_data_warehouse_spark: one client runs a
workload's slots one after another on ``local[*]`` (every core), each
slot a ``QUERIES[name](spark, sf_dir)`` call plus a noop sink.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 \\
        --seconds 10 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from helpers import (  # noqa: E402
    attribute_jobs,
    dir_bytes,
    fail_ratio,
    geomean,
    pass_order,
    space_amp,
    union_length,
)
from spec import BM25_PHASES, END_TO_END, LAYER_MODULES, per_layer  # noqa: E402
from workloads import ALL_SLOTS, WORKLOADS  # noqa: E402

DATA_SF = os.path.join(HERE, "data", "sf0.01")
RUN_PARENT = os.path.join(ROOT, ".perfbench_run")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
PACKAGE = "mpg_data_warehouse_spark"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_process(run_dir: str) -> str:
    """Point every temp and scratch location of this process, its JVM and
    its Python workers into ``run_dir``; returns the Python temp dir.

    ``SPARK_GRAFT_*`` variables are dropped so ``session.get_spark``
    runs on its code defaults."""
    py_tmp = os.path.join(run_dir, "tmp")
    jvm_tmp = os.path.join(run_dir, "jvm-tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (py_tmp, jvm_tmp, local):
        os.makedirs(d)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = py_tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata file in /tmp either: the run writes only inside its checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)  # spark-warehouse/ and friends land in the run dir
    return py_tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def clear_dir(path: str) -> None:
    for entry in os.listdir(path):
        p = os.path.join(path, entry)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(p)


@dataclass
class SlotRun:
    name: str
    wall_s: float
    release_s: float
    released: int
    first_job: int
    next_job: int
    bytes_left: int
    error: BaseException | None
    output: object = None


class Bench:
    """One benchmark process: a session, a workload and its records."""

    def __init__(self, spark, workload: str, seed: int, py_tmp: str, tracer):
        from mpg_data_warehouse_spark.plans.driver_queries import QUERIES

        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = QUERIES
        self.slots = WORKLOADS[workload]["slots"]
        self.seed = seed
        self.py_tmp = py_tmp
        self.tracer = tracer

    def _span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span("plans.driver_queries", name)

    def run_slot(self, name: str, sf_dir: str, collect: bool) -> SlotRun:
        """One slot: build + sink are timed; the storage release after it
        is timed apart (a long-lived driver pays it between slots)."""
        from mpg_data_warehouse_spark.session import (
            persistent_rdd_ids,
            release_rdd_storage,
        )
        from statusstore import next_job_id

        if self.tracer is not None:
            self.tracer.slot = name
        ids0 = persistent_rdd_ids(self.spark)
        bytes0 = dir_bytes(self.py_tmp)
        j0 = next_job_id(self.sc)
        out, err = None, None
        t0 = time.perf_counter()
        try:
            with self._span("build"):
                df = self.queries[name](self.spark, sf_dir)
            with self._span("sink"):
                if collect:
                    out = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing slot is counted, not fatal
            err = e
            log(f"slot {name} raised:\n{traceback.format_exc()}")
        t1 = time.perf_counter()
        released = release_rdd_storage(
            self.spark, persistent_rdd_ids(self.spark) - ids0
        )
        t2 = time.perf_counter()
        j1 = next_job_id(self.sc)
        left = dir_bytes(self.py_tmp) - bytes0
        return SlotRun(name, t1 - t0, t2 - t1, released, j0, j1, left, err, out)

    def warm_up(self) -> dict:
        """Every slot once, output collected for the oracle check made
        after the timed windows; ends with one debris release so the
        first timed pass starts from a collected heap."""
        from mpg_data_warehouse_spark.session import release_session_debris

        results = {}
        for name in self.slots:
            r = self.run_slot(name, DATA_SF, collect=True)
            results[name] = r.error if r.error is not None else r.output
            log(f"warm-up {name}: {r.wall_s:.2f} s")
        release_session_debris(self.spark)
        clear_dir(self.py_tmp)
        return results

    def run_pass(self, index: int) -> dict:
        from mpg_data_warehouse_spark.session import release_session_debris
        from statusstore import next_job_id, sql_execution_count

        if self.tracer is not None:
            self.tracer.spans = []
            self.tracer.overhead_s = 0.0
        first_job = next_job_id(self.sc)
        first_exec = sql_execution_count(self.spark)
        runs = [
            self.run_slot(name, DATA_SF, collect=False)
            for name in pass_order(self.slots, self.seed, index)
        ]
        t0 = time.perf_counter()
        release_session_debris(self.spark)
        debris_s = time.perf_counter() - t0
        clear_dir(self.py_tmp)
        return {
            "index": index,
            "runs": runs,
            "pass_s": sum(r.wall_s + r.release_s for r in runs) + debris_s,
            "release_s": sum(r.release_s for r in runs) + debris_s,
            "first_job": first_job,
            "next_job": next_job_id(self.sc),
            "first_exec": first_exec,
            "overhead_s": self.tracer.overhead_s if self.tracer else 0.0,
        }


def pass_space_amp(sc, p: dict) -> float:
    from statusstore import read_jobs, read_stage_totals

    jobs = read_jobs(sc, p["first_job"], p["next_job"])
    inp = read_stage_totals(sc, [s for j in jobs for s in j.stage_ids])
    return space_amp(sum(r.bytes_left for r in p["runs"]), inp["input.bytes"])


def traced_pass_metrics(bench: Bench, p: dict, spans: list) -> dict[str, float]:
    """Per-layer counters of one pass, read after the pass ended."""
    from spantrace import TAG_PREFIX, module_self_times
    from statusstore import read_jobs, read_python_node_totals, read_stage_totals

    sc = bench.sc
    jobs = read_jobs(sc, p["first_job"], p["next_job"])
    m: dict[str, float] = dict(
        read_stage_totals(sc, [s for j in jobs for s in j.stage_ids])
    )
    m.update(read_python_node_totals(bench.spark, p["first_exec"]))
    in_jobs = union_length((j.start_s, j.end_s) for j in jobs)
    m["spark.jobs"] = p["next_job"] - p["first_job"]
    m["spark.in_jobs_s"] = in_jobs
    m["driver.outside_jobs_s"] = max(0.0, p["pass_s"] - in_jobs)

    by_id = {j.job_id: j for j in jobs}
    ranges = {r.name: (r.first_job, r.next_job) for r in p["runs"]}
    walls = {r.name: r.wall_s for r in p["runs"]}
    slot_jobs = attribute_jobs(ranges, range(p["first_job"], p["next_job"]))
    for name in ALL_SLOTS:
        ids = slot_jobs.get(name, [])
        covered = union_length(
            (by_id[j].start_s, by_id[j].end_s) for j in ids if j in by_id
        )
        m[f"slot.{name}.jobs"] = len(ids)
        m[f"slot.{name}.outside_jobs_s"] = (
            max(0.0, walls[name] - covered) if name in walls else 0.0
        )

    module_of = {s.sid: s.module for s in spans}
    self_s = module_self_times(spans)
    for mod in LAYER_MODULES:
        m[f"{mod}.self_s"] = self_s.get(mod, 0.0)
        m[f"{mod}.calls"] = sum(1 for s in spans if s.module == mod)
        m[f"{mod}.jobs"] = 0
    for j in jobs:
        if j.description and j.description.startswith(TAG_PREFIX):
            mod = module_of.get(int(j.description[len(TAG_PREFIX):]))
            if mod in LAYER_MODULES:
                m[f"{mod}.jobs"] += 1
    for phase in BM25_PHASES:
        m[f"operators.search.{phase}_s"] = sum(
            s.end - s.start
            for s in spans
            if s.module == "operators.search" and s.name == phase
        )
    for part in ("build", "sink"):
        m[f"plans.driver_queries.{part}_s"] = sum(
            s.end - s.start
            for s in spans
            if s.module == "plans.driver_queries" and s.name == part
        )
    m["session.release_s"] = p["release_s"]
    m["session.rdds_released"] = sum(r.released for r in p["runs"])
    m["trace.overhead_s"] = p["overhead_s"]
    return m


def write_spans(workload: str, seed: int, spans_by_pass) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"spans-{workload}-seed{seed}.jsonl")
    with open(path, "w") as fh:
        for index, spans in spans_by_pass:
            for s in spans:
                fh.write(
                    json.dumps(
                        {
                            "pass": index,
                            "id": s.sid,
                            "parent": s.parent,
                            "slot": s.slot,
                            "module": s.module,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                        }
                    )
                    + "\n"
                )
    return path


def measure(args, py_tmp: str) -> dict:
    from mpg_data_warehouse_spark.session import get_spark
    from oracle_check import wrong_results
    from statusstore import jvm_pid, process_peak_rss_mb

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            from spantrace import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        bench = Bench(spark, args.workload, args.seed, py_tmp, tracer)

        t0 = time.perf_counter()
        warm_results = bench.warm_up()
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - PROCESS_T0
        log(f"set-up {setup_s:.2f} s (session {start_s:.2f} s)")

        passes, spans_by_pass = [], []
        t_loop = time.perf_counter()
        while not passes or time.perf_counter() - t_loop < args.seconds:
            p = bench.run_pass(len(passes))
            if tracer is not None:
                spans_by_pass.append((p["index"], tracer.spans))
            passes.append(p)
            slots = " ".join(f"{r.name}={r.wall_s:.2f}" for r in p["runs"])
            log(f"pass {p['index']}: {p['pass_s']:.2f} s ({slots})")

        peak_rss = process_peak_rss_mb(jvm_pid(spark)) + process_peak_rss_mb()
        amps = [pass_space_amp(spark.sparkContext, p) for p in passes]
        layer = []
        if tracer is not None:
            tracer.uninstall()
            for p, (_, spans), amp in zip(passes, spans_by_pass, amps):
                m = traced_pass_metrics(bench, p, spans)
                m["space_amp"] = amp
                m["session.start_s"] = start_s
                m["session.warmup_s"] = warmup_s
                m["peak_rss_mb"] = peak_rss
                layer.append(m)
            log(f"spans: {write_spans(args.workload, args.seed, spans_by_pass)}")
        wrong = wrong_results(warm_results, DATA_SF)
    finally:
        stop_spark(spark)

    runs = [r for p in passes for r in p["runs"]]
    per_slot = {
        name: statistics.median(r.wall_s for r in runs if r.name == name)
        for name in bench.slots
    }
    return {
        "passes": len(passes),
        "attempted": len(runs),
        "failed": sum(1 for r in runs if r.error is not None),
        "wrong": wrong,
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "slot_geomean_s": geomean(list(per_slot.values())),
        "peak_rss_mb": peak_rss,
        "space_amp": statistics.median(amps),
        "layer": layer,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ beside perfbench/: nothing to measure")
        return 2
    run_dir = os.path.join(RUN_PARENT, f"{args.workload}-{args.seed}-{os.getpid()}")
    cwd = os.getcwd()
    try:
        py_tmp = prepare_process(run_dir)
        try:
            r = measure(args, py_tmp)
        except ImportError as e:
            log(f"cannot import the program: {e}")
            return 2
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(RUN_PARENT)  # only if no other run is using it

    ratio = fail_ratio(r["failed"], r["attempted"])
    summary = {name: (r[name], unit) for name, (unit, _) in END_TO_END.items()}
    summary.update({
        "peak_rss_mb": (r["peak_rss_mb"], "MiB"),
        "fail_ratio": (ratio, "ratio"),
        "wrong_results": (len(r["wrong"]), "count"),
        "space_amp": (r["space_amp"], "ratio"),
    })
    print(f"workload {args.workload} seed {args.seed}: {r['passes']} passes")
    for name, (value, unit) in summary.items():
        print(f"  {name:16s} {value:12.4f} {unit}")
    if r["wrong"]:
        print(f"  wrong: {', '.join(r['wrong'])}")

    if args.trace:
        metrics = {
            k: {"value": statistics.median(m[k] for m in r["layer"]), "unit": u}
            for k, u in per_layer().items()
        }
    else:
        metrics = {
            k: {"value": r[k], "unit": unit} for k, (unit, _) in END_TO_END.items()
        }
    print(
        json.dumps(
            {
                "correct": not r["wrong"],
                "attempted": r["attempted"],
                "failed": r["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
