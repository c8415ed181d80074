"""Seeded, output-checked benchmark of the engine's page→PIP and tiling
paths (and, runnable by hand, the skewed-join and checkpoint paths).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver process runs jobs back to back
(a closed loop with one client) on ``local[min(nproc, 4)]``. Inputs are
generated from ``--seed`` outside set-up and outside the timed loop; every
job's output is checked against a reference computed once per seed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced jobs with traced ones (each layer materialized and timed over the
previous layer's checkpointed output) and prints the per-layer metrics,
including the tracing overhead. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
summary with every end-to-end metric, the input sizes and the environment.
See ``perfbench/README.md``.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARM_JOBS = 2         # untimed jobs first (JIT, codegen), outputs checked,
WARM_S = 8            # ... and more until this much warm-up wall has passed
MIN_JOBS = 3          # timed jobs per run, even past --seconds
MIN_TRACED = 2        # traced jobs per traced run, even past --seconds
RUN_LIMIT_S = 150     # no new job starts once a run is this old
JOB_TIMEOUT_S = 90    # watchdog: a job running longer is cancelled, failed
DRIVER_MEM = "3g"
# C1 only: C2 was still compiling Spark's per-query classes all through a
# 20 s timed loop, so the figures followed its progress. A fixed set of
# compiler threads: a dynamic one retires threads, and a retired thread's
# CPU stays in the JVM's total but leaves the compiler threads that
# ProcTree subtracts, adding seconds to a random job's CPU
JIT_FLAG = "-XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads"
PROBE_ROWS = 100_000_000

# name -> unit. BOUNDED are the ones BENCHMARK.json lists; the others are
# printed in the summary line: job walls (and so rows_per_s) follow the
# other tenants' load on a shared host more than CPU per row does (over
# ten raster_tiles runs the quartiles of job_wall_s lay 0.19 of the
# median apart, those of cpu_s_per_mrow 0.15); peak RSS follows the
# JVM's heap sizing more than the job; failed_frac is 0 when the engine
# is correct; the last two exist on ckpt_resume only
END_TO_END = {
    "rows_per_s": "rows/s", "job_wall_s": "s", "setup_s": "s",
    "cpu_s_per_mrow": "s/Mrow", "peak_rss_mb": "MB",
    "failed_frac": "ratio", "resume_s": "s", "stored_bytes_per_row": "B",
}
BOUNDED = ("cpu_s_per_mrow", "setup_s")

# the per-layer metrics BENCHMARK.json lists; ckpt_resume's checkpoint.*
# metrics are printed in its summary line
PER_LAYER = {
    "scan.rows": "count", "scan.bytes": "B", "scan.s": "s",
    "prefilter.yield": "ratio", "extract.arrow_bytes_per_row": "B",
    "extract.python_s": "s", "extract.jvm_s": "s", "cell_encode.s": "s",
    "hot_cells.n": "count", "hot_cells.s": "s",
    "pip.cover_rows": "count", "pip.broadcast_bytes": "B",
    "pip.candidates": "count", "pip.inside": "count",
    "pip.refine_yield": "ratio", "pip.refine_python_s": "s",
    "pip.refine_task_skew": "ratio", "pip.shuffle_bytes": "B",
    "rasterize.s": "s", "rasterize.groups": "count",
    "rasterize.burned_px": "count", "rasterize.python_s": "s",
    "chips.fanout": "ratio", "chips.s": "s",
    "spark.gc_s": "s", "spark.spill_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.tasks": "count",
    "spark.jvm_cpu_s": "s", "spark.python_cpu_s": "s",
    "trace.overhead_s": "s",
}


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pin_environment(work: str) -> dict:
    """Fix what the engine's session factory reads from the environment, and
    keep every file Spark, the JVM and Python write inside ``work``."""
    cores = min(len(os.sched_getaffinity(0)), 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            # no /tmp/hsperfdata file: the JVM writes that one outside tmpdir
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"{JIT_FLAG}' "
            "pyspark-shell"),
    })
    return {"cores": cores, "master": f"local[{cores}]",
            "driver_mem": DRIVER_MEM, "jit": JIT_FLAG, "nproc": os.cpu_count(),
            "python": sys.version.split()[0]}


def package_zip(work: str) -> str:
    """The engine package as a zip, shipped to Python workers with
    ``addPyFile`` the way ``--py-files`` ships it."""
    path = os.path.join(work, "zen3geo_spark.zip")
    with zipfile.ZipFile(path, "w") as z:
        for d, _, names in os.walk(os.path.join(ROOT, "zen3geo_spark")):
            for n in names:
                if n.endswith(".py"):
                    full = os.path.join(d, n)
                    z.write(full, os.path.relpath(full, ROOT))
    return path


def start_session(work: str, cores: int):
    """Session up, package shipped, one Python worker per core warm."""
    import pandas as pd
    from pyspark.sql import functions as F

    from zen3geo_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(package_zip(work))

    @F.pandas_udf("long")
    def _touch(s: pd.Series) -> pd.Series:
        import zen3geo_spark.operators.spatial_join  # noqa: F401
        return s

    (spark.range(cores * 4, numPartitions=cores).select(_touch("id"))
     .write.format("noop").mode("overwrite").save())
    return spark


def stop_spark() -> None:
    """Stop the session and the JVM, if they were started, and wait until
    the JVM and every Python worker under it have exited."""
    from pyspark import SparkContext

    from probes import descendants

    children = descendants(os.getpid())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait(timeout=30)
        deadline = time.monotonic() + 15
        for pid in children:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


def host_probe(spark, cores: int) -> float:
    """bench.py's pure-JVM xxhash64 sweep (no Python, no shuffle, no disk),
    scaled to this core count. Recorded only; it rescales nothing."""
    def sweep(rows: int) -> None:
        spark.sql(f"select max(xxhash64(id)) from range(0, {rows}, 1, "
                  f"{cores * 8})").collect()

    sweep(cores * 8)   # plan and codegen outside the timing
    t0 = time.perf_counter()
    sweep(PROBE_ROWS)
    return time.perf_counter() - t0


class Watchdog:
    """Cancels the job group of a job that outlives ``JOB_TIMEOUT_S``, so a
    hung action raises (and the job counts as failed) instead of wedging
    the run."""

    def __init__(self, sc, group: str):
        self.sc, self.group = sc, group

    def __enter__(self):
        self.sc.setJobGroup(self.group, "perfbench job", interruptOnCancel=True)
        self.timer = threading.Timer(JOB_TIMEOUT_S, self.sc.cancelJobGroup,
                                     (self.group,))
        self.timer.daemon = True
        self.timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self.timer.cancel()
        self.sc.setLocalProperty("spark.jobGroup.id", None)


class TraceCtx:
    """What a traced job sees: ``layer`` materializes one layer into a
    full-consumption sink and times it as a span; ``span`` opens any other
    child span of the job."""

    def __init__(self, spark, tracer, parent: int, tree, store):
        from probes import Meter

        self.spark, self.tracer, self.parent = spark, tracer, parent
        self.store = store
        self.meter = lambda: Meter(tree)
        self.last = None

    def span(self, name: str):
        return self.tracer.span(name, self.parent)

    def layer(self, name: str, df):
        from probes import plan_nodes
        from workloads import materialize

        before = self.store.stage_ids()
        with self.span(name) as sp:
            out = materialize(df)
        self.last = sp
        stages = self.store.stages(self.store.stage_ids() - before)
        return out, plan_nodes(df), stages


class Run:
    """One benchmark run: the session, the workload, and every sample."""

    def __init__(self, args, wl, tree, run_id: str):
        self.args, self.wl, self.tree, self.run_id = args, wl, tree, run_id
        self.spark = None
        self.attempted = self.failed = 0
        self.walls, self.cpu, self.peaks = [], [], []
        self.passed = 0
        self.traced_walls, self.layer_runs = [], []

    def attempt(self, fn) -> bool:
        """Run one job under the watchdog and check its output; afterwards
        unpersist the blocks it left (hot-cell and traced-layer
        checkpoints), so it does not tax the jobs after it."""
        self.attempted += 1
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        keep = set(jmap.keys())
        try:
            with Watchdog(self.spark.sparkContext, f"{self.run_id}-{self.attempted}"):
                out = fn()
            ok = self.wl.check(out)
        except Exception:
            log(f"job {self.attempted} raised:\n{traceback.format_exc()}")
            ok = False
        else:
            if not ok:
                log(f"job {self.attempted} failed its output check")
        self.failed += not ok
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rdd_id in list(jmap.keys()):
            if rdd_id not in keep:
                jmap[rdd_id].unpersist()
        return ok

    def traced_job(self, tracer, store):
        """The workload's layered job plus the Spark runtime counters it
        moved; returns the job's output for the check."""
        gc0, stages0, cpu0 = store.gc_ms(), store.stage_ids(), self.tree.cpu()
        with tracer.span("job") as job:
            result, m = self.wl.traced_job(
                TraceCtx(self.spark, tracer, job.id, self.tree, store))
        cpu1 = self.tree.cpu()
        stages = store.stages(store.stage_ids() - stages0)
        m.update({
            "spark.gc_s": (store.gc_ms() - gc0) / 1e3,
            "spark.spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                                     for s in stages),
            "spark.shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spark.tasks": sum(s.numCompleteTasks() for s in stages),
            "spark.jvm_cpu_s": cpu1[0] - cpu0[0],
            "spark.python_cpu_s": cpu1[1] - cpu0[1],
        })
        self.traced_walls.append(job.dur)
        self.layer_runs.append(m)
        return result

    def timed_loop(self, t_proc: float, tracer) -> None:
        """Jobs back to back until --seconds have passed and enough were
        timed; with --trace 1 each untraced job is followed by a traced
        one."""
        from probes import Meter, PeakRss, StatusStore

        store = StatusStore(self.spark)
        deadline = time.perf_counter() + self.args.seconds

        def more() -> bool:
            longest = max(self.walls + self.traced_walls or [0])
            if time.time() - t_proc + 1.5 * longest > RUN_LIMIT_S:
                return False
            short = (len(self.traced_walls) < MIN_TRACED if self.args.trace
                     else len(self.walls) < MIN_JOBS)
            return short or time.perf_counter() < deadline

        with PeakRss(self.tree) as rss:
            while more():
                meter = Meter(self.tree)
                rss.take()
                ok = self.attempt(lambda: self.wl.job(meter))
                self.walls.append(meter.wall)
                self.peaks.append(rss.take())
                if ok:
                    self.passed += 1
                    self.cpu.append(meter.jvm_cpu + meter.py_cpu)
                if self.args.trace:
                    self.attempt(lambda: self.traced_job(tracer, store))

    def end_to_end(self, setup_s: float) -> dict:
        """Medians over the timed jobs, so one job a host stall hit does not
        move a run's figure (CPU is summed over them); a failed job
        completes no rows."""
        rows = self.wl.rows_per_job
        e2e = {
            "rows_per_s": rows * self.passed / len(self.walls) / median(self.walls),
            "job_wall_s": median(self.walls),
            "setup_s": setup_s,
            # a total, not a median: GC and other periodic JVM work lands
            # on some jobs and not others, and it is part of the cost
            "cpu_s_per_mrow": (sum(self.cpu) / (rows * len(self.cpu)) * 1e6
                               if self.cpu else 0.0),
            "peak_rss_mb": median(self.peaks) / 2**20,
            "failed_frac": self.failed / self.attempted,
        }
        e2e.update({k: median(v) for k, v in self.wl.extra.items()})
        return e2e

    def per_layer(self) -> dict:
        keys = set(PER_LAYER).union(*self.layer_runs)
        out = {k: median([r.get(k, 0) for r in self.layer_runs]) for k in keys}
        out["trace.overhead_s"] = median(self.traced_walls) - median(self.walls)
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from probes import Meter, ProcTree, Tracer, process_start_unix, steal_s

    t_proc = process_start_unix()
    if not os.path.isdir(os.path.join(ROOT, "zen3geo_spark")):
        log(f"engine package not found under {ROOT}; run from the repo root")
        return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", run_id)
    marks = {"start": t_proc}
    try:
        os.makedirs(work, exist_ok=True)
        env = pin_environment(work)
        cores = env["cores"]
        wl = WORKLOADS[args.workload](args.seed, work, cores)
        tree = ProcTree()
        run = Run(args, wl, tree, run_id)
        tracer = Tracer(run_id)
        # set-up: process start -> session up, package shipped, workers
        # warm, inputs opened; generating the inputs is not set-up
        run.spark = start_session(work, cores)
        marks["session"] = time.time()
        wl.generate(run.spark)
        marks["generate"] = t0 = time.time()
        wl.open(run.spark)
        setup_s = (marks["session"] - t_proc) + (time.time() - t0)

        probe_pre = host_probe(run.spark, cores)
        warm_walls = []
        while len(warm_walls) < WARM_JOBS or sum(warm_walls) < WARM_S:
            meter = Meter(tree)
            run.attempt(lambda: wl.job(meter))
            warm_walls.append(meter.wall)
        marks["warm_jobs"] = time.time()

        jit = run.spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getCompilationMXBean()
        jit0, steal0 = jit.getTotalCompilationTime(), steal_s()
        run.timed_loop(t_proc, tracer)
        jit_ms, steal = jit.getTotalCompilationTime() - jit0, steal_s() - steal0
        marks["timed_loop"] = time.time()
        probe_post = host_probe(run.spark, cores)
    except Exception:
        log(f"run aborted:\n{traceback.format_exc()}")
        return 1
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        marks["teardown"] = time.time()

    e2e = run.end_to_end(setup_s)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in e2e.items()},
        "job_walls_s": run.walls, "job_cpu_s": run.cpu,
        "warm_walls_s": warm_walls,
        "inputs": wl.sizes, "rows_per_job": wl.rows_per_job,
        "row_unit": wl.unit,
        "host": {"probe_pre_s": probe_pre, "probe_post_s": probe_post,
                 "probe_rows": PROBE_ROWS, "steal_s_in_loop": steal,
                 "jit_compile_ms_in_loop": jit_ms},
        "env": env, "loop": "closed, one client",
        "phases_s": {k: b - a for (_, a), (k, b)
                     in zip(list(marks.items()), list(marks.items())[1:])},
    }
    if args.trace:
        layers = run.per_layer()
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        spans_dir = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{run_id}.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.spans, f, indent=1)
        summary.update({"per_layer": layers,
                        "traced_job_walls_s": run.traced_walls,
                        "spans": os.path.relpath(spans_path, ROOT),
                        "spans_n": len(tracer.spans)})
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in BOUNDED}
    print(json.dumps({"summary": summary}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
