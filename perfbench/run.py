"""Benchmark for the wistia medallion engine: one command per workload.

    python3 perfbench/run.py --workload medallion_incremental --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. Workloads (see ``WORKLOADS``):

- ``medallion_incremental``: one op is one scheduler tick of the batch
  pipeline (``BatchPipeline.run_once`` repeated until every media
  skips) over a seeded paged feed; the write path.
- ``query_small``: one op is one round over registered queries that each
  run well under a second at sf0.1; per-query fixed costs.

Load: one process, one ``SparkSession`` at ``local[<cores / 2>]``, one
client in a closed loop, ops back to back. After the workload's untimed
warm-up ops (``warmup_ops``), timed ops run until their summed wall time
reaches ``--seconds`` and at least ``MIN_OPS`` have run. Everything the
run writes lands in ``.perfbench/`` under the working directory and is
removed at exit.

Metrics: ``setup_s`` is process start to the first timed op (session
start, input generation, seeding and warm-up), without the untimed
correctness checks; ``op_p50_s`` is the median op wall time;
``items_per_s`` is items over summed op wall time (an item is an event
served and ingested, or a query completed). ``attempted``/``failed``
count the warm-up and the timed ops; an exception, an ``error`` action
in a ``run_once`` summary and a result that does not match its
reference all fail an op.

Output: a ``header`` line (machine, versions, effective parallelism),
with ``--trace 1`` a per-layer table, and as the last line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1``
turns on the Spark event log and reports the per-layer metrics, read
from the log offline after the session stops.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

WORKLOADS = ("medallion_incremental", "query_small")

#: Timed ops per run at the least, however short ``--seconds`` is, so the
#: median never rests on one or two ops.
MIN_OPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
}

#: Per-layer metrics, in print order. Each is the median over timed ops
#: of a per-op value, except the ``run.``/``session.``/``traced.`` ones,
#: which are per run.
PER_LAYER = {
    "traced.setup_s": "s",
    "traced.op_p50_s": "s",
    "traced.items_per_s": "1/s",
    "run.ops": "count",
    "run.error_rate": "ratio",
    "run.drift": "ratio",
    "run.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.first_job_s": "s",
    "build.wall_s": "s",
    "build.jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.driver_gap_s": "s",
    "sources.fetch_s": "s",
    "sources.pages": "count",
    "incremental.state_s": "s",
    "incremental.full_pull": "count",
    "incremental.resume": "count",
    "incremental.skip": "count",
    "pipeline.driver_s": "s",
    "bronze.write_s": "s",
    "merge.silver_s": "s",
    "merge.dim_s": "s",
    "merge.gold_s": "s",
    "exec.other_s": "s",
    "bronze.bytes": "bytes",
    "bronze.files": "count",
    "silver.bytes": "bytes",
    "silver.files": "count",
    "dim.bytes": "bytes",
    "dim.files": "count",
    "gold.bytes": "bytes",
    "gold.files": "count",
    "merge.write_amp": "ratio",
    "write_bytes_per_item": "bytes",
}


class Context:
    """What a workload needs from the harness: the session, the seed,
    a private work dir, and job-group bookkeeping for the traced run."""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tmp = tempfile.gettempdir()
        self._tmp_baseline: set[str] = set()
        self.correctness_s = 0.0  # untimed checks, kept out of setup_s

    def group(self, gid: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, gid)

    def mark_tmp_baseline(self) -> None:
        self._tmp_baseline = set(os.listdir(self.tmp))

    def release(self) -> None:
        """Drop what the last query left behind: cached DataFrames,
        persistent RDDs (``localCheckpoint`` lives outside the catalog)
        and the temp dirs it created."""
        spark = self.spark
        spark.catalog.clearCache()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist()
        for name in set(os.listdir(self.tmp)) - self._tmp_baseline:
            path = os.path.join(self.tmp, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> dict:
    """Session settings go in through the environment ``get_spark`` and
    ``spark-submit`` read; the engine code is used as shipped."""
    # Half the cores run tasks; the rest are left to the driver thread,
    # the Python driver and workers, and the JIT compiler threads, so a
    # run asks for about as many threads at once as the machine has
    # cores. The ops are driver-bound (tasks keep 13-20% of the cores
    # busy): on 4 cores local[2] ran them as fast as local[4].
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    dirs = {k: os.path.join(work, k) for k in ("tmp", "jvmtmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # every JVM (the spark-submit launcher too): temp files in the work
    # dir, and no hsperfdata file, which the JVM writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['jvmtmp']}"
    confs = {
        "spark.local.dir": dirs["local"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"
    return dirs


def git_sha() -> str:
    """HEAD of the checkout, read from ``.git`` without a subprocess;
    ``unknown`` when the tree is not a git checkout."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def drift(walls: list[float]) -> float:
    """Median of the second half of ops over median of the first half:
    a leak shows as drift above 1, not as spread."""
    half = len(walls) // 2
    return statistics.median(walls[-half:]) / statistics.median(walls[:half])


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import wistia_etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    dirs = configure_env(work, bool(args.trace))
    try:
        return _run(args, work, dirs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def make_workload(name: str):
    if name == "medallion_incremental":
        from medallion import Medallion

        return Medallion()
    from queries import SMALL, QueryRounds

    return QueryRounds(SMALL)


def _run(args, work: str, dirs: dict) -> int:
    from wistia_etl_pipeline_spark.session import get_spark

    workload = make_workload(args.workload)
    workload.verify_inputs()

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    try:
        run = _measure(args, spark, workload, work)
    finally:
        stop_session(spark)
    run["session.start_s"] = session_start_s
    ops = run.pop("ops")
    walls = [op["wall"] for op in ops]
    attempted = len(ops) + workload.warmup_ops  # the warm-up ops too
    failed = sum(1 for op in ops if op["error"]) + run.pop("warmup_failed")

    if args.trace:
        from layers import per_layer, print_table

        (log,) = os.listdir(dirs["eventlog"])
        metrics = per_layer(
            os.path.join(dirs["eventlog"], log), ops, run.pop("cores"), workload.tables()
        )
        metrics.update({f"traced.{k}": run.pop(k) for k in END_TO_END})
        metrics.update(run)
        metrics["run.error_rate"] = failed / attempted
        print_table(args.workload, metrics, PER_LAYER, walls)
        units = PER_LAYER
    else:
        metrics, units = run, END_TO_END
    print("ops " + json.dumps({"wall_s": walls, "ok": [not op["error"] for op in ops]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": units[k]} for k in units},
    }))
    return 0


def _measure(args, spark, workload, work: str) -> dict:
    """Set-up and the timed ops, on a started session. Returns the ops
    and the per-run numbers read while the session is alive."""
    import pyspark

    sc = spark.sparkContext
    ctx = Context(spark, args.seed, work)
    ctx.group("setup:first_job")
    t0 = time.perf_counter()
    spark.range(1).count()
    first_job_s = time.perf_counter() - t0
    ctx.mark_tmp_baseline()

    header = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores_available": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "git_sha": git_sha(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "warmup_ops": workload.warmup_ops,
        "params": workload.params(),
    }
    print("header " + json.dumps(header, sort_keys=True), flush=True)

    ctx.group("setup")
    workload.setup(ctx)
    # untimed ops: the JIT and the Python workers warm up on the very
    # work the timed ops repeat; a failed one still counts
    warmup_failed = 0
    for k in range(workload.warmup_ops):
        warmup = workload.run_op(ctx, -1 - k, f"setup:warmup{k}")
        if warmup["error"]:
            warmup_failed += 1
            print(f"perfbench: warm-up op {k} failed: {warmup['error']}", file=sys.stderr)
    setup_s = time.perf_counter() - T_PROCESS - ctx.correctness_s

    ops: list[dict] = []
    measured = 0.0
    while measured < args.seconds or len(ops) < MIN_OPS:
        i = len(ops)
        gid = f"op{i}"
        op = workload.run_op(ctx, i, gid)
        op["group"] = gid
        if op["error"]:
            print(f"perfbench: op {i} failed: {op['error']}", file=sys.stderr)
        ops.append(op)
        measured += op["wall"]
    ctx.group("teardown")

    walls = [op["wall"] for op in ops]
    rss = vm_hwm_mb(os.getpid())
    proc = getattr(sc._gateway, "proc", None)
    if proc is not None:
        rss += vm_hwm_mb(proc.pid)
    return {
        "ops": ops,
        "warmup_failed": warmup_failed,
        "cores": sc.defaultParallelism,
        "setup_s": setup_s,
        "op_p50_s": statistics.median(walls),
        "items_per_s": sum(op["items"] for op in ops) / sum(walls),
        "run.ops": len(ops),
        "run.drift": drift(walls),
        "run.peak_rss_mb": rss,
        "session.first_job_s": first_job_s,
    }


if __name__ == "__main__":
    sys.exit(main())
