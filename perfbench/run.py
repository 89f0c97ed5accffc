"""Benchmark of the dataframe_kotlin_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The workloads are ``batch`` (the
``relational`` and ``neardup`` registry queries over the fixed tables)
and ``files`` (the ``streaming`` jobs and ``ingest`` steps over inputs
generated from the seed). One run starts a fresh Spark session, prepares
the workload's inputs, runs every operation once (the first pass), then
repeats whole passes until ``--seconds`` have gone by after the first
pass (at least three repeats). Times are medians over the repeats;
counts and sizes are those of the last repeat. Every execution is
checked against a result computed apart from the engine. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, and the spans
are written to ``perfbench/out/trace-<workload>-<seed>.json``. Each run
also appends one summary line to ``perfbench/out/runs.jsonl``.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started, from the kernel's record."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, AttributeError):
        return 0.0


T_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
MB = 1 << 20

#: workload -> its parts, run in this order within every pass
WORKLOADS = {
    "batch": ("relational", "neardup"),
    "files": ("streaming", "ingest"),
}

END_TO_END = {
    "setup_s": "s", "first_run_s": "s", "steady_s": "s", "shuffle_mb": "MB",
    "input_mb": "MB", "jobs": "count", "tasks": "count",
}

PER_LAYER = {
    "session.start_s": "s",
    "build.s": "s", "build.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.stages": "count", "exec.task_s": "s", "exec.gc_s": "s",
    "exec.spill_mb": "MB", "exec.shuffle_read_mb": "MB",
    "cache.stored_mb": "MB", "cache.entries": "count",
    "python.rows": "count", "python.sent_mb": "MB",
    "sources.head_s": "s", "sources.infer_s": "s", "sources.infer_jobs": "count",
    "sources.scan_s": "s", "sources.write_csv_s": "s", "sources.write_json_s": "s",
    "sources.read_json_s": "s", "sources.written_mb": "MB",
    "stream.batches": "count", "stream.batch_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.state_rows": "count", "stream.state_mb": "MB", "stream.state_commit_ms": "ms",
    "stream.state_stores": "count",
}

# The engine's state differs between repeats: in `batch`, the first two
# repeats of dedup_then_jaccard and fuzzy_pairs_editdist reuse the first
# pass's persisted relations, and from the third on the persist
# registry's FIFO has unpersisted them, so those queries launch more jobs
# (6 -> 17 and 3 -> 6). Every run makes at least three repeats, and
# counts are read from the last one, so they do not depend on how many
# repeats fit in --seconds.
MIN_STEADY_PASSES = 3

# layer numbers an ingest step reports under its own name
_SOURCE_STEP = {"scan_csv": "sources.scan_s", "write_csv": "sources.write_csv_s",
                "write_json": "sources.write_json_s", "read_json": "sources.read_json_s"}


def task_slots() -> int:
    return max(1, min(3, os.cpu_count() or 1, len(os.sched_getaffinity(0))))


def calibration_s() -> float:
    """A fixed single-thread Python loop: the box's own speed this run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, workload: str) -> dict:
    """Keep every file Spark and Python write inside ``work``."""
    slots = task_slots()
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM Spark starts (the launcher too): temp files in `work`,
    # and no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.environ["TMPDIR"]
    if "streaming" in WORKLOADS[workload]:
        # one state store per shuffle partition per stateful operator:
        # at the default 32 a single drain of the stateful job takes
        # tens of seconds on 3 slots, so state partitions match the slots
        os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(slots)
    from sparkstats import STATUS_CONF

    return {
        **STATUS_CONF,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def make_part(name, spark, work, seed, tracer, stats, traced):
    if name in ("relational", "neardup"):
        import registry
        from dataframe_kotlin_spark.queries import oracle_queries, spark_queries

        names = registry.RELATIONAL if name == "relational" else registry.NEARDUP
        return registry.RegistryWorkload(spark, names, tracer, oracle_queries(), spark_queries())
    if name == "streaming":
        import streaming

        return streaming.StreamingWorkload(spark, work, seed, tracer, stats.drain)
    import ingest

    return ingest.IngestWorkload(spark, work, seed, tracer, traced)


class Workload:
    """The parts of one workload run as one sequence of operations."""

    def __init__(self, parts):
        self.parts = parts
        self.owner = {op: part for part in parts for op in part.ops}
        self.ops = list(self.owner)

    def run(self, op: str, traced: bool):
        return self.owner[op].run(op, traced)

    def check(self, op: str, result):
        return self.owner[op].check(op, result)

    def end_pass(self) -> None:
        for part in self.parts:
            end = getattr(part, "end_pass", None)
            if end is not None:
                end()


def make_workload(name, spark, work, seed, tracer, stats, traced):
    return Workload([make_part(p, spark, work, seed, tracer, stats, traced)
                     for p in WORKLOADS[name]])


class Runner:
    def __init__(self, wl, stats, tracer, traced: bool):
        self.wl, self.stats, self.tracer, self.traced = wl, stats, tracer, traced
        self.attempted = self.failed = self.wrong = 0
        self.failures: list[str] = []
        self.first: dict[str, float] = {}
        self.steady: dict[str, list[dict]] = {op: [] for op in wl.ops}

    def execute(self, op: str, pass_no: int) -> None:
        self.tracer.op_id = f"{op}#{pass_no}"
        self.attempted += 1
        try:
            seconds, result, layer = self.wl.run(op, self.traced)
            reason = self.wl.check(op, result)
            self.wrong += reason is not None
        except Exception as e:  # an operation that raises counts as failed
            seconds, layer, reason = None, {}, f"{type(e).__name__}: {str(e)[:300]}"
        w = self.stats.read(python=self.traced)
        if reason is not None:
            self.failed += 1
            self.failures.append(f"{op} (pass {pass_no}): {reason}")
            return
        if pass_no == 0:
            self.first[op] = seconds
            return
        rec = {
            "seconds": seconds,
            "shuffle_mb": w.shuffle_write / MB, "input_mb": w.input_bytes / MB,
            "jobs": w.jobs, "tasks": w.tasks,
        }
        if self.traced:
            rec.update({
                "build.s": layer.get("build_s", 0.0),
                "build.jobs": w.group_jobs.get("build", 0),
                "catalyst.analysis_ms": layer.get("analysis_ms", 0),
                "catalyst.optimization_ms": layer.get("optimization_ms", 0),
                "catalyst.planning_ms": layer.get("planning_ms", 0),
                "exec.s": layer.get("exec_s", 0.0),
                "exec.stages": w.stages, "exec.task_s": w.task_ms / 1000,
                "exec.gc_s": w.gc_ms / 1000, "exec.spill_mb": w.spill / MB,
                "exec.shuffle_read_mb": w.shuffle_read / MB,
                "python.rows": w.python_rows, "python.sent_mb": w.python_sent / MB,
                "sources.head_s": layer.get("head_s", 0.0),
                "sources.infer_s": layer.get("infer_s", 0.0),
                "sources.infer_jobs": w.group_jobs.get("infer", 0),
                "sources.written_mb": layer.get("written_mb", 0.0),
            })
            if op in _SOURCE_STEP:
                rec[_SOURCE_STEP[op]] = seconds
            rec.update({k: v for k, v in layer.items() if k.startswith("stream.")})
        self.steady[op].append(rec)

    def run_pass(self, pass_no: int) -> None:
        for op in self.wl.ops:
            self.execute(op, pass_no)
        self.wl.end_pass()

    def summed_median(self, key: str) -> float:
        """Sum over operations of the median over repeated executions."""
        return sum(
            statistics.median(r.get(key, 0) for r in recs)
            for recs in self.steady.values() if recs
        )

    def summed_last(self, key: str) -> float:
        """Sum over operations of the last repeated execution's value."""
        return sum(recs[-1].get(key, 0) for recs in self.steady.values() if recs)

    def steady_value(self, key: str, unit: str) -> float:
        """Times are medians over the repeats; counts and sizes are those
        of the last pass, the state a longer session settles in."""
        return self.summed_median(key) if unit in ("s", "ms") else self.summed_last(key)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dataframe_kotlin_spark", "__init__.py")):
        print("perfbench: the engine package dataframe_kotlin_spark is not beside perfbench/",
              file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=OUT)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    traced = bool(args.trace)
    spark = None
    try:
        conf = configure_env(work, args.workload)
        from dataframe_kotlin_spark.session import get_spark
        from sparkstats import SparkStats, Tracer

        tracer = Tracer(traced)
        with tracer.span("get_spark", "session") as sess:
            spark = get_spark(f"perfbench-{args.workload}", conf)
        setup_s = time.perf_counter() - T_START
        spark.sparkContext.setLogLevel("ERROR")

        stats = SparkStats(spark)
        wl = make_workload(args.workload, spark, work, args.seed, tracer, stats, traced)
        runner = Runner(wl, stats, tracer, traced)
        stats.read(python=False)  # input preparation is not a pass
        runner.run_pass(0)
        cache = stats.cached() if traced else (0, 0.0)
        t_steady = time.perf_counter()
        n_pass = 0
        while n_pass < MIN_STEADY_PASSES or time.perf_counter() - t_steady < args.seconds:
            n_pass += 1
            runner.run_pass(n_pass)
        calib = calibration_s()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for f in runner.failures:
        print("FAILED", f, file=sys.stderr)
    if traced:
        values = {k: runner.steady_value(k, u) for k, u in PER_LAYER.items()}
        values["session.start_s"] = sess.seconds
        values["cache.entries"], values["cache.stored_mb"] = cache
        units = PER_LAYER
    else:
        values = {k: runner.steady_value(k, END_TO_END[k]) for k in ("shuffle_mb", "input_mb", "jobs", "tasks")}
        values.update(setup_s=setup_s, first_run_s=sum(runner.first.values()),
                      steady_s=runner.summed_median("seconds"))
        units = END_TO_END
    metrics = {k: {"value": round(float(values[k]), 6), "unit": u} for k, u in units.items()}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": n_pass, "steady_s": runner.summed_median("seconds"),
        "calibration_s": calib, "metrics": {k: m["value"] for k, m in metrics.items()},
        "first": runner.first,
        "steady": {op: [r["seconds"] for r in recs] for op, recs in runner.steady.items()},
    }
    with open(os.path.join(OUT, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(summary) + "\n")
    if traced:
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump([dict(s, id=i) for i, s in enumerate(tracer.spans)], fh)
    print(json.dumps({
        "correct": runner.wrong == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
