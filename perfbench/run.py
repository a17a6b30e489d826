"""Repository benchmark: knowledge-graph construction and the curation suite
on a local Spark, measured end to end and layer by layer.

    python3 perfbench/run.py --workload kg --seed 1 --seconds 18 --trace 0

Run it from the repository root. Workloads (``workloads.py``): ``kg`` (the
fused batch path, then the staged streaming path) and ``curation_suite``.
Inputs are made from ``--seed`` and written to parquet before timing
starts; outputs are checked after it ends.

Every run pins its environment (``pin_env``), prints it as an ``env`` line,
and prints as its last line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics and ``--trace 1`` the per-layer metrics; names and units
are the ones ``BENCHMARK.json`` lists. The run exits 0 when every check
passed, 1 when a check failed (the result line is still printed) and 2 when
it could not run at all (no result line).

End-to-end metrics. The unit of work is one fused kg job (kg) or one pass
of the suite (curation_suite).

* ``setup_s`` — session creation plus the workload's warm-up job (a small
  fused kg job for kg, which loads the models into every Python worker; a
  one-task job for curation_suite), median of the workload's
  ``setup_reps`` setups in the run; the first also starts the JVM. Input
  generation is not included.
* ``wall_s`` — median wall time of one unit of work.
* ``docs_per_s`` — median over the units of work of their input docs
  divided by their wall time.
* ``freshness_p50_s`` — median time from an input being ready to its
  output being committed: for kg, a landed file's docs reaching the
  stream's sink, timed from when the file was due; for curation_suite, a
  query's result arriving, timed from the start of the pass, when every
  table is ready (so waiting for a free client counts). A run has too few
  such samples for a p90 with ten samples beyond it (``workloads.py`` gives
  the counts), so ``freshness.p90_s`` is a per-layer number.
* ``peak_rss_mb`` — peak summed RSS of the Spark JVM and its Python worker
  processes while the measured part runs, sampled from ``/proc``.

Failed jobs, files and queries are counted in ``failed`` against
``attempted``.

The traced run (``--trace 1``) first runs exactly what ``--trace 0`` runs,
then restarts the session with Spark's event log on and measures again. On
kg it then restarts without the log and measures a third time:
``trace.overhead_ratio`` is the traced ``wall_s`` over the median of the
untraced ones from before and after it, minus 1. On curation_suite the
traced pass runs one client on a JVM that has compiled every query, unlike
the measured pass, and an untraced twin of it would push the run past its
time limit; there the ratio is not measured and reads 0, like every
per-layer metric a workload does not exercise.

* ``spark.*`` — Spark's event log for the traced measurement, summed over
  the stages of the measured jobs and divided by its units of work, except
  ``spark.peak_exec_mem_bytes`` (largest task) and ``spark.task_skew``
  (max/mean task run time of the stage with the most run time).
* ``freshness.p90_s`` — the 90th percentile of the freshness samples.
* ``streaming.*`` — the query's ``recentProgress`` (medians over the
  measured micro-batches), the backlog when the schedule ends, how late the
  file generator ran, and the event log's task time and Python bytes per
  micro-batch.
* ``query.*`` — each suite query's wall time, shuffle bytes written and
  peak task execution memory in the traced pass, which runs the queries one
  at a time.
* kernels (``operators.*``, ``models.*``, ``plans.fused.glue_s``,
  ``replay.*``) — an in-process replay of the fused task function on the
  kg input as one Arrow batch, with each kernel entry point wrapped by a
  timer from ``tracing.py``.
* ``session.get_spark_s`` — the session-creation part of ``setup_s``.

Traced numbers are checked against wall clock before they are reported:
kernel self times must fit inside the replay wall, and the summed task run
time of each traced group (a query, the batch loop, the stream) must fit
inside cores × its wall. A number that fails marks the run incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"
RUN_LIMIT_S = 170  # the run aborts itself rather than overrun 180 s


def pin_env(work: str) -> dict[str, str]:
    """Fix what the program reads from the environment, before Spark starts.
    The repository root goes on PYTHONPATH so the Python workers the JVM
    forks import the same package the driver does."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",  # one task per core; no BLAS threads on top
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    return pinned


class Engine:
    """The run's Spark session, restarted between setups and phases on one
    JVM, which ``close`` stops and waits for along with its workers."""

    def __init__(self, work: str):
        self.work = work
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None

    def start(self, event_log_dir: str | None = None) -> float:
        from corenlp_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.eventLog.enabled": "false",
        }
        if event_log_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cpus}]",
                               extra_conf=conf)
        return time.perf_counter() - t0

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        jvm = gateway.proc
        workers = tracing.process_tree(jvm.pid)[1:]
        gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
        wait_ended(workers, timeout_s=30)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_ended(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; kill whatever is left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def set_up(engine: Engine, wl) -> tuple[float, float]:
    """Median (setup, session creation) seconds over the workload's setups; the
    session of the last one stays up."""
    total, created = [], []
    for _ in range(wl.setup_reps):
        engine.stop()
        t0 = time.perf_counter()
        created.append(engine.start())
        wl.set_up_job(engine.spark)
        total.append(time.perf_counter() - t0)
    print("perfbench: setups " + ", ".join(f"{c:.1f}+{t - c:.1f}s" for c, t in zip(created, total)),
          file=sys.stderr)
    return tracing.median(total), tracing.median(created)


def traced_layers(engine: Engine, wl, seconds: float, main,
                  get_spark_s: float) -> tuple[dict[str, float], list[str], list]:
    """The per-layer metrics of a traced run; see the module docstring."""

    def phase(name: str, event_log_dir: str | None = None):
        engine.stop()
        engine.start(event_log_dir)
        wl.set_up_job(engine.spark)
        wl.warm(engine.spark, name)
        m = wl.measure(engine.spark, seconds, name)
        engine.stop()  # also closes the event log
        return m

    log_dir = os.path.join(wl.work, "eventlog")
    os.makedirs(log_dir)
    traced = phase("traced", log_dir)
    phases = [traced]
    traced_wall = traced.end_to_end()["wall_s"]
    overhead = 0.0
    if wl.warm_main:
        # later phases run on a warmer JVM; the main measurement, which ran
        # in the same state as the traced one, brackets it from before and
        # the untraced phase from after
        untraced = phase("untraced")
        phases.append(untraced)
        overhead = traced_wall / tracing.median(untraced.walls + main.walls) - 1
    groups = tracing.fold_event_log(tracing.single_event_log(log_dir), wl.group_of)
    problems = []
    for name, wall in traced.spans.items():
        if name not in groups or not groups[name].tasks:
            # a job description that no longer matches would report zeros
            problems.append(f"trace: the event log holds no task of {name}")
        elif groups[name].run_s > engine.cpus * wall * 1.02 + 0.1:
            problems.append(f"trace: {name} task run time {groups[name].run_s:.2f}s exceeds "
                            f"{engine.cpus} cores x {wall:.2f}s wall")
    stream = groups.pop("stream", tracing.StageTotals())
    total = tracing.merge(groups.values())
    units = max(1, len(traced.walls))
    batches = max(1.0, traced.layers.get("streaming.batches", 0.0))
    layers = {
        "session.get_spark_s": get_spark_s,
        "trace.wall_s": traced_wall,
        "trace.overhead_ratio": overhead,
        "spark.stage.run_s": total.run_s / units,
        "spark.stage.cpu_s": total.cpu_s / units,
        "spark.stage.gc_s": total.gc_s / units,
        "spark.task_wait_s": total.wait_s / units,
        "spark.task_skew": total.skew(),
        "spark.shuffle.write_bytes": total.shuffle_write / units,
        "spark.shuffle.read_bytes": total.shuffle_read / units,
        "spark.spill_bytes": total.spill / units,
        "spark.peak_exec_mem_bytes": float(total.peak_exec_mem),
        "spark.python.bytes_sent": total.py_sent / units,
        "spark.python.bytes_returned": total.py_returned / units,
        "streaming.spark.run_s": stream.run_s / batches,
        "streaming.python.bytes_sent": stream.py_sent / batches,
        "streaming.python.bytes_returned": stream.py_returned / batches,
    }
    layers.update(main.layers)
    for name in workloads.MEMORY_QUERIES:
        if name in groups:
            layers[f"query.{name}.shuffle_bytes"] = float(groups[name].shuffle_write)
            layers[f"query.{name}.peak_exec_mem_bytes"] = float(groups[name].peak_exec_mem)
    extra, extra_problems = wl.traced_layers(traced)
    layers.update(extra)
    return layers, problems + extra_problems, phases


def run(args, work: str, declared: dict) -> tuple[dict, list[str]]:
    clock = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    wl.prepare()
    engine = Engine(work)

    def log(step: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        print(f"perfbench: {step} {now - clock:.1f}s", file=sys.stderr, flush=True)
        clock = now

    try:
        log("inputs")
        setup_s, get_spark_s = set_up(engine, wl)
        log("setup")
        wl.warm(engine.spark, "main")
        log("warm")
        sampler = tracing.RssSampler(engine.jvm_pid)
        sampler.start()
        try:
            main = wl.measure(engine.spark, args.seconds, "main")
        finally:
            sampler.stop()
        log("measure")
        problems = wl.check(engine.spark, main)
        log("check")
        measured = [main]
        if args.trace:
            values, more, phases = traced_layers(engine, wl, args.seconds, main, get_spark_s)
            problems += more
            measured += phases
            log("trace")
        else:
            values = {"setup_s": setup_s, "peak_rss_mb": sampler.peak_bytes / 2**20,
                      **main.end_to_end()}
    finally:
        engine.close()
        log("close")
    attempted = sum(m.attempted for m in measured)
    failed = sum(m.failed for m in measured)
    if failed:
        problems.append(f"{failed} of {attempted} operations failed")
    wanted = declared["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for spec in wanted:
        value = values.get(spec["name"], 0.0)
        metrics[spec["name"]] = {"value": float(value), "unit": spec["unit"]}
    unknown = set(values) - {s["name"] for s in wanted}
    if unknown:
        problems.append(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": metrics}, problems


def _abort_after(seconds: float, work: str) -> threading.Timer:
    """Kill the run, and every process under it, if it overruns."""

    def abort():
        print(f"perfbench: run exceeded {seconds:.0f}s, aborting", file=sys.stderr, flush=True)
        wait_ended(tracing.process_tree(os.getpid())[1:], timeout_s=0)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(2)

    timer = threading.Timer(seconds, abort)
    timer.daemon = True
    timer.start()
    return timer


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=sorted(workloads.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "corenlp_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from a checkout of the repository; corenlp_spark/ "
              "and __spark_entry__.py are missing", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    watchdog = _abort_after(RUN_LIMIT_S, work)
    try:
        pinned = pin_env(work)
        sys.path.insert(0, ROOT)
        import pyspark

        # paths relative to the checkout, so the record reads the same anywhere
        env = {k: v.replace(ROOT, ".") for k, v in pinned.items()}
        env.update({"spark": pyspark.__version__, "python": platform.python_version(),
                    "workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace})
        print(json.dumps({"env": env}), flush=True)
        result, problems = run(args, work, declared)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
        watchdog.cancel()
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
