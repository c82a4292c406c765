"""Release-level DP benchmark for tumult_core_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process, one closed-loop client (the next op starts when the
previous one returns), ``local[<cores>]`` Spark.  The library under
test is the ``tumult_core_spark`` package next to this directory; it
is driven only through its public API.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run (see README.md).  The last
line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Driver JVM heap limit (local mode: the executors share it).
HEAP = "1g"
#: Every this many ops, a frozen release is collected a second time.
RECOLLECT_EVERY = 5
#: The measured phase runs ``--seconds / SECONDS_PER_ROUND`` whole
#: rounds (at least one), the same number in every run, so that every
#: run measures the same mix of ops.  A stop after ``--seconds`` of
#: phase time measured one corpus_dedup round or two, depending on the
#: machine's speed, since one round takes close to 10 s.
SECONDS_PER_ROUND = 5


_T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str) -> None:
    """Keep every file the run writes under ``work`` and let the Python
    workers import the library from this checkout."""
    for sub in ("tmp", "local", "materialize", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_GRAFT_MATERIALIZE_DIR"] = os.path.join(work, "materialize")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, spark-submit's launcher included: no perf-data file in
    # the system's /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ.pop("PYSPARK_DRIVER_PYTHON", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(n_cores: int, work: str, trace: bool):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", HEAP)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp",
        )
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if trace:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Counts:
    """Ops attempted and failed over the whole run (set-up, priming
    and measured phases), plus the first failure messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.since_recollect = 0
        #: time spent checking releases, which is not the system's
        self.check_s = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if self.failed <= 5:
            log(f"FAILED {what}")


def run_op(op, hooks, counts: Counts, recollect: bool = False, released=None):
    """Time one op's release, then check it outside the timed region.
    ``released`` is called as soon as the release returns or raises,
    before any checking.  Returns ``(latency_s, release)``, or None when
    the op failed."""
    from workloads import same_release

    counts.attempted += 1
    t0 = time.perf_counter()
    try:
        rel = op.release(hooks)
    except Exception:
        rel = None
        error = traceback.format_exc()
    latency = time.perf_counter() - t0
    if released is not None:
        released()
    if rel is None:
        counts.fail(f"{op.name}: {error}")
        return None
    t_check = time.perf_counter()
    try:
        err = op.check(rel)
        counts.since_recollect += 1
        if err is None and rel.frozen is not None and (
            recollect or (op.recollect and counts.since_recollect >= RECOLLECT_EVERY)
        ):
            counts.since_recollect = 0
            if not same_release(rel, rel.frozen.toArrow()):
                err = "a second collection of the frozen release differs"
    except Exception:
        err = traceback.format_exc()
    if op.after is not None:
        op.after()
    counts.check_s += time.perf_counter() - t_check
    if err is not None:
        counts.fail(f"{op.name}: {err}")
        return None
    return latency, rel


class Phase:
    """Ops of one measured phase: latencies, released cells, wall time
    with check time taken out."""

    def __init__(self) -> None:
        self.latencies = []
        self.names = []
        self.cells = 0
        self.rows = []
        self.wall = 0.0
        self.rounds = 0
        self.releases = []


def measured_phase(workload, counts, hooks, rounds, per_op=None, keep=None):
    """Run ``rounds`` whole rounds of ops."""
    ph = Phase()
    t_start = time.perf_counter()
    check_start = counts.check_s
    while ph.rounds < rounds:
        ops = iter(workload.round())
        ops_in_round = 0
        while True:
            try:
                op = next(ops)
            except StopIteration:
                break
            except Exception:
                counts.attempted += 1
                counts.fail(f"round setup: {traceback.format_exc()}")
                break
            released = per_op.before(op) if per_op else None
            out = run_op(op, hooks, counts, released=released)
            if out is None:
                continue
            latency, rel = out
            ph.latencies.append(latency)
            ops_in_round += 1
            ph.names.append(op.name)
            ph.rows.append(rel.rows)
            ph.cells += rel.rows * (rel.noised_cols or rel.value.num_columns)
            if keep and op.name in keep:
                ph.releases.append((op.name, rel))
        ph.rounds += 1
        ph.wall = time.perf_counter() - t_start - (counts.check_s - check_start)
        log(f"round {ph.rounds}: " + " ".join(
            f"{lat:.2f}" for lat in ph.latencies[len(ph.latencies) - ops_in_round:]))
    return ph


def end_to_end(workload, ph: Phase, setup_s, rss_mb) -> dict:
    import numpy as np

    from stats import metric

    return {
        "op_p50_s": metric(np.percentile(ph.latencies, 50), "s"),
        "op_tail_s": metric(np.percentile(ph.latencies, workload.TAIL_PCT), "s"),
        "ops_per_s": metric(len(ph.latencies) / ph.wall, "1/s"),
        "noised_cells_per_s": metric(ph.cells / ph.wall, "1/s"),
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(rss_mb, "MB"),
    }


def stop_processes(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    import tracing
    from pyspark import SparkContext

    jvm = tracing.jvm_pid(spark)
    children = tracing.descendants(jvm)
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in [jvm] + children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import numpy as np

    import tracing
    import workloads
    from stats import result_line
    from workloads import Hooks

    n_cores = cores()
    rounds = max(1, round(seconds / SECONDS_PER_ROUND))
    workload = workloads.WORKLOADS[name](seed, os.path.join(work, "w"), n_cores)
    t = time.perf_counter()
    workload.generate()
    log(f"{name}: inputs generated in {time.perf_counter() - t:.1f}s")

    counts = Counts()
    hooks = Hooks()
    spark = None
    try:
        # set-up: session start (JVM launch included), registration, one
        # warm-up release, then priming: full rounds, so Python worker
        # start, code generation and JIT are paid before timing.  Every
        # frozen release of the priming rounds is collected twice; check
        # time is not set-up time.
        t = time.perf_counter()
        spark = start_session(n_cores, work, trace)
        workload.register(spark)
        run_op(workload.warm_op(), hooks, counts)
        primed = []
        for _ in range(workload.PRIMING_ROUNDS):
            for op in workload.round():
                out = run_op(op, hooks, counts, recollect=True)
                primed.append(f"{op.name}={out[0]:.2f}" if out else f"{op.name}=failed")
        setup_s = time.perf_counter() - t - counts.check_s
        log("primed: " + " ".join(primed))
        log(f"{name}: set-up {setup_s:.2f}s")

        if trace:
            import traced

            state = traced.run_traced(
                workload, spark, seed, rounds, counts, work, measured_phase
            )
        else:
            # peak RSS of the measured phase only: input generation and
            # set-up peaks are forgotten
            pids = (os.getpid(), tracing.jvm_pid(spark))
            for pid in pids:
                tracing.reset_peak_rss(pid)
            ph = measured_phase(workload, counts, hooks, rounds)
            peaks = [tracing.peak_rss_mb(pid) for pid in pids]
            log(f"{name}: peak RSS driver {peaks[0]:.0f} MB, JVM {peaks[1]:.0f} MB")
            metrics = end_to_end(workload, ph, setup_s, sum(peaks))
            log(f"{name}: {len(ph.latencies)} ops in {ph.rounds} rounds, {ph.wall:.1f}s")
            for op_name in sorted(set(ph.names)):
                lats = [lat for lat, n in zip(ph.latencies, ph.names) if n == op_name]
                log(f"  {op_name}: n={len(lats)} median {np.median(lats):.3f}s")
    finally:
        if spark is not None:
            stop_processes(spark)
    if trace:
        # the event log is complete only once Spark has stopped
        metrics = traced.finish(state)
    return result_line(counts.failed == 0, counts.attempted, counts.failed, metrics)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tumult_core_spark", "__init__.py")):
        log(f"no tumult_core_spark package next to {HERE}; nothing to measure")
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    prepare_environment(work)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
