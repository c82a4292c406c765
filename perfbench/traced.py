"""The traced run: per-layer metrics measured from outside the library.

The run first repeats the untraced measured phase for half its rounds
(phase A), then installs the wrappers, tags each op's Spark jobs with a
job group, samples /proc around each op and replays the same rounds
(phase B), then replays them untraced once more (phase A2).
``trace.overhead_frac`` is B's wall time over the mean of A's and A2's,
minus one; averaging the phases around B cancels most of the warm-up
drift between them.  After Spark stops, the event log is parsed and
every metric is divided by the number of traced ops (so it reads "per
op"), except the sampler lane's draw rates, the overhead fraction and
``extensions.pair_precision``.
"""

from __future__ import annotations

import os
import time

import numpy as np

import data
import tracing
from stats import clipped_union_length, metric, self_times
from workloads import Hooks, WideRelease

#: Least time over which the sampler lane measures each draw rate.
LANE_MIN_S = 0.25

#: Library functions and methods wrapped in the traced phase:
#: (module, attribute, span name).
FUNCTIONS = [
    ("tumult_core_spark.utils.misc", "sanitize_df", "release.sanitize"),
    ("tumult_core_spark.utils.misc", "freeze_noised_release", "release.freeze_driver"),
    ("tumult_core_spark.utils.misc", "materialize", "release.materialize"),
    ("tumult_core_spark.extensions.dedup", "minhash_lsh_candidate_pairs",
     "extensions.minhash"),
    ("tumult_core_spark.extensions.dedup", "dedup_paragraphs",
     "extensions.dedup_paragraphs"),
    ("tumult_core_spark.extensions.dedup", "decontaminate",
     "extensions.decontaminate"),
]

RELEASE_SPANS = ("release.sanitize", "release.freeze_driver")


class TracedHooks(Hooks):
    def __init__(self, tracer: tracing.Tracer):
        self.tracer = tracer

    def phase(self, name: str):
        return self.tracer.span("phase." + name)


def install(tracer: tracing.Tracer) -> None:
    import importlib

    from tumult_core_spark.base import Measurement, Transformation
    from tumult_core_spark.measurements.interactive import PrivacyAccountant
    from tumult_core_spark.measurements.noise import (
        AddDiscreteGaussianNoise,
        AddGaussianNoise,
        AddGeometricNoise,
        AddLaplaceNoise,
    )

    def on_materialize(tr, args, out):
        tr.count("release.large")
        for f in out.inputFiles():
            path = f[len("file:"):] if f.startswith("file:") else f
            if os.path.exists(path):
                tr.count("release.materialize_bytes", os.path.getsize(path))

    def on_freeze(tr, args, out):
        if out is not None:
            tr.count("release.small")

    def on_sanitize(tr, args, out):
        # small path: this call froze the release without a parquet write
        idx = max(i for i, s in enumerate(tr.spans) if s["name"] == "release.sanitize")
        if not any(s["name"] == "release.materialize" for s in tr.spans[idx + 1:]):
            tr.count("release.small")

    def on_noise(tr, args, out):
        tr.count("samplers.draws", len(out))

    def on_mechanism(tr, args, out):
        tr.count("mechanism." + mechanism_key(args[0]))

    hooks = {
        "materialize": on_materialize,
        "freeze_noised_release": on_freeze,
        "sanitize_df": on_sanitize,
    }
    for mod_name, attr, span in FUNCTIONS:
        mod = importlib.import_module(mod_name)
        tracer.wrap_function(mod, attr, span, hooks.get(attr))
    for cls in [Measurement] + tracing.all_subclasses(Measurement):
        tracer.wrap_method(cls, "privacy_function", "privacy_function")
        tracer.wrap_method(cls, "__call__", "measurement.call")
    for cls in [Transformation] + tracing.all_subclasses(Transformation):
        tracer.wrap_method(cls, "__call__", "transformation.call")
    for cls in (AddLaplaceNoise, AddGeometricNoise, AddGaussianNoise,
                AddDiscreteGaussianNoise):
        tracer.wrap_method(cls, "add_noise_to_array", "samplers.add_noise", on_noise)
        tracer.wrap_method(cls, "__init__", "samplers.construct", on_mechanism)
    tracer.wrap_method(PrivacyAccountant, "measure", "accountant.measure")
    tracer.wrap_method(PrivacyAccountant, "split", "accountant.split")


class PerOp:
    """Job group and /proc samples around each traced op."""

    def __init__(self, tracer, spark):
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.jvm = tracing.jvm_pid(spark)
        self.records = []

    def _sample(self):
        return (
            time.time(),
            tracing.proc_cpu_s(os.getpid()),
            tracing.proc_cpu_s(self.jvm),
            tracing.python_workers_cpu_s(self.jvm),
        )

    def before(self, op):
        """Open the op's window; returns the callable that closes it,
        which ``run_op`` calls as soon as the release returns, so that
        the benchmark's own checks fall outside the window."""
        op_id = len(self.records)
        self.tracer.op = op_id
        self.sc.setJobGroup(f"op{op_id}", op.name)
        self.records.append({"id": op_id, "name": op.name})
        start = self._sample()
        return lambda: self._after(start)

    def _after(self, before):
        after = self._sample()
        rec = self.records[-1]
        rec["t0"], rec["t1"] = before[0], after[0]
        rec["driver_py_cpu_s"] = after[1] - before[1]
        rec["jvm_cpu_s"] = after[2] - before[2]
        rec["pyworker_cpu_s"] = after[3] - before[3]
        self.tracer.op = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def build_mechanism(mech: str, scale):
    from tumult_core_spark.domains import NumpyFloatDomain
    from tumult_core_spark.measurements.noise import (
        AddDiscreteGaussianNoise,
        AddGaussianNoise,
        AddGeometricNoise,
        AddLaplaceNoise,
    )

    scale = str(scale)
    return {
        "laplace": lambda: AddLaplaceNoise(NumpyFloatDomain(), scale),
        "gaussian": lambda: AddGaussianNoise(NumpyFloatDomain(), scale),
        "geometric": lambda: AddGeometricNoise(scale),
        "discrete_gaussian": lambda: AddDiscreteGaussianNoise(scale),
    }[mech]()


def mechanism_key(mech) -> str:
    """``<class>=<noise parameter>`` of a library noise mechanism."""
    for attr in ("scale", "alpha", "sigma_squared"):
        if hasattr(mech, attr):
            return f"{type(mech).__name__}={getattr(mech, attr)}"
    raise AttributeError(f"no noise parameter on {mech!r}")


def sampler_lane(workload, seed: int) -> dict:
    """Driver-side ``add_noise_to_array`` draw rates of each mechanism
    at the noise parameter, draw count and exact statistic of the first
    ``wide_release`` op that uses it, and at mu=0, so favourable inputs
    cannot hide the slow case.  Returns the rates and the mechanism
    keys the lane used."""
    if not isinstance(workload, WideRelease):
        workload = WideRelease(seed, None, workload.cores)
        workload.exact = WideRelease.exact_answers(
            data.make_lineitem(seed, WideRelease.sf))
    rates, keys = {}, set()
    for mech_name, (spec, typical) in workload.lane_inputs().items():
        mech = build_mechanism(mech_name, spec.scale)
        keys.add(mechanism_key(mech))
        if mech_name in ("geometric", "discrete_gaussian"):
            typical = typical.astype(np.int64)
        for label, mu in (("mu0", np.zeros_like(typical)), ("mu_typ", typical)):
            # repeat short calls so each rate covers LANE_MIN_S
            draws, t = 0, time.perf_counter()
            while True:
                noisy = mech.add_noise_to_array(mu)
                if len(noisy) != len(mu):
                    raise AssertionError(f"{mech_name}: {len(noisy)} draws for {len(mu)}")
                draws += len(mu)
                dt = time.perf_counter() - t
                if dt >= LANE_MIN_S:
                    break
            rates[f"samplers.{mech_name}.draws_per_s_{label}"] = draws / dt
    return rates, keys


def run_traced(workload, spark, seed, rounds, counts, work, measured_phase) -> dict:
    """Phases A, B and A2, then the sampler lane.  On ``wide_release``
    the lane's mechanisms must be ones that phase B's ops built."""
    a = measured_phase(workload, counts, Hooks(), max(1, rounds // 2))
    tracer = tracing.Tracer()
    install(tracer)
    per_op = PerOp(tracer, spark)
    try:
        b = measured_phase(workload, counts, TracedHooks(tracer), a.rounds,
                           per_op=per_op, keep={"minhash"})
    finally:
        tracer.uninstall()
    a2 = measured_phase(workload, counts, Hooks(), a.rounds)
    lane, lane_keys = sampler_lane(workload, seed)
    if isinstance(workload, WideRelease):
        built = {k[len("mechanism."):] for k in tracer.counters if k.startswith("mechanism.")}
        if not lane_keys <= built:
            counts.fail(f"sampler lane mechanisms {sorted(lane_keys - built)} "
                        f"are not among those the ops built: {sorted(built)}")
    precision = 0.0
    pairs = [rel for name, rel in b.releases if name == "minhash"]
    if pairs:
        precision = workload.pair_precision(pairs[-1].value)
    return {
        "untraced_wall": (a.wall + a2.wall) / 2,
        "b": b,
        "tracer": tracer,
        "per_op": per_op,
        "lane": lane,
        "precision": precision,
        "app_id": spark.sparkContext.applicationId,
        "events": os.path.join(work, "events"),
        "workload": workload.name,
        "seed": seed,
    }


def finish(state: dict) -> dict:
    """Parse the event log (Spark has stopped) and fold everything into
    per-op metrics; write the spans under ``.perfbench/traces``."""
    b, tracer, records = state["b"], state["tracer"], state["per_op"].records
    n = max(len(records), 1)
    groups = tracing.parse_event_log(state["events"], state["app_id"])
    spans = tracer.spans
    selfs = self_times(spans)

    def top(name):
        """Total time in ``name`` spans not nested in another one."""
        total = 0.0
        for s in spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and spans[p]["name"] != name:
                p = spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def release_time():
        total = 0.0
        for s in spans:
            if s["name"] in RELEASE_SPANS:
                p = s["parent"]
                while p is not None and spans[p]["name"] not in RELEASE_SPANS:
                    p = spans[p]["parent"]
                if p is None:
                    total += s["end"] - s["start"]
        return total

    def op_latency(name):
        lats = [l for l, nm in zip(b.latencies, b.names) if nm == name]
        return float(np.median(lats)) if lats else 0.0

    def spark_sum(key):
        return sum(groups.get(f"op{r['id']}", {}).get(key, 0) for r in records)

    job_wall = gap = 0.0
    for r in records:
        g = groups.get(f"op{r['id']}", {"intervals": []})
        covered = clipped_union_length(g["intervals"], r["t0"], r["t1"])
        job_wall += covered
        gap += (r["t1"] - r["t0"]) - covered

    minhash_rows = [rows for rows, nm in zip(b.rows, b.names) if nm == "minhash"]
    c = tracer.counters
    per_op = {
        "core.construct_s": (top("phase.construct"), "s"),
        "core.privacy_fn_s": (top("privacy_function"), "s"),
        "accountant.measure_self_s": (
            sum(x for x, s in zip(selfs, spans) if s["name"] == "accountant.measure"),
            "s"),
        "accountant.split_s": (top("accountant.split"), "s"),
        "transformations.call_s": (top("transformation.call"), "s"),
        "spark.jobs": (spark_sum("jobs"), "count"),
        "spark.stages": (spark_sum("stages"), "count"),
        "spark.tasks": (spark_sum("tasks"), "count"),
        "spark.job_wall_s": (job_wall, "s"),
        "spark.driver_gap_s": (gap, "s"),
        "spark.executor_run_s": (spark_sum("executor_run_s"), "s"),
        "spark.executor_cpu_s": (spark_sum("executor_cpu_s"), "s"),
        "spark.gc_s": (spark_sum("gc_s"), "s"),
        "spark.input_mb": (spark_sum("input_mb"), "MB"),
        "spark.shuffle_read_mb": (spark_sum("shuffle_read_mb"), "MB"),
        "spark.shuffle_write_mb": (spark_sum("shuffle_write_mb"), "MB"),
        "spark.fetch_wait_s": (spark_sum("fetch_wait_s"), "s"),
        "pyworker.cpu_s": (sum(r["pyworker_cpu_s"] for r in records), "s"),
        "samplers.driver_noise_s": (top("samplers.add_noise"), "s"),
        "samplers.draws": (c.get("samplers.draws", 0), "count"),
        "release.freeze_s": (release_time(), "s"),
        "release.small_path": (c.get("release.small", 0), "count"),
        "release.large_path": (c.get("release.large", 0), "count"),
        "release.materialize_mb": (c.get("release.materialize_bytes", 0) / 2**20, "MB"),
        "release.rows": (sum(b.rows), "count"),
        "proc.driver_py_cpu_s": (sum(r["driver_py_cpu_s"] for r in records), "s"),
        "proc.jvm_cpu_s": (sum(r["jvm_cpu_s"] for r in records), "s"),
    }
    metrics = {k: metric(v / n, unit) for k, (v, unit) in per_op.items()}
    metrics.update({
        "extensions.minhash_s": metric(op_latency("minhash"), "s"),
        "extensions.dedup_paragraphs_s": metric(op_latency("dedup_paragraphs"), "s"),
        "extensions.decontaminate_s": metric(op_latency("decontaminate"), "s"),
        "extensions.candidate_pairs": metric(
            np.median(minhash_rows) if minhash_rows else 0.0, "count"),
        "extensions.pair_precision": metric(state["precision"], "ratio"),
        "trace.overhead_frac": metric(b.wall / state["untraced_wall"] - 1, "ratio"),
    })
    metrics.update({k: metric(v, "1/s") for k, v in state["lane"].items()})

    out_dir = os.path.join(os.path.dirname(os.path.dirname(state["events"])), "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{state['workload']}-seed{state['seed']}.json"),
                ops=records, spark=groups)
    return metrics
