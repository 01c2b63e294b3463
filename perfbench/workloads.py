"""The benchmark's workloads, driven through the public functions of
``data_integration_est_spark``.  Both are closed loops with one client: the
next call starts when the previous one has returned.

- ``estimate_direct``: one analyst calling RegDI / PC on one cached
  combined population (direct mode).
- ``mc_grid``: the NMAR Monte Carlo study, ``run_nmar_study``, over a
  5 gamma x 10 sim grid of 100k-unit populations.

Each workload function returns a :class:`Outcome`: the untraced
end-to-end samples, and with tracing on, the per-layer figures.
"""

from __future__ import annotations

import math
import resource
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from gate import Gate
from runenv import jvm_peak_rss_mb
from spans import JobCounter, Tracer

# A measured loop ends once it has run --seconds AND made its minimum
# number of calls (100 calls, so the p90 latency has at least ten samples
# beyond it; 2 studies); LOOP_CAP_S bounds it so the run ends within 180 s.
MIN_CALLS = 100
MIN_STUDIES = 2
LOOP_CAP_S = 100.0

# Set-up is repeated and its median reported: the input build of
# estimate_direct.  mc_grid sets up once, with one full warm-up study: the
# first study in a process runs ~10% slower than the next, and a second
# warm-up would cost a quarter of the measured loop.
SETUP_REPS = 3
# Traced runs: repetitions of each direct layer call, and the least number
# of rounds of the call mix in each of the untraced and traced phases.
LAYER_REPS = 5
MIN_ROUNDS = 8

# generar_poblacion: N units, SRS sample A of SIZE_A, sample B drawn as
# exact-size strata on x <= 2 / x > 2 (30% / 20% of N, as in the
# reference's 30k / 20k of 100k), so B holds half the population.
N_POP = 1_000_000
SIZE_A = 1_000
N_B1 = 300_000
N_B2 = 200_000
SIDE_COLS = ["id", "x_i", "x1_i", "x2_i", "y_i"]
ORACLE_COLS = ["x_i", "y_i", "x1_i", "x2_i", "muestra_A", "muestra_B"]
DIRECT = dict(y_A_col="y_i", y_B_col="y_i", ind_var_A="muestra_A", ind_var_B="muestra_B")

# run_nmar_study grid: 5 gammas x 10 sims x 100k units = 5M expanded rows.
# The samples are sized so every cell's A-and-B overlap holds ~100 units:
# with the study's defaults (500 / 2,000) it holds ~10, and at gamma = 1 a
# cell's overlap can miss x <= 2 entirely, leaving RegDI_X1's calibration
# singular.
GRID = dict(N=100_000, n_sim=10, gammas=(0.0, 0.25, 0.5, 0.75, 1.0),
            size_a=1_000, size_b=10_000)
MC_ESTIMATORS = 8  # battery members in each (gamma, sim) cell
FITS_PER_STUDY = len(GRID["gammas"]) * GRID["n_sim"] * MC_ESTIMATORS

# the grouped functions run_nmar_study calls, in the order it submits them
BATTERY_FNS = (
    "calibrated_b_grouped", "fit_outcome_grouped", "u_pred_stats_grouped",
    "naive_mean_grouped", "regdi_c0_grouped", "pc_s1_grouped",
    "pc_dr1_grouped", "regdi_dr_grouped", "clw_grouped",
)


@dataclass
class Member:
    """One kind of call in a workload's mix."""

    name: str                      # span / metric stem, e.g. "regdi.c0"
    call: Callable[[], tuple]      # returns (estimate, se or None) as floats
    expected: tuple                # oracle (estimate, se or None)


@dataclass
class Outcome:
    setup_s: float
    latencies: list[float]         # seconds per call (per study for mc_grid)
    wall_s: float                  # wall time of the measured loop
    fits: int                      # estimator fits completed in the loop
    layer: dict[str, float] = field(default_factory=dict)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _peak_rss_mb() -> float:
    python_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return python_mb + jvm_peak_rss_mb()


# ----------------------------------------------------------- estimate_direct


def build_population(spark, seed: int, n: int = N_POP):
    """The generators/sampling layer: build, persist and count the
    population."""
    from data_integration_est_spark import generators

    scale = n / N_POP
    pop = generators.generar_poblacion(
        spark, N=n, size_a=SIZE_A, n_B1=int(N_B1 * scale), n_B2=int(N_B2 * scale),
        seed=seed,
    ).persist()
    pop.count()
    return pop


def collect_oracle(pop) -> tuple[dict[str, np.ndarray], dict[str, tuple]]:
    """The collected population, and the expected (estimate, se) of each
    mix member from the numpy oracle run on it."""
    import oracle_np

    pdf = pop.select(*ORACLE_COLS).toPandas()
    arr = {c: pdf[c].to_numpy() for c in ORACLE_COLS}
    A, B = "muestra_A", "muestra_B"
    c0 = oracle_np.regdi_np(arr, "y_i", "y_i", A, B, aux_vars=["x1_i"])
    c3 = oracle_np.regdi_np(arr, "y_i", "y_i", A, B, aux_vars=["x1_i"], correction=3,
                            outcome_model_cols=["x_i"])
    s1 = oracle_np.pc_np(arr, "y_i", "y_i", A, B, aux_vars=["x1_i", "x2_i"], scenario=1)
    s3 = oracle_np.pc_np(arr, "y_i", "y_i", A, B, aux_vars=["x1_i", "x2_i"], scenario=3,
                         outcome_model_cols=["x_i"])
    return arr, {
        "regdi.c0": (c0["mean"], math.sqrt(c0["var"])),
        "regdi.c3": (c3["mean"], math.sqrt(c3["var"])),
        "pc.s1": (s1["estimate"], s1["se"]),
        "pc.s3": (s3["estimate"], None),
    }


def call_mix(pop, expected: dict[str, tuple]) -> list[Member]:
    from data_integration_est_spark import pc_estimator, regdi

    def regdi_call(**kw):
        r = regdi(data=pop, **DIRECT, **kw)
        return float(r.mean), float(r.se)

    def pc_call(**kw):
        r = pc_estimator(data=pop, **DIRECT, **kw)
        return float(r.estimate), None if r.se is None else float(r.se)

    calls = {
        "regdi.c0": lambda: regdi_call(aux_vars=["x1_i"], correction=0),
        "regdi.c3": lambda: regdi_call(aux_vars=["x1_i"], correction=3,
                                       outcome_model="y_i ~ x_i"),
        "pc.s1": lambda: pc_call(aux_vars=["x1_i", "x2_i"], scenario=1),
        "pc.s3": lambda: pc_call(aux_vars=["x1_i", "x2_i"], scenario=3,
                                 outcome_model="y_i ~ x_i"),
    }
    return [Member(name, fn, expected[name]) for name, fn in calls.items()]


@dataclass
class CallLog:
    latencies: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)
    tasks: list[int] = field(default_factory=list)
    failed_tasks: int = 0
    wall_s: float = 0.0


def one_call(i: int, member: Member, gate: Gate, log: CallLog,
             tracer: Tracer | None = None, counter: JobCounter | None = None) -> None:
    """Make, time and check one call of the mix."""
    t0, c0 = time.perf_counter(), time.process_time()
    got = None
    try:
        if tracer is None:
            got = member.call()
        else:
            with tracer.span(member.name, trace_id=f"call{i}"):
                got = member.call()
    except Exception:  # noqa: BLE001 - a failed call is counted, the loop goes on
        gate.error(member.name)
    log.latencies.append(time.perf_counter() - t0)
    log.cpu.append(time.process_time() - c0)
    if got is not None:
        gate.check(member.name, got, member.expected)
    if counter is not None:
        jobs, tasks, failed = counter.take()
        log.jobs.append(jobs)
        log.tasks.append(tasks)
        log.failed_tasks += failed


def measure_calls(members: list[Member], gate: Gate, seconds: float,
                  min_calls: int = MIN_CALLS) -> CallLog:
    """The untraced closed loop, round-robin over the mix."""
    log = CallLog()
    t0 = time.perf_counter()
    i = 0
    while True:
        elapsed = time.perf_counter() - t0
        if elapsed >= LOOP_CAP_S or (elapsed >= seconds and i >= min_calls):
            break
        one_call(i, members[i % len(members)], gate, log)
        i += 1
    log.wall_s = time.perf_counter() - t0
    return log


def run_estimate(spark, seed: int, seconds: float, trace: bool, session_s: float,
                 gate: Gate) -> Outcome:
    tracer = Tracer(trace)
    builds = []
    for rep in range(SETUP_REPS):
        with tracer.span("generators.population", trace_id="setup"):
            pop, dt = _timed(lambda: build_population(spark, seed))
        builds.append(dt)
        if rep < SETUP_REPS - 1:
            pop.unpersist(blocking=True)
    # the oracle is the benchmark's own work, so it is not part of setup_s
    with tracer.span("oracle", trace_id="setup"):
        arr, expected = collect_oracle(pop)
    members = call_mix(pop, expected)
    with tracer.span("warmup", trace_id="setup"):
        _, warm_s = _timed(lambda: [m.call() for m in members])
    setup_s = session_s + statistics.median(builds) + warm_s
    if not trace:
        log = measure_calls(members, gate, seconds)
        return Outcome(setup_s, log.latencies, log.wall_s, len(log.latencies))

    layer = {
        "session.start_s": session_s,
        "generators.population_s": statistics.median(builds),
        "integrate.join_s": _time_join(pop, arr, tracer, gate),
        **_time_kernels(pop, arr, tracer, gate),
    }

    # alternate untraced and traced rounds of the mix; the wall-time ratio of
    # the two halves is the tracing overhead
    counter = JobCounter(spark.sparkContext)
    plain, traced = CallLog(), CallLog()
    plain_s = traced_s = 0.0
    rounds = 0
    t0 = time.perf_counter()
    i = 0
    while rounds < MIN_ROUNDS or (time.perf_counter() - t0 < seconds
                                  and time.perf_counter() - t0 < LOOP_CAP_S):
        t = time.perf_counter()
        for m in members:
            one_call(i, m, gate, plain)
            i += 1
        plain_s += time.perf_counter() - t
        counter.take()
        t = time.perf_counter()
        for m in members:
            one_call(i, m, gate, traced, tracer, counter)
            i += 1
        traced_s += time.perf_counter() - t
        rounds += 1
    for m in members:
        layer[f"{m.name}_ms"] = statistics.median(
            tracer.self_time(s) for s in tracer.named(m.name)) * 1e3
    layer.update({
        "spark.jobs_per_call": statistics.fmean(traced.jobs),
        "spark.tasks_per_call": statistics.fmean(traced.tasks),
        "spark.failed_tasks": float(traced.failed_tasks),
        "driver.cpu_ms_per_call": statistics.median(traced.cpu) * 1e3,
        "driver.peak_rss_mb": _peak_rss_mb(),
        "trace.overhead_pct": (traced_s / plain_s - 1.0) * 100.0,
    })
    _dump(tracer, "estimate_direct", seed)
    return Outcome(setup_s, plain.latencies, plain_s, len(plain.latencies), layer)


def _time_join(pop, arr: dict[str, np.ndarray], tracer: Tracer, gate: Gate) -> float:
    """integrate_samples on the population split into a sample-A table and
    a sample-B table, materialized: the full outer join plus the membership
    indicators it derives, whose sums must be the two sample sizes."""
    from pyspark.sql import functions as F

    from data_integration_est_spark import integrate_samples

    data_A = pop.filter("muestra_A = 1").select(*SIDE_COLS).persist()
    data_B = pop.filter("muestra_B = 1").select(*SIDE_COLS).persist()
    data_A.count()
    data_B.count()
    sizes = (int(arr["muestra_A"].sum()), int(arr["muestra_B"].sum()))
    times = []
    try:
        for rep in range(LAYER_REPS):
            with tracer.span("integrate.join", trace_id=f"join{rep}"):
                t0 = time.perf_counter()
                integ = integrate_samples(data_A, data_B, "id", "id", "y_i", "y_i")
                got = integ.df.agg(F.sum(integ.ind_A), F.sum(integ.ind_B)).collect()[0]
                times.append(time.perf_counter() - t0)
            gate.require("integrate.join", tuple(got) == sizes,
                         f"indicator sums {tuple(got)}, sample sizes {sizes}")
    finally:
        data_A.unpersist(blocking=True)
        data_B.unpersist(blocking=True)
    return statistics.median(times)


def _time_kernels(pop, arr: dict[str, np.ndarray], tracer: Tracer, gate: Gate) -> dict[str, float]:
    """Direct calls into kernels.linalg / kernels.stats on sample A of the
    cached population, each checked against the numpy oracle."""
    import oracle_np
    from pyspark.sql import functions as F

    from data_integration_est_spark import SurveyDesign
    from data_integration_est_spark.kernels.linalg import calibrate, fit_ols
    from data_integration_est_spark.kernels.stats import svymean

    iA = arr["muestra_A"] == 1
    n_total = float(len(iA))
    d = n_total / iA.sum()
    sample = pop.filter("muestra_A = 1").withColumn("d_i", F.lit(d))
    X = np.column_stack([arr["x1_i"], arr["x2_i"]]).astype(float)
    totals = X.sum(axis=0)
    w_expected = oracle_np.greg_calibrate(X[iA], np.full(int(iA.sum()), d), totals)
    beta = oracle_np.ols(np.column_stack([np.ones(int(iA.sum())), arr["x_i"][iA]]),
                         arr["y_i"][iA])
    m, V = oracle_np.svymean_var(arr["y_i"][iA], np.full(int(iA.sum()), d))

    def cal():
        r = calibrate(sample, ["x1_i", "x2_i"], list(totals), d_col="d_i")
        w = d * (1.0 + X[iA] @ r.lambda_for(()))
        return float(w @ arr["y_i"][iA]),

    def ols():
        r = fit_ols(sample, y_col="y_i", x_cols=["x_i"])
        return tuple(float(c) for c in r.coef[0])

    def mean():
        e = svymean(SurveyDesign(df=sample, weight_col="d_i"), "y_i")[0]
        return float(e.estimate), float(e.variance)

    kernels = {
        "linalg.calibrate": (cal, (float(w_expected @ arr["y_i"][iA]),)),
        "linalg.fit_ols": (ols, tuple(float(b) for b in beta)),
        "stats.svymean": (mean, (m, V)),
    }
    out = {}
    for name, (fn, expected) in kernels.items():
        times = []
        for rep in range(LAYER_REPS):
            with tracer.span(name, trace_id=f"{name}{rep}"):
                t0 = time.perf_counter()
                try:
                    got = fn()
                except Exception:  # noqa: BLE001 - counted as a failed call
                    gate.error(name)
                    got = None
                times.append(time.perf_counter() - t0)
            if got is not None:
                gate.check(name, got, expected)
        out[f"{name}_ms"] = statistics.median(times) * 1e3
    return out


def _dump(tracer: Tracer, workload: str, seed: int) -> None:
    from runenv import WORK

    tracer.dump(WORK / "spans" / f"{workload}-seed{seed}.json")


# ------------------------------------------------------------------ mc_grid


def run_study(spark, seed: int):
    from data_integration_est_spark import run_nmar_study

    return run_nmar_study(spark, seed=seed, **GRID).summary.collect()


def check_summary(gate: Gate, rows) -> None:
    """One row per (gamma, estimator), every figure finite, every cell
    present."""
    want = len(GRID["gammas"]) * MC_ESTIMATORS
    bad = [
        r for r in rows
        if r["n_sim"] != GRID["n_sim"]
        or any(r[c] is None or not math.isfinite(r[c]) for c in ("bias_mean", "bias_sd", "rmse"))
    ]
    gate.require("montecarlo.summary", len(rows) == want and not bad,
                 f"{len(rows)} rows (want {want}), {len(bad)} with a missing or "
                 f"non-finite figure: {bad[:2]}")


def _study_call(spark, seed: int, gate: Gate) -> float:
    t0 = time.perf_counter()
    try:
        rows = run_study(spark, seed)
    except Exception:  # noqa: BLE001 - counted as a failed call
        gate.error("montecarlo.run_nmar_study")
        return time.perf_counter() - t0
    dt = time.perf_counter() - t0
    check_summary(gate, rows)
    return dt


def run_mc(spark, seed: int, seconds: float, trace: bool, session_s: float,
           gate: Gate) -> Outcome:
    tracer = Tracer(trace)
    with tracer.span("montecarlo.warmup_study", trace_id="setup"):
        _, warm_s = _timed(lambda: run_study(spark, seed))
    setup_s = session_s + warm_s

    if not trace:
        lat = []
        t0 = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t0
            if elapsed >= LOOP_CAP_S or (elapsed >= seconds and len(lat) >= MIN_STUDIES):
                break
            lat.append(_study_call(spark, seed, gate))
        wall = time.perf_counter() - t0
        return Outcome(setup_s, lat, wall, len(lat) * FITS_PER_STUDY)

    from data_integration_est_spark.estimators import vectorized as V

    # untraced studies before and after the traced one; their mean is the
    # baseline of the tracing overhead
    plain_s = _study_call(spark, seed, gate)
    counter = JobCounter(spark.sparkContext)
    c0 = time.process_time()
    originals = {fn: getattr(V, fn) for fn in BATTERY_FNS}
    try:
        for fn, orig in originals.items():
            setattr(V, fn, tracer.wrap(f"vectorized.{fn}", orig))
        with tracer.span("montecarlo.study", trace_id="study"):
            traced_s = _study_call(spark, seed, gate)
    finally:
        for fn, orig in originals.items():
            setattr(V, fn, orig)
    cpu_s = time.process_time() - c0
    jobs, tasks, failed = counter.take()
    plain_s = (plain_s + _study_call(spark, seed, gate)) / 2
    battery = [s for s in tracer.spans if s.trace_id == "study" and s.name.startswith("vectorized.")]
    battery_wall = max(s.end for s in battery) - min(s.start for s in battery)

    layer = {"session.start_s": session_s}
    layer["montecarlo.grid_population_s"], sequential = _sequential_battery(spark, seed, tracer)
    layer.update({f"vectorized.{fn}_s": t for fn, t in sequential.items()})
    seq_total = sum(sequential.values())
    layer.update({
        "montecarlo.battery_sequential_s": seq_total,
        "montecarlo.battery_wall_s": battery_wall,
        "montecarlo.battery_overlap": seq_total / battery_wall,
        "spark.jobs_per_call": float(jobs),
        "spark.tasks_per_call": float(tasks),
        "spark.failed_tasks": float(failed),
        "driver.cpu_ms_per_call": cpu_s * 1e3,
        "driver.peak_rss_mb": _peak_rss_mb(),
        "trace.overhead_pct": (traced_s / plain_s - 1.0) * 100.0,
    })
    _dump(tracer, "mc_grid", seed)
    return Outcome(setup_s, [plain_s], plain_s, FITS_PER_STUDY, layer)


def _sequential_battery(spark, seed: int, tracer: Tracer) -> tuple[float, dict[str, float]]:
    """Materialize the study's grid population the way run_nmar_study does,
    then run its grouped battery functions one after another, same
    arguments, each timed on its own."""
    from data_integration_est_spark.estimators import vectorized as V
    from data_integration_est_spark.montecarlo import nmar_grid_population
    from data_integration_est_spark.util import adaptive_coalesce

    with tracer.span("montecarlo.grid_population", trace_id="sequential"):
        t0 = time.perf_counter()
        cache = nmar_grid_population(spark, seed=seed, **GRID).select(
            "gamma", "sim_id", "y_i", "x_i", "x1_i", "x2_i", "muestra_A", "muestra_B",
        ).persist()
        cache.count()
        pop_s = time.perf_counter() - t0
    pop = adaptive_coalesce(cache)
    g = ["gamma", "sim_id"]
    A, B, aux = "muestra_A", "muestra_B", ["x1_i", "x2_i"]
    times = dict.fromkeys(BATTERY_FNS, 0.0)

    def timed(fn, *args, **kwargs):
        with tracer.span(f"vectorized.{fn}", trace_id="sequential"):
            t0 = time.perf_counter()
            out = getattr(V, fn)(*args, **kwargs)
            times[fn] += time.perf_counter() - t0
        return out

    try:
        calb = timed("calibrated_b_grouped", pop, B, aux, g)
        fit = timed("fit_outcome_grouped", pop, A, "y_i ~ x_i", g)
        ust = timed("u_pred_stats_grouped", pop, fit, g)
        timed("naive_mean_grouped", pop, "y_i", A, g)
        timed("naive_mean_grouped", pop, "y_i", B, g)
        timed("regdi_c0_grouped", pop, "y_i", "y_i", A, B, g, aux_vars=["x1_i"])
        timed("pc_s1_grouped", pop, "y_i", B, aux, g, calb=calb)
        timed("pc_dr1_grouped", pop, "y_i", "y_i", A, B, aux, "y_i ~ x_i", g, diag={},
              fit=fit, calb=calb, u_stats=ust)
        timed("regdi_dr_grouped", pop, "y_i", "y_i", A, B, "y_i ~ x_i", g,
              aux_vars=["x1_i"], diag={}, fit=fit, u_stats=ust)
        timed("clw_grouped", pop, "y_i", ["x_i"], A, B, g, n_iter=8, diag={})
    finally:
        cache.unpersist(blocking=True)
    return pop_s, times
