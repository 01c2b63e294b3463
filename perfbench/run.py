"""Repo benchmark for data_integration_est_spark.

    python3 perfbench/run.py --workload estimate_direct --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  Workloads: estimate_direct and mc_grid
(see README.md beside this file).  The last line of standard output is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (a separate run with spans recorded).  ``failed``
counts calls that raised or disagreed with the oracle, so ``failed /
attempted`` is the run's error rate.  Exits non-zero without a result when
the library or its oracle is not in the checkout, or when set-up fails.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
import traceback

WORKLOADS = ("estimate_direct", "mc_grid")

END_TO_END = {
    "setup_s": "s",
    "call_p50_ms": "ms",
    "call_p90_ms": "ms",
    "mc_fits_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "generators.population_s": "s",
    "integrate.join_s": "s",
    "regdi.c0_ms": "ms",
    "regdi.c3_ms": "ms",
    "pc.s1_ms": "ms",
    "pc.s3_ms": "ms",
    "linalg.calibrate_ms": "ms",
    "linalg.fit_ols_ms": "ms",
    "stats.svymean_ms": "ms",
    "montecarlo.grid_population_s": "s",
    "vectorized.fit_outcome_grouped_s": "s",
    "vectorized.calibrated_b_grouped_s": "s",
    "vectorized.u_pred_stats_grouped_s": "s",
    "vectorized.naive_mean_grouped_s": "s",
    "vectorized.regdi_c0_grouped_s": "s",
    "vectorized.pc_s1_grouped_s": "s",
    "vectorized.pc_dr1_grouped_s": "s",
    "vectorized.regdi_dr_grouped_s": "s",
    "vectorized.clw_grouped_s": "s",
    "montecarlo.battery_sequential_s": "s",
    "montecarlo.battery_wall_s": "s",
    "montecarlo.battery_overlap": "ratio",
    "spark.jobs_per_call": "count",
    "spark.tasks_per_call": "count",
    "spark.failed_tasks": "count",
    "driver.cpu_ms_per_call": "ms",
    "driver.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
    "error_rate": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile(samples: list[float], q: int) -> float:
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


def end_to_end(outcome) -> dict[str, float]:
    return {
        "setup_s": outcome.setup_s,
        "call_p50_ms": percentile(outcome.latencies, 50) * 1e3,
        "call_p90_ms": percentile(outcome.latencies, 90) * 1e3,
        "mc_fits_per_s": outcome.fits / outcome.wall_s,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    import runenv

    # the library and the oracle come from the checkout itself
    sys.path[:0] = [str(runenv.ROOT), str(runenv.ROOT / "tests")]
    try:
        import data_integration_est_spark  # noqa: F401
        import oracle_np  # noqa: F401
    except ImportError as e:
        print(f"perfbench: library or oracle missing under {runenv.ROOT}: {e}", file=sys.stderr)
        return 2

    import workloads
    from gate import Gate

    conf = runenv.pin_environment()
    t0 = time.perf_counter()
    spark = runenv.start_session(conf)
    session_s = time.perf_counter() - t0
    gate = Gate()
    run = workloads.run_mc if args.workload == "mc_grid" else workloads.run_estimate
    try:
        outcome = run(spark, args.seed, args.seconds, bool(args.trace), session_s, gate)
    except Exception:  # noqa: BLE001 - a set-up failure ends the run without a result
        traceback.print_exc()
        return 1
    finally:
        runenv.stop_session(spark)

    if args.trace:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(outcome.layer)
        values["error_rate"] = gate.error_rate
        units = PER_LAYER
    else:
        values, units = end_to_end(outcome), END_TO_END
    print(f"perfbench: {args.workload} seed={args.seed} samples={len(outcome.latencies)} "
          f"attempted={gate.attempted} failed={gate.failed} loop_s={outcome.wall_s:.1f} "
          f"run_s={time.perf_counter() - t0:.1f}")
    print(json.dumps({
        "correct": gate.correct,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
