"""Self-test of the benchmark's correctness gate.

    python3 perfbench/selftest.py

Shows that a deliberately wrong expected value is counted as a failure,
both in the gate alone and in a short estimate_direct loop against Spark
on a small population, and that BENCHMARK.json declares exactly the
workloads and metrics run.py reports.  Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import sys

import run
import runenv
import workloads
from gate import Gate


def check(what: str, ok: bool) -> None:
    print(f"selftest: {'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        raise SystemExit(1)


def gate_alone() -> None:
    gate = Gate()
    gate.check("right", (3.0, 0.1), (3.0, 0.1))
    gate.check("wrong", (3.0, 0.1), (3.5, 0.1))
    gate.check("se not compared", (3.0, 0.2), (3.0, None))
    check("gate: one wrong expectation in three -> error_rate 1/3",
          gate.failed == 1 and abs(gate.error_rate - 1 / 3) < 1e-12 and not gate.correct)

    rows = [{"n_sim": 10, "bias_mean": 0.0, "bias_sd": 0.1, "rmse": 0.1}] * 39
    gate = Gate()
    workloads.check_summary(gate, rows)
    workloads.check_summary(gate, rows + [dict(rows[0], rmse=float("nan"))])
    workloads.check_summary(gate, rows + [rows[0]])
    check("gate: mc summary with a missing row or a NaN fails, a whole one passes",
          gate.failed == 2 and gate.attempted == 3)


def declared_metrics() -> None:
    spec = json.loads((runenv.ROOT / "BENCHMARK.json").read_text())
    check("BENCHMARK.json workloads match run.py",
          [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS))
    check("BENCHMARK.json end_to_end metrics match run.py",
          {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END)
    check("BENCHMARK.json per_layer metrics match run.py",
          {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER)


def wrong_estimate_in_loop() -> None:
    sys.path[:0] = [str(runenv.ROOT), str(runenv.ROOT / "tests")]
    spark = runenv.start_session(runenv.pin_environment())
    try:
        pop = workloads.build_population(spark, seed=1, n=20_000)
        members = workloads.call_mix(pop, workloads.collect_oracle(pop)[1])
        calls = 2 * len(members)

        gate = Gate()
        workloads.measure_calls(members, gate, seconds=0, min_calls=calls)
        check(f"loop: {calls} calls against the true oracle -> error_rate 0",
              gate.attempted == calls and gate.failed == 0 and gate.correct)

        est, se = members[0].expected
        members[0].expected = (est + 1.0, se)
        gate = Gate()
        workloads.measure_calls(members, gate, seconds=0, min_calls=calls)
        check(f"loop: {members[0].name} checked against a wrong estimate -> "
              f"error_rate {gate.error_rate:.2f} (2 of {calls})",
              gate.failed == 2 and gate.error_rate > 0 and not gate.correct)
    finally:
        runenv.stop_session(spark)


if __name__ == "__main__":
    gate_alone()
    declared_metrics()
    wrong_estimate_in_loop()
    print("selftest: all checks passed")
