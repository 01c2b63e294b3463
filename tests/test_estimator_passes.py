"""Spark work per single-call RegDI / PC estimate: argument errors surface
before any job, each direct-mode member stays within its job bound, and no
call leaves anything cached behind."""

import numpy as np
import pandas as pd
import pytest

from data_integration_est_spark import pc_estimator, regdi
from data_integration_est_spark.integrate import IntegrationError

from test_estimators import COMMON, make_population


@pytest.fixture(scope="module")
def pop(spark):
    return spark.createDataFrame(pd.DataFrame(make_population()))


def _job_ids(sc) -> set:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _persistent(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


def _run(spark, fn):
    """(new job count, change in persisted RDDs, exception or None) of fn()."""
    sc = spark.sparkContext
    before, cached = _job_ids(sc), _persistent(sc)
    err = None
    try:
        fn()
    except Exception as e:  # noqa: BLE001 - returned to the test
        err = e
    return len(_job_ids(sc) - before), _persistent(sc) - cached, err


AUX1, AUX2 = ["x1_i"], ["x1_i", "x2_i"]
INVALID = {
    "regdi_correction": lambda d: regdi(data=d, correction=5, **COMMON),
    "regdi_c3_no_model": lambda d: regdi(data=d, correction=3, **COMMON),
    "pc_scenario": lambda d: pc_estimator(data=d, scenario=4, **COMMON),
    "pc_model_type": lambda d: pc_estimator(data=d, scenario=2, model_type="probit",
                                            outcome_model="y_i ~ x_i", **COMMON),
    "pc_s2_no_model": lambda d: pc_estimator(data=d, scenario=2, **COMMON),
    "pc_s3_no_model": lambda d: pc_estimator(data=d, scenario=3, **COMMON),
    "pc_s1_no_y_B": lambda d: pc_estimator(data=d, scenario=1, aux_vars=AUX2,
                                           **{**COMMON, "y_B_col": None}),
    "pc_s3_no_y_B": lambda d: pc_estimator(data=d, scenario=3, outcome_model="y_i ~ x_i",
                                           **{**COMMON, "y_B_col": None}),
}


@pytest.mark.parametrize("case", sorted(INVALID))
def test_invalid_arguments_raise_before_any_job(spark, pop, case):
    jobs, _, err = _run(spark, lambda: INVALID[case](pop))
    assert isinstance(err, ValueError), err
    assert jobs == 0


MEMBERS = {
    "regdi_c0": (3, lambda d: regdi(data=d, aux_vars=AUX1, **COMMON)),
    "regdi_c2": (3, lambda d: regdi(data=d, correction=2, **{**COMMON, "y_B_col": "tilde_y_i"})),
    "regdi_c3": (3, lambda d: regdi(data=d, aux_vars=AUX1, correction=3,
                                    outcome_model="y_i ~ x_i", **COMMON)),
    "pc_s1": (4, lambda d: pc_estimator(data=d, aux_vars=AUX2, scenario=1, **COMMON)),
    "pc_s2": (2, lambda d: pc_estimator(data=d, aux_vars=AUX2, scenario=2,
                                        outcome_model="y_i ~ tilde_y_i", **COMMON)),
    "pc_s3": (2, lambda d: pc_estimator(data=d, aux_vars=AUX2, scenario=3,
                                        outcome_model="y_i ~ x_i", **COMMON)),
}


@pytest.mark.parametrize("member", sorted(MEMBERS))
def test_jobs_per_call_and_no_cache_left(spark, pop, member):
    bound, call = MEMBERS[member]
    jobs, cached, err = _run(spark, lambda: call(pop))
    assert err is None, err
    assert 1 <= jobs <= bound
    assert cached == 0


@pytest.mark.parametrize("call", [
    lambda d: regdi(data=d, aux_vars=AUX1, **COMMON),
    lambda d: pc_estimator(data=d, aux_vars=AUX2, scenario=3, outcome_model="y_i ~ x_i",
                           **COMMON),
], ids=["regdi", "pc"])
def test_error_after_moment_pass_leaves_no_cache(spark, call):
    pop = make_population()
    pop["muestra_B"] = np.zeros_like(pop["muestra_B"])
    df = spark.createDataFrame(pd.DataFrame(pop))
    jobs, cached, err = _run(spark, lambda: call(df))
    assert isinstance(err, IntegrationError) and "no units in sample B" in str(err)
    assert jobs >= 1  # raised after the moment pass ran
    assert cached == 0
