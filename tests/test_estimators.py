import inspect

import numpy as np
import pandas as pd
import pytest

from data_integration_est_spark import pc_estimator, regdi
from data_integration_est_spark.estimators import moments
from data_integration_est_spark.integrate import IntegrationError

import oracle_np


def make_population(n=2000, seed=3):
    """Deterministic numpy fixture population (FIXTURES.md F1 shape)."""
    rng = np.random.default_rng(seed)
    x = rng.normal(2, 1, n)
    y = 3 + 0.7 * (x - 2) + rng.normal(0, np.sqrt(0.51), n)
    tilde_y = 2 + 0.9 * (y - 3) + rng.normal(0, 0.5, n)
    e = 0.5 * x + np.sqrt(0.75) * rng.normal(0, 1, n)
    pop = {
        "id": np.arange(1, n + 1),
        "x_i": x,
        "y_i": y,
        "tilde_y_i": tilde_y,
        "e_i": e,
        "e1_i": (e <= 1).astype(int),
        "e2_i": (e > 1).astype(int),
        "x1_i": (x <= 2).astype(int),
        "x2_i": (x > 2).astype(int),
        "muestra_A": np.zeros(n, dtype=int),
        "muestra_B": np.zeros(n, dtype=int),
    }
    idx_a = rng.choice(n, 150, replace=False)
    pop["muestra_A"][idx_a] = 1
    # biased B: more likely when y large
    pb = 1 / (1 + np.exp(-(y - 3)))
    pop["muestra_B"][rng.uniform(size=n) < pb * 0.6] = 1
    return pop


@pytest.fixture(scope="module")
def pop_df(spark):
    pop = make_population()
    return spark.createDataFrame(pd.DataFrame(pop)), pop


COMMON = dict(y_A_col="y_i", y_B_col="y_i", ind_var_A="muestra_A", ind_var_B="muestra_B")


def test_regdi_correction0(pop_df):
    df, pop = pop_df
    res = regdi(data=df, **COMMON)
    exp = oracle_np.regdi_np(pop, "y_i", "y_i", "muestra_A", "muestra_B")
    np.testing.assert_allclose(res.mean, exp["mean"], rtol=1e-9)
    np.testing.assert_allclose(res.variance, exp["var"], rtol=1e-8)


def test_regdi_correction0_with_aux(pop_df):
    df, pop = pop_df
    res = regdi(data=df, aux_vars=["x1_i"], **COMMON)
    exp = oracle_np.regdi_np(pop, "y_i", "y_i", "muestra_A", "muestra_B", aux_vars=["x1_i"])
    np.testing.assert_allclose(res.mean, exp["mean"], rtol=1e-9)
    np.testing.assert_allclose(res.variance, exp["var"], rtol=1e-8)


def test_regdi_correction2(pop_df):
    df, pop = pop_df
    res = regdi(data=df, y_A_col="y_i", y_B_col="tilde_y_i",
                ind_var_A="muestra_A", ind_var_B="muestra_B", correction=2)
    exp = oracle_np.regdi_np(pop, "y_i", "tilde_y_i", "muestra_A", "muestra_B", correction=2)
    np.testing.assert_allclose(res.mean, exp["mean"], rtol=1e-9)
    np.testing.assert_allclose(res.variance, exp["var"], rtol=1e-8)


def test_regdi_correction3(pop_df):
    df, pop = pop_df
    res = regdi(data=df, aux_vars=["x1_i"], outcome_model="y_i ~ x1_i",
                correction=3, eval_model_performance=True, **COMMON)
    exp = oracle_np.regdi_np(pop, "y_i", "y_i", "muestra_A", "muestra_B",
                             aux_vars=["x1_i"], correction=3, outcome_model_cols=["x1_i"])
    np.testing.assert_allclose(res.mean, exp["mean"], rtol=1e-9)
    np.testing.assert_allclose(res.variance, exp["var"], rtol=1e-8)
    assert res.rmse is not None and res.r2 is not None and 0 < res.r2 < 1


def test_pc_scenario1(pop_df):
    df, pop = pop_df
    res = pc_estimator(data=df, aux_vars=["x1_i", "x2_i"], scenario=1, **COMMON)
    exp = oracle_np.pc_np(pop, "y_i", "y_i", "muestra_A", "muestra_B",
                          aux_vars=["x1_i", "x2_i"], scenario=1)
    np.testing.assert_allclose(res.estimate, exp["estimate"], rtol=1e-9)
    np.testing.assert_allclose(res.se, exp["se"], rtol=1e-8)


def test_pc_scenario2(pop_df):
    df, pop = pop_df
    res = pc_estimator(data=df, aux_vars=["x1_i", "x2_i"], scenario=2,
                       outcome_model="y_i ~ tilde_y_i", **COMMON)
    exp = oracle_np.pc_np(pop, "y_i", "y_i", "muestra_A", "muestra_B",
                          aux_vars=["x1_i", "x2_i"], scenario=2,
                          outcome_model_cols=["tilde_y_i"])
    np.testing.assert_allclose(res.estimate, exp["estimate"], rtol=1e-9)


def test_pc_scenario3_dr1(pop_df):
    df, pop = pop_df
    res = pc_estimator(data=df, aux_vars=["x1_i", "x2_i"], scenario=3,
                       outcome_model="y_i ~ x_i", eval_model_performance=True, **COMMON)
    exp = oracle_np.pc_np(pop, "y_i", "y_i", "muestra_A", "muestra_B",
                          aux_vars=["x1_i", "x2_i"], scenario=3,
                          outcome_model_cols=["x_i"])
    np.testing.assert_allclose(res.estimate, exp["estimate"], rtol=1e-9)
    assert res.rmse is not None and res.r2 is not None


def test_pc_scenario3_logistic(spark):
    # binary outcome => logistic prediction model
    rng = np.random.default_rng(5)
    n = 1500
    x = rng.normal(0, 1, n)
    p = 1 / (1 + np.exp(-(0.3 + 0.9 * x)))
    y = (rng.uniform(size=n) < p).astype(float)
    pop = {
        "id": np.arange(n), "x_i": x, "y_i": y,
        "muestra_A": (rng.uniform(size=n) < 0.15).astype(int),
        "muestra_B": (rng.uniform(size=n) < 0.4).astype(int),
    }
    df = spark.createDataFrame(pd.DataFrame(pop))
    res = pc_estimator(data=df, scenario=3, outcome_model="y_i ~ x_i",
                       model_type="logistic", **COMMON)
    exp = oracle_np.pc_np(pop, "y_i", "y_i", "muestra_A", "muestra_B", scenario=3,
                          outcome_model_cols=["x_i"], model_type="logistic")
    np.testing.assert_allclose(res.estimate, exp["estimate"], rtol=1e-7)


def test_two_table_mode_same_name(spark):
    """J1 path: full-outer join + indicator derivation, same outcome name."""
    pop = make_population(n=1200, seed=9)
    pdf = pd.DataFrame(pop)
    nA = int(pop["muestra_A"].sum())
    N = len(pdf)
    data_A = pdf[pdf.muestra_A == 1][["id", "x_i", "x1_i", "x2_i", "y_i"]].copy()
    data_A["d_i_A"] = N / nA
    data_B = pdf[pdf.muestra_B == 1][["id", "x_i", "x1_i", "x2_i", "y_i"]]
    res = regdi(
        data_A=spark.createDataFrame(data_A), data_B=spark.createDataFrame(data_B),
        id_var_A="id", id_var_B="id", y_A_col="y_i", y_B_col="y_i",
        weights_A="d_i_A", correction=1,
    )
    # oracle: direct-mode with the same N (sum of weights = N) — identical math
    exp = oracle_np.regdi_np(pop, "y_i", "y_i", "muestra_A", "muestra_B", N_total=N)
    np.testing.assert_allclose(res.mean, exp["mean"], rtol=1e-9)
    np.testing.assert_allclose(res.variance, exp["var"], rtol=1e-8)


def test_two_table_mode_different_names_fixed_bug(spark):
    """nb[10]:55 documented reference bug: y_A_col != y_B_col but y_A_col
    also exists in data_B.  The engine resolves side-specific columns."""
    pop = make_population(n=1200, seed=13)
    pdf = pd.DataFrame(pop)
    nA = int(pop["muestra_A"].sum())
    N = len(pdf)
    data_A = pdf[pdf.muestra_A == 1][["id", "y_i"]].copy()
    data_A["d_i_A"] = N / nA
    # B carries BOTH y_i and tilde_y_i; outcome in B is tilde_y_i
    data_B = pdf[pdf.muestra_B == 1][["id", "y_i", "tilde_y_i"]]
    res = regdi(
        data_A=spark.createDataFrame(data_A), data_B=spark.createDataFrame(data_B),
        id_var_A="id", id_var_B="id", y_A_col="y_i", y_B_col="tilde_y_i",
        weights_A="d_i_A", correction=1,
    )
    exp = oracle_np.regdi_np(pop, "y_i", "tilde_y_i", "muestra_A", "muestra_B", N_total=N)
    np.testing.assert_allclose(res.mean, exp["mean"], rtol=1e-9)


def test_validation_errors(spark, pop_df):
    df, _ = pop_df
    with pytest.raises(IntegrationError):
        regdi(data=None, data_A=df, data_B=None, y_A_col="y_i", y_B_col="y_i")
    with pytest.raises(IntegrationError):
        regdi(data=df, y_A_col="nope", y_B_col="y_i",
              ind_var_A="muestra_A", ind_var_B="muestra_B")


def test_two_table_doubly_robust(spark):
    """DR members in two-table mode: the outcome model's predictor exists as
    x_i_A and x_i_B after the join, and must read coalesce(x_i_A, x_i_B) so
    B-only rows get a prediction.  The oracle runs on the joined table's
    rows (A ∪ B), with N the A weights' total, so every sum ranges over the
    same units."""
    pop = make_population(n=1200, seed=9)
    pdf = pd.DataFrame(pop)
    joined = pdf[(pdf.muestra_A == 1) | (pdf.muestra_B == 1)]
    N = len(joined)
    nA = int(pop["muestra_A"].sum())
    data_A = pdf[pdf.muestra_A == 1][["id", "x_i", "x1_i", "y_i"]].copy()
    data_A["d_i_A"] = N / nA
    data_B = pdf[pdf.muestra_B == 1][["id", "x_i", "x1_i", "y_i"]]
    tables = dict(
        data_A=spark.createDataFrame(data_A), data_B=spark.createDataFrame(data_B),
        id_var_A="id", id_var_B="id", y_A_col="y_i", y_B_col="y_i", weights_A="d_i_A",
        outcome_model="y_i ~ x_i",
    )
    arr = {c: joined[c].to_numpy() for c in joined.columns}

    res = regdi(aux_vars=["x1_i"], correction=3, **tables)
    exp = oracle_np.regdi_np(arr, "y_i", "y_i", "muestra_A", "muestra_B", aux_vars=["x1_i"],
                             N_total=N, correction=3, outcome_model_cols=["x_i"])
    np.testing.assert_allclose(res.mean, exp["mean"], rtol=1e-9)
    np.testing.assert_allclose(res.variance, exp["var"], rtol=1e-8)

    res = pc_estimator(scenario=3, **tables)
    exp = oracle_np.pc_np(arr, "y_i", "y_i", "muestra_A", "muestra_B", N_total=N,
                          scenario=3, outcome_model_cols=["x_i"])
    np.testing.assert_allclose(res.estimate, exp["estimate"], rtol=1e-9)


# The RegDI oracle cases again, with the sample-A sums taken by a Spark
# aggregate instead of the Arrow collect (the path of samples over the row
# budget).
SPARK_PATH_CASES = {
    "c0": test_regdi_correction0,
    "c0_aux": test_regdi_correction0_with_aux,
    "c2": test_regdi_correction2,
    "c3": test_regdi_correction3,
    "two_table_weights": test_two_table_mode_same_name,
}


@pytest.fixture
def spark_sample_path(monkeypatch):
    """Force the Spark-aggregate path for sample A; returns the block keys
    of each sample aggregate that ran."""
    calls = []
    real = moments.spark_moments

    def spy(frame, cols, blocks):
        calls.append(sorted(blocks))
        return real(frame, cols, blocks)

    monkeypatch.setattr(moments, "ROW_BUDGET", 0)
    monkeypatch.setattr(moments, "spark_moments", spy)
    return calls


@pytest.mark.parametrize("case", sorted(SPARK_PATH_CASES))
def test_regdi_oracle_through_spark_sample_path(case, spark_sample_path, request):
    fn = SPARK_PATH_CASES[case]
    fn(*[request.getfixturevalue(a) for a in inspect.signature(fn).parameters])
    assert len(spark_sample_path) == 1  # the sample-A sums ran as one aggregate


# Values the estimators returned before the moment-pass rewrite, on
# make_population() with y_i set null on unit 91 (in A and B) and unit 3
# (B only).  They pin the complete-case handling: svymean and the OLS fit
# drop incomplete rows, the calibration sums skip null terms one by one.
NULL_Y_IDS = (91, 3)
NULL_Y_EXPECTED = {
    "c0": (3.0613960845832477, 0.0033370397573944306),
    "c3": (3.025691475374674, 0.6055395749282062, 0.7052960281903881, 0.4226500389614888),
    "s1": (3.334302537226369, 0.03131847301058592),
    "s3": (3.2734414978842166, 0.7052960281903881, 0.4226500389614888),
}


@pytest.mark.parametrize("budget", ["default", "zero"])
def test_null_outcomes_match_recorded_values(pop_df, budget, monkeypatch):
    from pyspark.sql import functions as F

    if budget == "zero":
        monkeypatch.setattr(moments, "ROW_BUDGET", 0)
    df, pop = pop_df
    a, b = (pop["id"] == NULL_Y_IDS[0]), (pop["id"] == NULL_Y_IDS[1])
    assert pop["muestra_A"][a][0] == 1 and pop["muestra_B"][a][0] == 1
    assert pop["muestra_A"][b][0] == 0 and pop["muestra_B"][b][0] == 1
    df = df.withColumn(
        "y_i", F.when(F.col("id").isin(*NULL_Y_IDS), F.lit(None)).otherwise(F.col("y_i"))
    )
    r = regdi(data=df, aux_vars=["x1_i"], **COMMON)
    got = {"c0": (r.mean, r.variance)}
    r = regdi(data=df, aux_vars=["x1_i"], correction=3, outcome_model="y_i ~ x_i",
              eval_model_performance=True, **COMMON)
    got["c3"] = (r.mean, r.variance, r.rmse, r.r2)
    r = pc_estimator(data=df, aux_vars=["x1_i", "x2_i"], scenario=1, **COMMON)
    got["s1"] = (r.estimate, r.se)
    r = pc_estimator(data=df, aux_vars=["x1_i", "x2_i"], scenario=3,
                     outcome_model="y_i ~ x_i", eval_model_performance=True, **COMMON)
    got["s3"] = (r.estimate, r.rmse, r.r2)
    for member, want in NULL_Y_EXPECTED.items():
        np.testing.assert_allclose(got[member], want, rtol=1e-9, err_msg=member)


def test_sql_literals_parse_back_exactly(spark):
    """Solved multipliers reach Spark as DOUBLE literals in SQL text; every
    repr() form (exponents, negatives, non-finite) must parse to the same
    float."""
    vals = [0.1, -2.5, 1e16, 1.5e-05, -3.0000000000000004e-200, 123456789.123, 0.0,
            float("inf"), float("-inf")]
    row = spark.range(1).selectExpr(*[f"{moments.lit(v)} AS v{i}" for i, v in enumerate(vals)])
    assert list(row.collect()[0]) == vals
    nan = spark.range(1).selectExpr(f"{moments.lit(float('nan'))} AS v").collect()[0][0]
    assert np.isnan(nan)
