"""PC — pseudo-calibration estimator (Golini & Righi 2024).

Spark-first re-implementation of the reference's ``PC_Estimator()``
(``PC.R:47-358``).  The big-data sample S_B gets pseudo-design weights
calibrated to population auxiliary totals (known, or HT-estimated from the
probability sample S_A); three scenarios then produce the estimate:

  1  y observed in S_B: calibrated weighted mean of y_B + SE
     (``PC.R:240-253``)
  2  y NOT observed in S_B: fit prediction model on the A∩B overlap,
     Yhat = (sum_B d_B*yhat + sum_A d_A*(y_A - yhat)) / N   (``PC.R:255-297``)
  3  NMAR / DR1: fit model on A,
     Yhat = (sum_B d_B*(y_B - yhat) + sum_U yhat) / N       (``PC.R:299-354``)

Model types: ``"normal"`` (OLS) or ``"logistic"`` (IRLS GLM), with the
reference's dynamic formula re-resolution against join suffixes
(``construir_formula_dinamica``, ``PC.R:1-39``) via ``Formula.resolve``; a
predictor carried by both samples reads ``coalesce(p_A, p_B)``.

Execution profile per call (direct mode), nothing persisted:
  ONE moment pass over the combined table: sample sizes, the aux
  population totals (direct sums, or the masked HT sums from S_A), and the
  B-masked calibration Gram.  Scenario 1 then runs one svymean aggregate
  over S_B (4 Spark jobs; S_B is the big sample and is never collected).
  Scenarios 2 and 3 with a normal model need no second pass: yhat = o'beta
  is linear in the design o = [1, predictors], so the OLS Gram on A (or
  A∩B), the B cross moments Σ_B d_B [1,z]⊗[y,o] and Σ_U o ride the same
  pass (2 jobs).  A logistic model keeps the Spark IRLS fit and one
  aggregate over its predictions.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_est_spark.integrate import IntegrationError
from data_integration_est_spark.kernels.linalg import CalibrationError, _solve_stacked, fit_logistic
from data_integration_est_spark.estimators.moments import (
    ONE,
    Block,
    Lin,
    Moments,
    as_double,
    model_quality,
    ols_from,
    spark_moments,
    svymean_blocks,
    svymean_from,
)
from data_integration_est_spark.estimators.regdi import (
    _check_n_total,
    _check_sizes,
    _n_total,
    _outcome_model,
    _prepare,
)


@dataclass
class PCResult:
    estimate: float
    se: float | None = None
    model_coef: np.ndarray | None = None
    rmse: float | None = None
    r2: float | None = None
    weight_col: str | None = None  # calibrated B weights
    # IRLS convergence of the outcome model (scenarios 2/3); None when no
    # model is fit (scenario 1) — mirrors R glm's $converged.
    model_converged: bool | None = None
    rows: Callable[[], DataFrame] | None = field(default=None, repr=False, compare=False)

    @property
    def df(self) -> DataFrame | None:
        """S_B rows with ``d_i_A`` / ``d_i_B`` / ``w_cal_B`` columns: a lazy
        plan, built on access."""
        return None if self.rows is None else self.rows()


def pc_estimator(
    data: DataFrame | None = None,
    data_A: DataFrame | None = None,
    data_B: DataFrame | None = None,
    id_var_A: str | None = None,
    id_var_B: str | None = None,
    ind_var_A: str | None = None,
    ind_var_B: str | None = None,
    y_A_col: str | None = None,
    y_B_col: str | None = None,
    aux_vars: list[str] | None = None,
    N_total: float | None = None,
    weights_A: str | None = None,
    weights_B: str | None = None,
    outcome_model: str | None = None,
    model_type: str = "normal",
    scenario: int = 1,
    eval_model_performance: bool = False,
) -> PCResult:
    if scenario not in (1, 2, 3):
        raise ValueError(f"invalid scenario {scenario!r}: must be 1, 2 or 3")
    if model_type not in ("normal", "logistic"):
        raise ValueError("model_type must be 'normal' or 'logistic'")
    if scenario in (2, 3) and outcome_model is None:
        raise ValueError("must provide 'outcome_model' for the prediction model")
    if scenario in (1, 3) and y_B_col is None:
        raise ValueError(f"for scenario {scenario}, 'y_B_col' cannot be None")
    comb = _prepare(
        data, data_A, data_B, id_var_A, id_var_B, ind_var_A, ind_var_B,
        # scenario 2 allows y_B_col=None conceptually, but the join/indicator
        # derivation needs B's observation marker; the reference requires the
        # same (ind derivation reads y_B_col, ``PC.R:95-109``).
        y_A_col or "", y_B_col or y_A_col or "", aux_vars,
    )
    cols = comb.base_columns(weights_A, weights_B)
    _check_n_total(N_total, comb, weights_A)

    # calibration columns z of S_B, and the population totals they are
    # calibrated to (``PC.R:180-199``): direct sums over the full table, or
    # HT sums over sample A — the reference calibrates on aux_vars_B with
    # totals estimated on aux_vars_A; we reproduce exactly that pairing.
    zn = tuple(f"z{j}" for j in range(len(comb.aux_B)))
    cols.update(zip(zn, map(as_double, comb.aux_B)))
    z = tuple(map(Lin.of, zn))
    gwA = (Lin.of("wA"),) if weights_A is not None else ()
    gwB = (Lin.of("wB"),) if weights_B is not None else ()
    wAneed = ("wA",) if weights_A is not None else ()
    wBneed = ("wB",) if weights_B is not None else ()
    if comb.direct:
        blocks = {"tot": Block(left=(ONE,), right=z), "A": Block(left=(ONE,), weight=gwA, mask=("iA",))}
    else:
        zA = tuple(f"zA{j}" for j in range(len(comb.aux_A)))
        cols.update(zip(zA, map(as_double, comb.aux_A)))
        blocks = {"tot": Block(),
                  "A": Block(left=(ONE,), right=(ONE, *map(Lin.of, zA)), weight=gwA, mask=("iA",))}
    # the B calibration Gram (``PC.R:216-237``), scaled on the driver when
    # d_i_B is the constant N/n_B
    blocks["calB"] = Block(left=(ONE, *z), weight=gwB, mask=("iB",))

    normal = scenario in (2, 3) and model_type == "normal"
    if scenario in (2, 3):
        o, pnames, resp = _outcome_model(outcome_model, comb, cols)
        cols["iAB"] = f"({cols['iA']}) AND ({cols['iB']})"
    if normal:
        yB = Lin.of("yB")
        blocks["ols"] = Block(left=(*o, Lin.of(resp)), need=(resp,) + pnames,
                              mask=("iAB",) if scenario == 2 else ("iA",))
        if scenario == 2:
            # term1 = sum_B w_cal_B*yhat ; term2 = sum_A d_A*(y_A - yhat)
            blocks["t1"] = Block(left=(ONE, *z), right=o, weight=gwB,
                                 need=wBneed + zn + pnames, mask=("iB",))
            blocks["t2"] = Block(left=(ONE,), right=(Lin.of("yA"), *o), weight=gwA,
                                 need=wAneed + ("yA",) + pnames, mask=("iA",))
        else:
            # term1 = sum_B w_cal_B*(y_B - yhat) — the reference's d_i_B holds
            # the calibrated weights at this point (``PC.R:233``), zero off B
            blocks["t1"] = Block(left=(ONE, *z), right=(yB, *o), weight=gwB,
                                 need=wBneed + zn + ("yB",) + pnames, mask=("iB",))
            blocks["U"] = Block(left=(ONE,), right=o, need=pnames)
            if eval_model_performance:
                blocks["res"] = Block(left=(Lin.of("yA"), *o), need=("yA",) + pnames, mask=("iA",))
                blocks["yv"] = Block(left=(ONE, Lin.of("yA")), need=("yA",), mask=("iA",))
    m = spark_moments(comb.df, cols, blocks)

    size_A, size_B = m["A"].n, m["calB"].n
    _check_sizes(size_A, size_B)
    N_total = _n_total(N_total, comb, m["tot"].n, m["A"].S[0, 0])

    # design weights (``PC.R:149-171``) and the driver-side B calibration
    a_scale = 1.0 if weights_A is not None else N_total / size_A
    b_scale = 1.0 if weights_B is not None else N_total / size_B
    dA = gwA or (Lin(a_scale),)
    dB = gwB or (Lin(b_scale),)
    lam = np.zeros(len(z))
    if z:
        T_b = m["tot"].S[0] if comb.direct else a_scale * m["A"].S[0, 1:]
        Gb = b_scale * m["calB"].S
        lam = _solve_stacked(Gb[None, 1:, 1:], (T_b - Gb[0, 1:])[None, :, None],
                             "calibrate").ravel()
    gB = Lin.comb(lam, z, const=1.0)
    out = dict(weight_col="w_cal_B", rows=lambda: comb.df.where(cols["iB"]).withColumns({
        "d_i_A": F.expr(f"CASE WHEN {cols['iA']} THEN {dA[0].sql(cols)} ELSE 0.0D END"),
        "d_i_B": F.expr(dB[0].sql(cols)),
        "w_cal_B": F.expr(f"{dB[0].sql(cols)} * {gB.sql(cols)}"),
    }))

    if scenario == 1:
        need = ("yB",) + wBneed + zn
        blocks = svymean_blocks(Lin.of("yB"), z, dB, gB, need)
        est, var = svymean_from(spark_moments(comb.df.where(cols["iB"]), cols, blocks))
        return PCResult(estimate=est, se=float(np.sqrt(var)), **out)

    if normal:
        try:
            beta = ols_from(m["ols"], len(o))
        except CalibrationError as e:
            if scenario == 2:
                raise _intersection_fit_error(e) from e
            raise
        lam1 = np.concatenate(([1.0], lam))
        if scenario == 2:
            t1 = b_scale * float(lam1 @ m["t1"].S @ beta)
            t2 = a_scale * float(m["t2"].S[0] @ np.concatenate(([1.0], -beta)))
            return PCResult(estimate=(t1 + t2) / N_total, model_coef=beta,
                            model_converged=True, **out)
        c = np.concatenate(([1.0], -beta))  # y - yhat = [y, o]·c
        t1 = b_scale * float(lam1 @ m["t1"].S @ c)
        est = (t1 + float(m["U"].S[0] @ beta)) / N_total
        rmse = r2 = None
        if eval_model_performance:
            rmse, r2 = model_quality(float(c @ m["res"].S @ c), m["res"].n, m["yv"], size_A)
        return PCResult(estimate=est, model_coef=beta, rmse=rmse, r2=r2,
                        model_converged=True, **out)

    return _logistic(comb, cols, scenario, o, pnames, resp, dA, dB, gB, N_total, size_A,
                     eval_model_performance, out)


def _intersection_fit_error(e: CalibrationError) -> IntegrationError:
    return IntegrationError(f"cannot fit the prediction model on the S_A ∩ S_B intersection: {e}")


def _logistic(comb, cols, scenario, o, pnames, resp, dA, dB, gB, N_total, size_A,
              eval_model_performance, out) -> PCResult:
    """Scenarios 2/3 with a logistic outcome model: the Spark IRLS fit on
    A∩B (scenario 2) or A, then ONE aggregate over its predictions."""
    fit_df = comb.df.where(cols["iAB" if scenario == 2 else "iA"]).selectExpr(
        f"{cols[resp]} AS __y__", *[f"{cols[p]} AS __{p}__" for p in pnames]
    )
    try:
        fit = fit_logistic(fit_df, y_col="__y__", x_cols=[f"__{p}__" for p in pnames],
                           intercept=len(o) > len(pnames))
    except CalibrationError as e:
        if scenario == 2:
            raise _intersection_fit_error(e) from e
        raise
    beta = fit.coef_for(())
    eta = Lin.comb(beta, o).sql(cols)
    pred = f"(1.0D / (1.0D + exp(-{eta})))"
    iA, iB, yA, yB = cols["iA"], cols["iB"], cols["yA"], cols["yB"]
    wB = f"{dB[0].sql(cols)} * {gB.sql(cols)}"
    if scenario == 2:
        aggs = [f"sum(CASE WHEN {iB} THEN {wB} * {pred} END)",
                f"sum(CASE WHEN {iA} THEN {dA[0].sql(cols)} * ({yA} - {pred}) END)"]
    else:
        res2 = f"CASE WHEN {iA} THEN pow({yA} - {pred}, 2) END"
        aggs = [f"sum(CASE WHEN {iB} THEN {wB} * ({yB} - {pred}) END)", f"sum({pred})",
                f"sum({res2})", f"count({res2})",
                f"count(CASE WHEN {iA} THEN {yA} END)",
                f"sum(CASE WHEN {iA} THEN {yA} END)",
                f"sum(CASE WHEN {iA} THEN {yA} * {yA} END)"]
    r = [0.0 if v is None else v for v in comb.df.selectExpr(*aggs).collect()[0]]
    est = (r[0] + r[1]) / N_total
    rmse = r2 = None
    if scenario == 3 and eval_model_performance:
        yv = Moments(int(r[4]), np.array([[r[4], r[5]], [r[5], r[6]]], dtype=float))
        rmse, r2 = model_quality(r[2], int(r[3]), yv, size_A)
    return PCResult(estimate=float(est), model_coef=beta, rmse=rmse, r2=r2,
                    model_converged=fit.converged, **out)
