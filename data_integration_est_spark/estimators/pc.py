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

from dataclasses import dataclass, field, replace
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
    q,
    spark_moments,
    svymean_blocks,
    svymean_from,
)
from data_integration_est_spark.estimators.regdi import (
    Combined,
    EmptySample,
    Plan,
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


@dataclass
class PCPlan(Plan):
    scenario: int = 1
    logistic: bool = False
    weighted_B: bool = False
    z: tuple[Lin, ...] = ()          # S_B's calibration columns
    zn: tuple[str, ...] = ()


@dataclass
class PCCal:
    """S_B's calibration in one population (or group): N, the B design
    weight scale (N/n_B, or 1 with ``weights_B``) and the GREG
    multipliers of the aux columns."""

    N_total: float
    b_scale: float
    lam: np.ndarray


def pc_plan(comb: Combined, weights_A: str | None, weights_B: str | None, scenario: int,
            model_type: str, outcome_model: str | None, eval_model_performance: bool,
            calibrate: bool = True, ols: bool = True, U: bool = True) -> PCPlan:
    """PC's columns and moment-pass blocks.  ``calibrate=False`` leaves out
    the calibration sums (a :class:`PCCal` given), ``ols=False`` the OLS
    Gram (a fit given), ``U=False`` scenario 3's population sums of the
    outcome design (their prediction sum given)."""
    cols = comb.base_columns(weights_A, weights_B)

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
    if calibrate and not comb.direct and comb.ind_A is None:
        raise ValueError("Horvitz-Thompson aux totals need the sample-A indicator")
    blocks = {}
    if comb.ind_A is not None:
        if comb.direct:
            blocks["A"] = Block(left=(ONE,), weight=gwA, mask=("iA",))
        else:
            zA = tuple(f"zA{j}" for j in range(len(comb.aux_A)))
            cols.update(zip(zA, map(as_double, comb.aux_A)))
            blocks["A"] = Block(left=(ONE,), right=(ONE, *map(Lin.of, zA)), weight=gwA,
                                mask=("iA",))
    if calibrate:
        blocks["tot"] = Block(left=(ONE,), right=z) if comb.direct else Block()
        # the B calibration Gram (``PC.R:216-237``), scaled on the driver
        # when d_i_B is the constant N/n_B
        blocks["calB"] = Block(left=(ONE, *z), weight=gwB, mask=("iB",))
    p = PCPlan(cols, blocks, comb.direct, weights_A is not None, scenario=scenario,
               logistic=model_type == "logistic", weighted_B=weights_B is not None,
               z=z, zn=zn)
    if scenario == 1:
        return p
    p.o, p.pnames, p.resp, p.predictors = _outcome_model(outcome_model, comb, cols)
    cols["iAB"] = f"({cols['iA']}) AND ({cols['iB']})"
    if p.logistic:
        return p
    o, pnames, resp = p.o, p.pnames, p.resp
    if ols:
        blocks["ols"] = Block(left=(*o, Lin.of(resp)), need=(resp,) + pnames,
                              mask=("iAB",) if scenario == 2 else ("iA",))
    if scenario == 2:
        # term1 = sum_B w_cal_B*yhat ; term2 = sum_A d_A*(y_A - yhat)
        blocks["t1"] = Block(left=(ONE, *z), right=o, weight=gwB,
                             need=wBneed + zn + pnames, mask=("iB",))
        blocks["t2"] = Block(left=(ONE,), right=(Lin.of("yA"), *o), weight=gwA,
                             need=wAneed + ("yA",) + pnames, mask=("iA",))
        return p
    # term1 = sum_B w_cal_B*(y_B - yhat) — the reference's d_i_B holds the
    # calibrated weights at this point (``PC.R:233``), zero off B
    blocks["t1"] = Block(left=(ONE, *z), right=(Lin.of("yB"), *o), weight=gwB,
                         need=wBneed + zn + ("yB",) + pnames, mask=("iB",))
    if U:
        blocks["U"] = Block(left=(ONE,), right=o, need=pnames)
    if eval_model_performance:
        blocks.update(_quality_blocks(o, pnames))
    return p


def _quality_blocks(o, pnames) -> dict[str, Block]:
    """Sample A's residual and outcome moments for ``model_quality``."""
    yA = Lin.of("yA")
    return {"res": Block(left=(yA, *o), need=("yA",) + pnames, mask=("iA",)),
            "yv": Block(left=(ONE, yA), need=("yA",), mask=("iA",))}


def pc_calibrate(p: PCPlan, m: dict[str, Moments], N_total=None) -> PCCal:
    """The driver-side B calibration after the moment pass: N (``PC.R:149-171``)
    and the GREG multipliers of the aux columns."""
    size_B = m["calB"].n
    if size_B == 0:
        raise EmptySample("no units in sample B")
    N_total = _n_total(N_total, p.direct, m["tot"].n, m["A"].S[0, 0] if "A" in m else 0.0)
    b_scale = 1.0 if p.weighted_B else N_total / size_B
    lam = np.zeros(len(p.z))
    if p.z:
        if p.direct:
            T_b = m["tot"].S[0]
        else:
            T_b = pc_a_scale(p, N_total, m["A"].n) * m["A"].S[0, 1:]
        Gb = b_scale * m["calB"].S
        lam = _solve_stacked(Gb[None, 1:, 1:], (T_b - Gb[0, 1:])[None, :, None],
                             "calibrate").ravel()
    return PCCal(N_total, b_scale, lam)


def pc_a_scale(p: PCPlan, N_total: float, size_A: int) -> float:
    """The A design weight: 1 with ``weights_A`` (the weights are a
    column), else the constant N/n_A."""
    return 1.0 if p.weighted else N_total / size_A


def _design(p: PCPlan, cal: PCCal, a_scale: float | None):
    """(d_A, d_B, g_B): the A and B design weights and the B calibration
    factor 1 + z'lam, as Lins (d_A None without an A scale)."""
    dA = (Lin.of("wA"),) if p.weighted else None if a_scale is None else (Lin(a_scale),)
    dB = (Lin.of("wB"),) if p.weighted_B else (Lin(cal.b_scale),)
    return dA, dB, Lin.comb(cal.lam, p.z, const=1.0)


def pc_s1_blocks(p: PCPlan, cal: PCCal) -> dict[str, Block]:
    """Scenario 1's calibrated svymean of y_B over S_B (``PC.R:240-253``)."""
    _, dB, gB = _design(p, cal, None)
    need = ("yB",) + (("wB",) if p.weighted_B else ()) + p.zn
    return svymean_blocks(Lin.of("yB"), p.z, dB, gB, need)


def pc_normal(p: PCPlan, cal: PCCal, m: dict[str, Moments], beta: np.ndarray,
              a_scale: float | None, size_A: int, sum_pred: float | None = None):
    """(estimate, rmse, r2) of scenarios 2/3 with a normal model: with
    yhat = o'beta linear in the design o, every term is a quadratic form
    in the moment pass's sums.  ``sum_pred``: Σ_U yhat, when the pass left
    out the U sums."""
    lam1 = np.concatenate(([1.0], cal.lam))
    if p.scenario == 2:
        t1 = cal.b_scale * float(lam1 @ m["t1"].S @ beta)
        t2 = a_scale * float(m["t2"].S[0] @ np.concatenate(([1.0], -beta)))
        return (t1 + t2) / cal.N_total, None, None
    c = np.concatenate(([1.0], -beta))  # y - yhat = [y, o]·c
    t1 = cal.b_scale * float(lam1 @ m["t1"].S @ c)
    if sum_pred is None:
        sum_pred = float(m["U"].S[0] @ beta)
    rmse = r2 = None
    if "res" in m:
        rmse, r2 = model_quality(float(c @ m["res"].S @ c), m["res"].n, m["yv"], size_A)
    return (t1 + sum_pred) / cal.N_total, rmse, r2


def pc_logistic_blocks(p: PCPlan, cal: PCCal, beta: np.ndarray, a_scale: float | None,
                       eval_model_performance: bool) -> dict[str, Block]:
    """Scenarios 2/3 with a logistic model: the sums over its predictions
    (one aggregate over the combined table)."""
    dA, dB, gB = _design(p, cal, a_scale)
    pred = replace(Lin.comb(beta, p.o), logit=True)
    yA, need = Lin.of("yA"), p.pnames
    if p.scenario == 2:
        return {"t1": Block(left=(ONE,), right=(pred,), weight=dB + (gB,), mask=("iB",)),
                "t2": Block(left=(ONE,), right=(yA, pred), weight=dA, need=("yA",) + need,
                            mask=("iA",))}
    blocks = {"t1": Block(left=(ONE,), right=(Lin.of("yB"), pred), weight=dB + (gB,),
                          need=("yB",) + need, mask=("iB",)),
              "U": Block(left=(ONE,), right=(pred,), need=need)}
    if eval_model_performance:
        blocks.update(_quality_blocks((pred,), need))
    return blocks


def pc_logistic_finish(p: PCPlan, cal: PCCal, r: dict[str, Moments], size_A: int):
    """(estimate, rmse, r2) from :func:`pc_logistic_blocks`' sums."""
    t1, diff = r["t1"].S[0], np.array([1.0, -1.0])
    if p.scenario == 2:
        t2 = r["t2"].S[0]
        return (t1[0] + t2[0] - t2[1]) / cal.N_total, None, None
    rmse = r2 = None
    if "res" in r:
        rmse, r2 = model_quality(float(diff @ r["res"].S @ diff), r["res"].n, r["yv"], size_A)
    return (t1[0] - t1[1] + r["U"].S[0, 0]) / cal.N_total, rmse, r2


def fit_logistic_on(df: DataFrame, p: PCPlan, group_cols: list[str] | None = None):
    """The Spark IRLS fit of the outcome model on A∩B (scenario 2) or A."""
    fit_df = df.where(p.cols["iAB" if p.scenario == 2 else "iA"]).selectExpr(
        *[q(c) for c in group_cols or ()],
        f"{p.cols[p.resp]} AS __y__", *[f"{p.cols[n]} AS __{n}__" for n in p.pnames],
    )
    return fit_logistic(fit_df, y_col="__y__", x_cols=[f"__{n}__" for n in p.pnames],
                        intercept=len(p.o) > len(p.pnames), group_cols=group_cols)


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
    _check_n_total(N_total, comb, weights_A)
    p = pc_plan(comb, weights_A, weights_B, scenario, model_type, outcome_model,
                eval_model_performance)
    cols = p.cols
    m = spark_moments(comb.df, cols, p.blocks)

    size_A = m["A"].n
    _check_sizes(size_A, m["calB"].n)
    cal = pc_calibrate(p, m, N_total)
    a_scale = pc_a_scale(p, cal.N_total, size_A)
    dA, dB, gB = _design(p, cal, a_scale)
    out = dict(weight_col="w_cal_B", rows=lambda: comb.df.where(cols["iB"]).withColumns({
        "d_i_A": F.expr(f"CASE WHEN {cols['iA']} THEN {dA[0].sql(cols)} ELSE 0.0D END"),
        "d_i_B": F.expr(dB[0].sql(cols)),
        "w_cal_B": F.expr(f"{dB[0].sql(cols)} * {gB.sql(cols)}"),
    }))

    if scenario == 1:
        est, var = svymean_from(spark_moments(comb.df.where(cols["iB"]), cols,
                                              pc_s1_blocks(p, cal)))
        return PCResult(estimate=est, se=float(np.sqrt(var)), **out)

    try:
        fit = fit_logistic_on(comb.df, p) if p.logistic else None
        beta = ols_from(m["ols"], len(p.o)) if fit is None else fit.coef_for(())
    except CalibrationError as e:
        if scenario == 2:
            raise IntegrationError(
                f"cannot fit the prediction model on the S_A ∩ S_B intersection: {e}") from e
        raise
    if fit is None:
        est, rmse, r2 = pc_normal(p, cal, m, beta, a_scale, size_A)
    else:
        r = spark_moments(comb.df, cols,
                          pc_logistic_blocks(p, cal, beta, a_scale, eval_model_performance))
        est, rmse, r2 = pc_logistic_finish(p, cal, r, size_A)
    return PCResult(estimate=float(est), model_coef=beta, rmse=rmse, r2=r2,
                    model_converged=True if fit is None else fit.converged, **out)
