"""RegDI — calibration-based data integration estimator (Kim & Tam 2021).

Spark-first re-implementation of the reference's ``RegDI2()``
(``RegDI2.R:5-333``).  The estimator combines a probability sample S_A
(with design weights) and a big-data sample S_B by calibrating S_A's
weights to population totals that *include* S_B membership and S_B's
outcome total — so the calibrated mean of y over S_A "borrows" S_B's size.

Corrections (``RegDI2.R:20``):
  0/1  plain calibration estimate             (``RegDI2.R:244-248,320-325``)
  2    measurement-error correction: fit y_A ~ y_B on the A∩B validation
       overlap, map y_A onto B's scale via the inverse fit, recalibrate
       (``RegDI2.R:250-307``).  NOTE the estimand: correction 2 treats
       S_B as the measurement gold standard — ``y_corrected = (y_A -
       b0)/b1`` puts A's outcome on the B scale (``RegDI2.R:264-266``),
       so the reported mean targets E[y_B-scale], not E[y_A-scale].
       (The notebook's contaminated-proxy Scenario II instead uses
       correction 1 with ``y_B_col = tilde``, ``nb[5]:48-57``, which
       stays unbiased for E[y_A-scale].)
  3    doubly-robust: outcome model on A, DR point + ad-hoc variance
       (``RegDI2.R:196-241,309-318``; the reference README documents this
       variance as incomplete — we reproduce the code's formula)

Execution profile per call (direct mode):
  ONE moment pass over the combined table (sizes, calibration totals, the
  A-masked calibration Gram; correction 2 adds the validation-fit sums and
  the recalibration Gram, correction 3 the population sums Σo, Σoo' of the
  outcome-model design o = [1, predictors]).  The driver solves the GREG
  system; the sums that depend on the solved λ (the calibrated svymean
  variance, the DR terms, the A-side OLS fit) come from sample A's few
  projected columns collected through Arrow when A has at most
  ``moments.ROW_BUDGET`` rows, else from one more aggregate over A.  Spark
  jobs per call: 3 (2 for the moment pass, 1 for the collect).  Two-table
  mode adds the A/B join to the plan.  Nothing is persisted.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_est_spark.formula import Formula, FormulaError
from data_integration_est_spark.integrate import IntegrationError, integrate_samples
from data_integration_est_spark.kernels.linalg import _solve_stacked
from data_integration_est_spark.estimators.moments import (
    ONE,
    Block,
    Lin,
    Moments,
    as_double,
    model_quality,
    ols_from,
    q,
    sample_moments,
    spark_moments,
    svymean_blocks,
    svymean_from,
    var_samp,
)


@dataclass
class RegDIResult:
    mean: float
    variance: float
    rmse: float | None = None
    r2: float | None = None
    weight_col: str | None = None
    rows: Callable[[], DataFrame] | None = field(default=None, repr=False, compare=False)

    @property
    def se(self) -> float:
        return float(self.variance) ** 0.5

    @property
    def df(self) -> DataFrame | None:
        """Sample-A rows with their design (``d_i_A``) and calibrated
        (``w_cal``) weights: a lazy plan, built on access."""
        return None if self.rows is None else self.rows()


@dataclass
class Combined:
    """The combined A/B table and its side-resolved column names."""

    df: DataFrame
    columns: list[str]
    ind_A: str | None
    ind_B: str
    y_A: str
    y_B: str
    aux_A: list[str]
    aux_B: list[str]
    direct: bool

    def base_columns(self, weights_A: str | None, weights_B: str | None = None) -> dict[str, str]:
        """Named SQL columns every estimator reads: the sample indicators
        ``iA``/``iB``, the outcomes ``yA``/``yB`` and the weights ``wA``/``wB``."""
        cols = {
            "iB": f"{q(self.ind_B)} = 1",
            "yA": as_double(self.y_A),
            "yB": as_double(self.y_B),
        }
        if self.ind_A is not None:
            cols["iA"] = f"{q(self.ind_A)} = 1"
        for name, w in (("wA", weights_A), ("wB", weights_B)):
            if w is not None:
                if w not in self.columns:
                    raise IntegrationError(f"'weights_{name[1]}' column {w!r} not found in the data")
                cols[name] = as_double(w)
        return cols


def _prepare(
    data,
    data_A,
    data_B,
    id_var_A,
    id_var_B,
    ind_var_A,
    ind_var_B,
    y_A_col,
    y_B_col,
    aux_vars,
) -> Combined:
    """Shared combine/validate step (``RegDI2.R:23-88``, ``PC.R:66-132``)."""
    data_direct = data is not None
    if not data_direct and (data_A is None or data_B is None):
        raise IntegrationError("must provide 'data' or both 'data_A' and 'data_B'")
    aux_vars = list(aux_vars or [])
    if data_direct:
        columns = data.columns
        for c in [ind_var_A, ind_var_B, y_A_col, y_B_col]:
            if c is None:
                raise IntegrationError(
                    "direct mode requires 'ind_var_A', 'ind_var_B', 'y_A_col', 'y_B_col'"
                )
            if c not in columns:
                raise IntegrationError(f"column {c!r} not found in 'data'")
        for c in aux_vars:
            if c not in columns:
                raise IntegrationError(f"aux column {c!r} not found in 'data'")
        return Combined(data, columns, ind_var_A, ind_var_B, y_A_col, y_B_col,
                        aux_vars, aux_vars, True)
    if id_var_A is None or id_var_B is None:
        raise IntegrationError(
            "must specify 'id_var_A' and 'id_var_B' when providing 'data_A' and 'data_B'"
        )
    integ = integrate_samples(data_A, data_B, id_var_A, id_var_B, y_A_col, y_B_col)
    return Combined(
        integ.df, integ.df.columns, integ.ind_A, integ.ind_B, integ.y_A, integ.y_B,
        [integ.col_A(c) for c in aux_vars], [integ.col_B(c) for c in aux_vars], False,
    )


def _outcome_model(outcome_model: str, comb: Combined, cols: dict[str, str]):
    """Parse and resolve the outcome model, adding its predictors (``p0``,
    ``p1``, ...) and, when it is not y_A, its response (``resp``) to
    ``cols``.  Returns (design o as Lins, intercept first; predictor names;
    response name; the predictors' data columns)."""
    f = Formula.parse(outcome_model)
    if f.response is None:
        raise FormulaError(f"the outcome model needs a response: {outcome_model!r}")
    if not f.predictors and not f.intercept:
        raise FormulaError(f"the outcome model has no design columns: {outcome_model!r}")
    resolved = f.resolve(comb.columns)
    pnames = tuple(f"p{j}" for j in range(len(f.predictors)))
    present = set(comb.columns)
    for name, p, r in zip(pnames, f.predictors, resolved.predictors):
        # a predictor both samples carry reads coalesce(p_A, p_B): resolve()
        # picks p_A, which is null on every B-only row
        both = f"{p}_A" in present and f"{p}_B" in present
        cols[name] = (f"CAST(coalesce({q(p + '_A')}, {q(p + '_B')}) AS DOUBLE)" if both
                      else as_double(r))
    response = resolved.response
    resp = "yA" if response == comb.y_A else "resp"
    if resp == "resp":
        cols["resp"] = as_double(response)
    o = ((ONE,) if f.intercept else ()) + tuple(Lin.of(p) for p in pnames)
    return o, pnames, resp, tuple(resolved.predictors)


class EmptySample(IntegrationError):
    """A sample without units.  The grouped estimators leave such a group
    out of their result."""


def _n_total(N_total, direct: bool, nrows: int, sum_wA: float) -> float:
    if N_total is not None:
        return float(N_total)
    return float(nrows) if direct else float(sum_wA)


def _check_n_total(N_total, comb: Combined, weights_A) -> None:
    if N_total is None and not comb.direct and weights_A is None:
        raise IntegrationError("to approximate N_total, provide sample-A weights ('weights_A')")


def _check_sizes(size_A: int, size_B: int) -> None:
    if size_A == 0:
        raise EmptySample("no units in sample A")
    if size_B == 0:
        raise EmptySample("no units in sample B")


@dataclass
class Plan:
    """An estimator's named SQL columns and the blocks of its moment pass
    over the combined table: built once per call shape, shared by the
    direct call and by every group of a grouped one."""

    cols: dict[str, str]
    blocks: dict[str, Block]
    direct: bool
    weighted: bool                   # sample-A weights from a column
    o: tuple[Lin, ...] = ()          # outcome-model design, intercept first
    pnames: tuple[str, ...] = ()     # its predictor columns
    resp: str = "yA"                 # its response column
    predictors: tuple[str, ...] = ()  # the predictors' data columns


@dataclass
class RegDIPlan(Plan):
    correction: int = 0
    x: tuple[Lin, ...] = ()          # calibration columns [1, delta, delta*y_B, delta*aux]
    dz: tuple[str, ...] = ()


@dataclass
class RegDIStep:
    """One RegDI estimate after the moment pass: the calibrated design and
    the blocks still needed over sample A."""

    size_A: int
    N_total: float
    dA: tuple[Lin, ...]
    g: Lin
    blocks: dict[str, Block]


def regdi_plan(comb: Combined, weights_A: str | None, correction: int,
               outcome_model: str | None, U: bool = True) -> RegDIPlan:
    """RegDI's columns and moment-pass blocks; ``U=False`` leaves out
    correction 3's population sums of the outcome design."""
    cols = comb.base_columns(weights_A)
    iB = cols["iB"]

    # delta_* calibration columns (``RegDI2.R:126-141``): x = [1, delta_i,
    # delta_i*y_B, delta_i*aux...], k = 3 + #aux
    cols["dlt"] = f"CASE WHEN {iB} THEN 1.0D ELSE 0.0D END"
    cols["dyB"] = f"CASE WHEN {iB} THEN {cols['yB']} ELSE 0.0D END"
    dz = tuple(f"dz{j}" for j in range(len(comb.aux_B)))
    for name, z in zip(dz, comb.aux_B):
        cols[name] = f"CASE WHEN {iB} THEN {as_double(z)} ELSE 0.0D END"
    x = (ONE, Lin.of("dlt"), Lin.of("dyB"), *map(Lin.of, dz))
    gw = (Lin.of("wA"),) if weights_A is not None else ()
    wneed = ("wA",) if weights_A is not None else ()

    # The moment pass (``RegDI2.R:91-168`` is several sequential sums in R):
    # row count and calibration totals, sample sizes, and the calibration
    # Gram — an A-masked sum, weighted by weights_A or by 1 (the driver
    # scales it by the constant N/n_A).
    blocks = {
        "tot": Block(left=(ONE,), right=x),
        "cal": Block(left=x, weight=gw, mask=("iA",)),
        "B": Block(mask=("iB",)),
    }
    plan = RegDIPlan(cols, blocks, comb.direct, weights_A is not None,
                     correction=correction, x=x, dz=dz)
    if correction == 2:
        # The y_A ~ y_B validation fit, the corrected outcome total and the
        # recalibration Gram are all masked sums known before the fit, so
        # they ride this pass (``RegDI2.R:250-265`` runs them serially).
        cols["iAB"] = f"({cols['iA']}) AND ({iB})"
        cols["iBnA"] = f"({iB}) AND NOT ({cols['iA']})"
        cols["dyA"] = f"CASE WHEN {iB} THEN {cols['yA']} ELSE 0.0D END"
        yA, yB = Lin.of("yA"), Lin.of("yB")
        blocks["val"] = Block(left=(ONE, yB, yA), need=("yA", "yB"), mask=("iAB",))
        blocks["ovA"] = Block(left=(ONE,), right=(yA,), need=("yA",), mask=("iAB",))
        blocks["nonA"] = Block(left=(ONE,), right=(yB,), mask=("iBnA",))
        blocks["u"] = Block(left=(ONE, Lin.of("dlt"), Lin.of("dyA"), *map(Lin.of, dz)),
                            weight=gw, need=wneed + ("dyA",) + dz, mask=("iA",))
    if correction == 3:
        plan.o, plan.pnames, plan.resp, plan.predictors = _outcome_model(outcome_model, comb, cols)
        if U:
            blocks["U"] = Block(left=(ONE, *map(Lin.of, plan.pnames)), need=plan.pnames)
    return plan


def regdi_step(p: RegDIPlan, m: dict[str, Moments], N_total=None, ols: bool = True,
               eval_model_performance: bool = False) -> RegDIStep:
    """The driver math after the moment pass: sample sizes, N, the GREG
    solve (correction 2 its recalibration), and the blocks left for sample
    A.  ``ols=False`` leaves out correction 3's OLS sums (a fit given)."""
    size_A, size_B = m["cal"].n, m["B"].n
    _check_sizes(size_A, size_B)
    N_total = _n_total(N_total, p.direct, m["tot"].n, m["cal"].S[0, 0])

    # design weights d_i_A (``RegDI2.R:106-116``) and the driver-side GREG
    # solve (sum_A d x x') lam = T - sum_A d x  (``RegDI2.R:188-193``)
    d_scale = 1.0 if p.weighted else N_total / size_A
    dA = (Lin.of("wA"),) if p.weighted else (Lin(d_scale),)
    wneed = ("wA",) if p.weighted else ()
    T = m["tot"].S[0].copy()
    T[0] = float(m["tot"].n) if p.direct else N_total
    G = d_scale * m["cal"].S
    lam = _solve_stacked(G[None], (T - G[0])[None, :, None], "calibrate").ravel()
    g = Lin.comb(lam, p.x, const=1.0)

    if p.correction in (0, 1):
        need = ("yA", "dyB") + p.dz + wneed
        blocks = svymean_blocks(Lin.of("yA"), p.x, dA, g, need)
    elif p.correction == 2:
        g, blocks = _correction_2(p, m, T, d_scale, dA, wneed)
    else:
        # T_DR's sums over sample A: the OLS Gram, and the w_cal- and
        # w_cal²-weighted moments of [y_A, o]
        yA, o = Lin.of("yA"), p.o
        w = dA + (g,)
        need = ("yA", "dyB") + p.dz + wneed + p.pnames
        blocks = {
            "dr1": Block(left=(ONE,), right=(yA, *o), weight=w, need=need),
            "dr2": Block(left=(yA, *o), weight=w + w, need=need),
        }
        if ols:
            blocks["ols"] = Block(left=(*o, Lin.of(p.resp)), need=(p.resp,) + p.pnames)
        if eval_model_performance:
            blocks["res"] = Block(left=(yA, *o), need=("yA",) + p.pnames)
            blocks["yv"] = Block(left=(ONE, yA), need=("yA",))
    return RegDIStep(size_A, N_total, dA, g, blocks)


def regdi(
    data: DataFrame | None = None,
    data_A: DataFrame | None = None,
    data_B: DataFrame | None = None,
    id_var_A: str | None = None,
    id_var_B: str | None = None,
    ind_var_A: str | None = None,
    ind_var_B: str | None = None,
    y_A_col: str = "",
    y_B_col: str = "",
    aux_vars: list[str] | None = None,
    N_total: float | None = None,
    weights_A: str | None = None,
    outcome_model: str | None = None,
    correction: int = 0,
    eval_model_performance: bool = False,
) -> RegDIResult:
    if correction not in (0, 1, 2, 3):
        raise ValueError(f"invalid correction {correction!r}: must be 0, 1, 2 or 3")
    if correction == 3 and outcome_model is None:
        raise ValueError("must specify the outcome model via 'outcome_model'")
    comb = _prepare(
        data, data_A, data_B, id_var_A, id_var_B, ind_var_A, ind_var_B,
        y_A_col, y_B_col, aux_vars,
    )
    _check_n_total(N_total, comb, weights_A)
    p = regdi_plan(comb, weights_A, correction, outcome_model)
    m = spark_moments(comb.df, p.cols, p.blocks)
    st = regdi_step(p, m, N_total, eval_model_performance=eval_model_performance)
    a_rows = comb.df.where(p.cols["iA"])
    a = sample_moments(a_rows, p.cols, st.blocks, st.size_A)
    mean, var, rmse, r2 = (regdi_dr(p, st, m, a, ols_from(a["ols"], len(p.o)))
                           if correction == 3 else (*svymean_from(a), None, None))
    return RegDIResult(mean=mean, variance=var, rmse=rmse, r2=r2, weight_col="w_cal",
                       rows=lambda: _weighted_rows(a_rows, p.cols, st.dA, st.g))


def _weighted_rows(a_rows: DataFrame, cols: dict[str, str], dA: tuple[Lin, ...],
                   g: Lin) -> DataFrame:
    """Sample-A rows with ``d_i_A`` and ``w_cal = d_i_A * g`` columns."""
    d_sql = dA[0].sql(cols)
    return a_rows.withColumns({
        "d_i_A": F.expr(d_sql),
        "w_cal": F.expr(f"{d_sql} * {g.sql(cols)}"),
    })


def _correction_2(p: RegDIPlan, m, T, d_scale, dA, wneed):
    """Measurement-error correction (``RegDI2.R:250-307``): the recalibrated
    g and the svymean blocks of the corrected outcome.

    The y_A ~ y_B validation OLS, the corrected-outcome total t_corr and the
    recalibration Gram are closed forms in sums the moment pass collected:
    the corrected calibration vector is a linear map of
    u = [1, delta_i, delta_i*y_A, delta_i*aux], so its Gram is T G_u T'.
    Only the recalibrated svymean needs sample A's rows.
    """
    v = m["val"]
    n_ov = v.n
    if n_ov < 2:
        # the reference's validation-data guard (``RegDI2.R:254-255``)
        raise IntegrationError(
            f"insufficient validation data for correction 2: {n_ov} usable "
            "S_A ∩ S_B overlap row(s), need >= 2 with y_A and y_B observed"
        )
    S = v.S  # moments of [1, y_B, y_A] on the overlap
    Gv = np.array([[float(n_ov), S[0, 1]], [S[0, 1], S[1, 1]]])
    b0, b1 = (float(c) for c in
              _solve_stacked(Gv[None], np.array([S[0, 2], S[1, 2]])[None, :, None],
                             "correction-2 fit").ravel())
    if abs(b1) < 1e-10:
        raise IntegrationError(
            f"correction 2: fitted slope b1={b1:.3e} is numerically zero — "
            "y_corrected = (y_A - b0)/b1 is undefined (no usable association "
            "between y_A and y_B on the validation overlap)"
        )

    # y_corrected: de-biased y_A on A rows, raw y_B elsewhere (``RegDI2.R:264-265``);
    # sum_B y_corrected = (sum_{A∩B} y_A − n·b0)/b1 + sum_{B∖A} y_B
    ov = m["ovA"]
    T2 = T.copy()
    T2[2] = (ov.S[0, 0] - ov.n * b0) / b1 + m["nonA"].S[0, 0]
    Tm = np.eye(len(p.x))
    Tm[2, 1:3] = [-b0 / b1, 1.0 / b1]
    G2 = d_scale * (Tm @ m["u"].S @ Tm.T)
    lam2 = _solve_stacked(G2[None], (T2 - G2[0])[None, :, None], "calibrate").ravel()

    x_corr = (ONE, Lin.of("dlt"), Lin.comb(Tm[2, 1:3], [Lin.of("dlt"), Lin.of("dyA")]),
              *map(Lin.of, p.dz))
    g2 = Lin.comb(lam2, x_corr, const=1.0)
    y_corr = Lin.comb([1.0 / b1], [Lin.of("yA")], const=-b0 / b1)
    need = ("yA", "dyA") + p.dz + wneed
    return g2, svymean_blocks(y_corr, x_corr, dA, g2, need)


def regdi_dr(p: RegDIPlan, st: RegDIStep, m, a, beta: np.ndarray,
             u: tuple[float, float] | None = None):
    """(mean, variance, rmse, r2) of the doubly-robust estimator
    (``RegDI2.R:196-241``) under outcome coefficients ``beta``; ``u`` is
    (Σ_U yhat, var_U yhat) when the moment pass left out the U sums.

    T_DR = (sum_A w_cal*(y - yhat) + sum_U yhat) / N
    V_DR = var(w_cal*(y - yhat))/n_A + var_U(yhat)/N      (the code's ad-hoc
    variance at ``RegDI2.R:222-225`` — reproduced as-is, see module doc).

    With yhat = o'beta every term is a quadratic form in moments: the
    w_cal- and w_cal²-weighted moments of [y_A, o] over sample A, and
    Σ_U o, Σ_U oo' from the moment pass.
    """
    c = np.concatenate(([1.0], -beta))  # y_A - yhat = [y_A, o]·c
    sum_wres = float(a["dr1"].S[0] @ c)
    var_wres = var_samp(a["dr1"].n, sum_wres, float(c @ a["dr2"].S @ c))
    if u is None:
        u = pred_stats(m["U"], beta, len(p.o))
    sum_pred, var_pred = u

    T_DR = (sum_wres + sum_pred) / st.N_total
    V_DR = var_wres / st.size_A + var_pred / st.N_total

    rmse = r2 = None
    if "res" in a:
        ssr = float(c @ a["res"].S @ c)
        rmse, r2 = model_quality(ssr, a["res"].n, a["yv"], st.size_A)
    return float(T_DR), float(V_DR), rmse, r2


def pred_stats(U: Moments, beta: np.ndarray, k: int) -> tuple[float, float]:
    """(Σ_U yhat, var_U yhat) of yhat = o'beta from the moments of
    [1, predictors] (``o`` drops the leading 1 without an intercept)."""
    io = slice(0, None) if k == U.S.shape[0] else slice(1, None)
    sum_pred = float(U.S[0, io] @ beta)
    return sum_pred, var_samp(U.n, sum_pred, float(beta @ U.S[io, io] @ beta))
