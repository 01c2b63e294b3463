"""Grouped estimators — the Monte Carlo engine and the domain estimators.

The reference runs its Monte Carlo studies as a serial R loop
(``nb[4]:29-196``) or a ``parLapply`` pool over (gamma, sim) cells
(``nb[23]:130-143``).  Here the grid dimensions are key columns of ONE
DataFrame, and each estimator runs every cell with the code of the single
call (``regdi``/``pc_estimator``): its moment pass becomes one ``groupBy``
aggregate, sample A's sums one Arrow collect split by key (above
``moments.ROW_BUDGET`` rows, one grouped aggregate over a broadcast table
of each group's coefficients), and its driver math runs once per group.
Spark jobs per call stay within the single call's, whatever the number of
groups.

A group with an empty sample is left out; a group whose outcome model
cannot be fit (fewer rows than design columns, or too little validation
data for correction 2) gets NaN and counts in ``diag['degenerate_groups']``.
Each function returns ``{group_key_tuple: (estimate, se | None)}``.
"""

from __future__ import annotations

import math
from dataclasses import replace

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_est_spark.estimators.moments import (
    ONE,
    Block,
    Lin,
    as_double,
    broadcast_by_key,
    ols_from,
    q,
    sample_moments,
    spark_moments,
    svymean_from,
    var_samp,
)
from data_integration_est_spark.estimators.pc import (
    fit_logistic_on,
    pc_a_scale,
    pc_calibrate,
    pc_logistic_blocks,
    pc_logistic_finish,
    pc_normal,
    pc_plan,
    pc_s1_blocks,
)
from data_integration_est_spark.estimators.regdi import (
    Combined,
    EmptySample,
    pred_stats,
    regdi_dr,
    regdi_plan,
    regdi_step,
)
from data_integration_est_spark.integrate import IntegrationError
from data_integration_est_spark.kernels.linalg import FitResult, fit_ols

NAN = float("nan")


def _combined(df: DataFrame, ind_A, ind_B, y_A, y_B, aux_vars, weights_A=None) -> Combined:
    """The grid as a combined table, each group its own population; with
    ``weights_A`` N is the A weight sum (the reference's two-table shape)."""
    aux = list(aux_vars or [])
    return Combined(df, df.columns, ind_A, ind_B, y_A, y_B, aux, aux, weights_A is None)


def _note_fit(diag: dict | None, fit=None, degenerate: int = 0) -> None:
    """Fit-health counters for MCResult.diagnostics: silent numerical
    trouble in a big grid (unconverged IRLS, undersized cells) shows
    without scraping warnings."""
    if diag is None:
        return
    diag["n_fits"] = diag.get("n_fits", 0) + 1
    if fit is not None:
        degenerate += len(fit.degenerate_keys)
        if fit.kind == "logistic" and not fit.converged:
            diag["unconverged"] = diag.get("unconverged", 0) + 1
    diag["degenerate_groups"] = diag.get("degenerate_groups", 0) + degenerate


def _ols_fit(ms: dict, p, group_cols: list[str]) -> FitResult:
    """Per-group OLS from the ``ols`` moment block — the grouped
    ``fit_ols``: undersized groups get NaN coefficients."""
    k, keys = len(p.o), list(ms)
    bad = tuple(key for key in keys if ms[key]["ols"].n < k)
    coef = np.array([np.full(k, NAN) if key in bad else ols_from(ms[key]["ols"], k)
                     for key in keys]).reshape(len(keys), k)
    return FitResult(x_cols=list(p.predictors), intercept=len(p.o) > len(p.pnames), coef=coef,
                     keys=keys, group_cols=list(group_cols), kind="ols",
                     n_obs=min((m["ols"].n for m in ms.values()), default=0),
                     degenerate_keys=bad)


def _logistic_fit(df: DataFrame, p, group_cols: list[str]) -> FitResult:
    """The grouped Spark IRLS fit, labelled with the model's data columns."""
    return replace(fit_logistic_on(df, p, group_cols), x_cols=list(p.predictors))


def _calibrations(p, ms: dict) -> dict:
    out = {}
    for key, m in ms.items():
        try:
            out[key] = pc_calibrate(p, m)
        except EmptySample:
            continue
    return out


def naive_mean_grouped(df: DataFrame, y_col: str, ind_col: str,
                       group_cols: list[str]) -> dict[tuple, tuple]:
    """Unweighted sample mean + SRS se per group (``nb[4]:37-49``); the se
    is None below two observed outcomes, and its n counts every sample row."""
    blocks = {"n": Block(), "y": Block(left=(ONE, Lin.of("y")), need=("y",))}
    ms = spark_moments(df.where(f"{q(ind_col)} = 1"), {"y": as_double(y_col)}, blocks,
                       group_cols)
    out = {}
    for key, m in ms.items():
        y = m["y"]
        # uncentered moments can round a zero variance below 0
        var = max(var_samp(y.n, y.S[0, 1], y.S[1, 1]), 0.0)
        se = math.sqrt(var / m["n"].n) if y.n >= 2 else None
        out[key] = (y.S[0, 1] / y.n if y.n else NAN, se)
    return out


def weighted_mean_grouped(df: DataFrame, y_col: str, ind_col: str, weight_col: str,
                          group_cols: list[str]) -> dict[tuple, tuple]:
    """Design-weighted sample mean per group — ``svymean(~y, svydesign(
    weights=~d))`` point estimate (``nb[12]:36-38``); NaN without a row
    carrying both y and a weight, or with zero weight."""
    w = (Lin.of("w"),)
    blocks = {"wy": Block(left=(ONE,), right=(Lin.of("y"),), weight=w, need=("y", "w")),
              "w": Block(left=(ONE,), weight=w)}
    ms = spark_moments(df.where(f"{q(ind_col)} = 1"),
                       {"y": as_double(y_col), "w": as_double(weight_col)}, blocks, group_cols)
    return {key: (m["wy"].S[0, 0] / m["w"].S[0, 0] if m["wy"].n and m["w"].S[0, 0] else NAN, None)
            for key, m in ms.items()}


def _regdi_grouped(df, y_A_col, y_B_col, ind_var_A, ind_var_B, group_cols, aux_vars,
                   correction, weights_A=None, outcome_model=None, diag=None, fit=None,
                   u_stats=None) -> dict[tuple, tuple]:
    """``regdi`` for every group: one grouped moment pass, the GREG solve
    per group, then sample A's sums of all groups at once."""
    comb = _combined(df, ind_var_A, ind_var_B, y_A_col, y_B_col, aux_vars, weights_A)
    p = regdi_plan(comb, weights_A, correction, outcome_model, U=u_stats is None)
    ms = spark_moments(df, p.cols, p.blocks, group_cols)
    out, steps = {}, {}
    for key, m in ms.items():
        try:
            steps[key] = regdi_step(p, m, ols=fit is None)
        except EmptySample:
            continue
        except IntegrationError:  # correction 2's validation fit
            out[key] = (NAN, NAN)
    a = sample_moments(df.where(p.cols["iA"]), p.cols, {k: st.blocks for k, st in steps.items()},
                       sum(st.size_A for st in steps.values()), group_cols)
    if correction == 2:
        _note_fit(diag, degenerate=len(out))
    if correction == 3:
        fit = fit or _ols_fit(a, p, group_cols)
        _note_fit(diag, fit)
    for key, st in steps.items():
        if correction == 3:
            mean, var, _, _ = regdi_dr(p, st, ms[key], a[key], fit.coef_for(key),
                                       None if u_stats is None else u_stats[key])
        else:
            mean, var = svymean_from(a[key])
        out[key] = (mean, float(np.sqrt(var)))
    return out


def regdi_c0_grouped(df: DataFrame, y_A_col: str, y_B_col: str, ind_var_A: str,
                     ind_var_B: str, group_cols: list[str], aux_vars: list[str] | None = None,
                     weights_A: str | None = None) -> dict[tuple, tuple]:
    """RegDI correction 0 for every group (``RegDI2.R:126-193,244-248``);
    each group is its own population.  With ``weights_A`` the design
    weights come from that column and N is their sum (``RegDI2.R:106-116``
    — the stratified study's call, ``nb[12]:48-76``)."""
    return _regdi_grouped(df, y_A_col, y_B_col, ind_var_A, ind_var_B, group_cols, aux_vars, 0,
                          weights_A=weights_A)


def regdi_c2_grouped(df: DataFrame, y_A_col: str, y_B_col: str, ind_var_A: str,
                     ind_var_B: str, group_cols: list[str], aux_vars: list[str] | None = None,
                     diag: dict | None = None) -> dict[tuple, tuple]:
    """RegDI correction 2 (measurement error) for every group
    (``RegDI2.R:250-307``): the y_A ~ y_B fit on each group's A∩B overlap,
    de-bias, recalibrate."""
    return _regdi_grouped(df, y_A_col, y_B_col, ind_var_A, ind_var_B, group_cols, aux_vars, 2,
                          diag=diag)


def regdi_dr_grouped(df: DataFrame, y_A_col: str, y_B_col: str, ind_var_A: str,
                     ind_var_B: str, outcome_model: str, group_cols: list[str],
                     aux_vars: list[str] | None = None, diag: dict | None = None, fit=None,
                     u_stats: dict | None = None) -> dict[tuple, tuple]:
    """RegDI correction 3 (doubly robust) for every group
    (``RegDI2.R:196-241``): T = (sum_A w_cal*(y - yhat) + sum_U yhat)/N,
    V = var(w*(y - yhat))/n_A + var_U(yhat)/N.  ``fit``/``u_stats``:
    share hooks, see ``pc_dr1_grouped``."""
    return _regdi_grouped(df, y_A_col, y_B_col, ind_var_A, ind_var_B, group_cols, aux_vars, 3,
                          outcome_model=outcome_model, diag=diag, fit=fit, u_stats=u_stats)


def _pc_grouped(df, y_A_col, y_B_col, ind_var_A, ind_var_B, aux_vars, group_cols, scenario,
                outcome_model=None, model_type="normal", weights_A=None,
                eval_model_performance=False, diag=None, fit=None, calb=None,
                u_stats=None) -> dict[tuple, tuple]:
    """``pc_estimator`` for every group: one grouped moment pass, the B
    calibration and the outcome fit per group; scenario 1 adds one grouped
    svymean pass over S_B, a logistic model its IRLS fit and one grouped
    pass over its predictions."""
    if model_type not in ("normal", "logistic"):
        raise ValueError("model_type must be 'normal' or 'logistic'")
    if fit is not None:
        model_type = "logistic" if fit.kind == "logistic" else "normal"
    comb = _combined(df, ind_var_A, ind_var_B, y_A_col or y_B_col, y_B_col, aux_vars, weights_A)
    p = pc_plan(comb, weights_A, None, scenario, model_type, outcome_model,
                eval_model_performance, calibrate=calb is None, ols=fit is None,
                U=u_stats is None)
    ms = spark_moments(df, p.cols, p.blocks, group_cols) if p.blocks else {}
    calb = _calibrations(p, ms) if calb is None else calb
    if scenario == 1:
        bm = spark_moments(df.where(p.cols["iB"]), p.cols,
                           {key: pc_s1_blocks(p, cal) for key, cal in calb.items()}, group_cols)
        return {key: (mean, float(np.sqrt(var))) for key, (mean, var) in
                ((key, svymean_from(m)) for key, m in bm.items())}

    sizes = {key: ms[key]["A"].n for key in calb if key in ms and ms[key]["A"].n}
    a_scale = {key: pc_a_scale(p, calb[key].N_total, n) for key, n in sizes.items()}
    if fit is None:
        fit = _logistic_fit(df, p, group_cols) if p.logistic else _ols_fit(ms, p, group_cols)
    _note_fit(diag, fit)
    fitted = {key for key in fit.keys if key in sizes}
    if p.logistic:
        blocks = {key: pc_logistic_blocks(p, calb[key], fit.coef_for(key), a_scale[key],
                                          eval_model_performance)
                  for key in fitted if np.isfinite(fit.coef_for(key)).all()}
        rs = spark_moments(df, p.cols, blocks, group_cols)
        res = {key: pc_logistic_finish(p, calb[key], r, sizes[key]) for key, r in rs.items()}
    else:
        res = {key: pc_normal(p, calb[key], ms[key], fit.coef_for(key), a_scale[key],
                              sizes[key], None if u_stats is None else u_stats[key][0])
               for key in fitted}
    out = {}
    for key in sizes:
        est, _, r2 = res.get(key, (NAN, None, NAN))
        out[key] = (est, None, NAN if r2 is None else r2) if eval_model_performance else (est, None)
    return out


def pc_s1_grouped(df: DataFrame, y_B_col: str, ind_var_B: str, aux_vars: list[str],
                  group_cols: list[str], weights_A: str | None = None,
                  ind_var_A: str | None = None, calb: dict | None = None) -> dict[tuple, tuple]:
    """PC scenario 1 for every group (``PC.R:240-253``); ``weights_A``
    switches to HT-estimated aux totals (``PC.R:188-193``).  ``calb``: a
    :func:`calibrated_b_grouped` result, computed once for the battery
    members that calibrate the SAME B sample to the SAME totals (the
    caller's responsibility to pass a same-arguments result)."""
    # sample A enters only through the HT totals of the calibration
    ind_A = ind_var_A if weights_A is not None and calb is None else None
    return _pc_grouped(df, None, y_B_col, ind_A, ind_var_B, aux_vars, group_cols, 1,
                       weights_A=weights_A, calb=calb)


def pc_s2_grouped(df: DataFrame, y_A_col: str, y_B_col: str, ind_var_A: str, ind_var_B: str,
                  aux_vars: list[str], outcome_model: str, group_cols: list[str],
                  model_type: str = "normal", weights_A: str | None = None,
                  diag: dict | None = None, calb: dict | None = None) -> dict[tuple, tuple]:
    """PC scenario 2 (y unobserved in B) for every group (``PC.R:255-297``):
    Yhat = (sum_B w_cal_B*yhat + sum_A d_A*(y_A - yhat)) / N.
    ``model_type='logistic'`` runs the grouped IRLS GLM (``PC.R:274``);
    ``weights_A`` uses the design-weight column for d_A and HT totals."""
    return _pc_grouped(df, y_A_col, y_B_col, ind_var_A, ind_var_B, aux_vars, group_cols, 2,
                       outcome_model, model_type, weights_A, diag=diag, calb=calb)


def pc_dr1_grouped(df: DataFrame, y_A_col: str, y_B_col: str, ind_var_A: str, ind_var_B: str,
                   aux_vars: list[str], outcome_model: str, group_cols: list[str],
                   model_type: str = "normal", eval_model_performance: bool = False,
                   diag: dict | None = None, fit=None, calb: dict | None = None,
                   u_stats: dict | None = None) -> dict[tuple, tuple]:
    """PC scenario-3 DR1 for every group (``PC.R:299-328``):
    Yhat = (sum_B w_cal_B*(y_B - yhat) + sum_U yhat) / N.
    ``model_type='logistic'`` runs the grouped IRLS GLM (``PC.R:311``);
    ``eval_model_performance`` appends each group's A-sample R² of the
    outcome model (``PC.R:330-340``, recorded by the nb[37] study).

    Share hooks, for battery members that fit the IDENTICAL formula on the
    identical A sample: ``fit`` (:func:`fit_outcome_grouped`), ``calb``
    (:func:`calibrated_b_grouped`) and ``u_stats``
    (:func:`u_pred_stats_grouped` under the same fit)."""
    return _pc_grouped(df, y_A_col, y_B_col, ind_var_A, ind_var_B, aux_vars, group_cols, 3,
                       outcome_model, model_type, None, eval_model_performance, diag, fit,
                       calb, u_stats)


def fit_outcome_grouped(df: DataFrame, ind_var_A: str, outcome_model: str,
                        group_cols: list[str], model_type: str = "normal") -> FitResult:
    """The DR members' outcome-model fit on sample A as a standalone call,
    injected into their ``fit=`` hooks."""
    if model_type not in ("normal", "logistic"):
        raise ValueError("model_type must be 'normal' or 'logistic'")
    p = pc_plan(_combined(df, ind_var_A, ind_var_A, "", "", []), None, None, 3, model_type,
                outcome_model, False, calibrate=False, U=False)
    if p.logistic:
        return _logistic_fit(df, p, group_cols)
    return _ols_fit(spark_moments(df.where(p.cols["iA"]), p.cols, {"ols": p.blocks["ols"]},
                                  group_cols), p, group_cols)


def calibrated_b_grouped(df: DataFrame, ind_var_B: str, aux_vars: list[str],
                         group_cols: list[str], weights_A: str | None = None,
                         ind_var_A: str | None = None) -> dict:
    """The PC members' shared B calibration, ``{key: PCCal}``, injected
    into their ``calb=`` hooks.  Direct population totals, or with
    ``weights_A`` (and ``ind_var_A``) HT totals from the weighted A sample
    and N the A weight sum (``PC.R:188-199``, ``nb[12]:78-88``)."""
    p = pc_plan(_combined(df, ind_var_A, ind_var_B, "", "", aux_vars, weights_A), weights_A,
                None, 1, "normal", None, False)
    return _calibrations(p, spark_moments(df, p.cols, p.blocks, group_cols))


def u_pred_stats_grouped(df: DataFrame, fit, group_cols: list[str]) -> dict:
    """(Σ_U yhat, var_U yhat) per group under ``fit``, shared by the DR
    members that use the SAME fit: from the moments of the design for a
    linear fit, from one grouped pass over the predictions for a logistic."""
    cols = {f"p{j}": as_double(c) for j, c in enumerate(fit.x_cols)}
    pn = tuple(cols)
    o = ((ONE,) if fit.intercept else ()) + tuple(map(Lin.of, pn))
    if fit.kind == "ols":
        ms = spark_moments(df, cols, {"U": Block(left=(ONE, *map(Lin.of, pn)), need=pn)},
                           group_cols)
        return {key: pred_stats(ms[key]["U"], fit.coef_for(key), len(o))
                for key in fit.keys if key in ms}
    ms = spark_moments(df, cols, {
        key: {"U": Block(left=(ONE, replace(Lin.comb(fit.coef_for(key), o), logit=True)),
                         need=pn)} for key in fit.keys}, group_cols)
    return {key: (m["U"].S[0, 1], var_samp(m["U"].n, m["U"].S[0, 1], m["U"].S[1, 1]))
            for key, m in ms.items()}


def clw_grouped(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    ind_var_A: str,
    ind_var_B: str,
    group_cols: list[str],
    weights_A: str | None = None,
    n_iter: int = 8,
    outcome_x_cols: list[str] | None = None,
    variance: bool = True,
    diag: dict | None = None,
) -> dict[tuple, tuple]:
    """Chen–Li–Wu propensity-weighted integration for EVERY group in
    one battery pass — the grouped twin of ``estimators/ipw.
    propensity_weighted_mean`` (same pseudo-likelihood, same Hajek IPW
    / DR estimators, same plug-in sandwich SEs), which lets the CLW
    estimators sit in the MC bias/SE tables next to the reference
    families (``nb[23]:113-127`` report an SE for every estimator).

    Returns ``key -> (mean_ipw, se_ipw, mean_dr, se_dr)``.

    ``weights_A=None`` derives the self-representing design weight
    d_g = N_g / n_A,g per group (the MC grid layout, where each cell
    carries the full population) — the same convention as
    ``pc_s2_grouped``.  Groups whose pseudo-likelihood Hessian is
    singular yield NaN and are counted in ``diag['degenerate_groups']``.

    Cost: n_iter + 3 grouped aggregation passes (Newton score/Hessian
    per step; one OLS Gram via ``fit_ols``; one estimate+moment pass;
    one squared-influence variance pass) — per-group k x k solves on
    the driver, nothing O(N)."""
    if outcome_x_cols is None:
        outcome_x_cols = list(x_cols)
    if n_iter < 1:
        # diag['newton_passes'] reads the loop variable after the Newton
        # loop; zero passes would also silently return the theta=0 start
        raise ValueError(f"n_iter must be >= 1; got {n_iter}")
    k = len(x_cols) + 1
    ko = len(outcome_x_cols) + 1
    a = f"CAST({ind_var_A} AS DOUBLE)"
    b = f"CAST({ind_var_B} AS DOUBLE)"
    y = f"COALESCE(CAST({y_col} AS DOUBLE), 0.0)"
    xs = ["1.0"] + [f"CAST({c} AS DOUBLE)" for c in x_cols]
    oxs = ["1.0"] + [f"CAST({c} AS DOUBLE)" for c in outcome_x_cols]

    # Every moment below is a- or b-masked, so rows in NEITHER sample
    # contribute exactly zero to every sum — drop them once instead of
    # scanning them n_iter + 3 times (the MC grid layout carries the
    # full population per cell: A + B is ~2.5% of rows there).  The
    # population size for the default d = N/n_A is taken BEFORE the cut.
    in_sample = (F.col(ind_var_A) == 1) | (F.col(ind_var_B) == 1)
    if weights_A is not None:
        d = f"COALESCE(CAST({weights_A} AS DOUBLE), 0.0)"
        base = df.filter(in_sample)
    else:
        n_rows = (
            df.groupBy(*group_cols)
            .agg(
                F.count(F.lit(1)).alias("nt"),
                F.sum(F.col(ind_var_A).cast("double")).alias("na"),
            )
            .collect()
        )
        d_by = {
            tuple(r[c] for c in group_cols): (
                float(r["nt"]) / max(float(r["na"] or 0.0), 1.0),
            )
            for r in n_rows
        }
        base = broadcast_by_key(df.filter(in_sample), group_cols, d_by,
                                  ["__dA__"])
        d = "__dA__"
    # n_iter + 3 passes re-read this small (A ∪ B) frame: cache it so
    # each Newton step scans ~|A|+|B| rows, not the full population
    # (data-proportional partition count: the Newton passes pay a fixed
    # per-task floor on near-empty partitions otherwise)
    from data_integration_est_spark.util import adaptive_coalesce

    base = adaptive_coalesce(base).persist()
    # the cached (A ∪ B) frame must be released even when a solve
    # or collect raises mid-battery (else repeated failing MC runs
    # accumulate leaked executor cache blocks)
    try:

        keys0 = sorted(d_by.keys()) if weights_A is None else [
            tuple(r[c] for c in group_cols)
            for r in df.select(*group_cols).distinct().collect()
        ]
        thetas: dict[tuple, np.ndarray] = {key: np.zeros(k) for key in keys0}
        tcols = [f"__t{i}__" for i in range(k)]
        bad_keys: set = set()

        def eta_sql() -> str:
            return "(" + " + ".join(f"{tcols[i]} * {xs[i]}" for i in range(k)) + ")"

        for _it in range(n_iter):
            work = broadcast_by_key(
                base, group_cols,
                {key: tuple(th) for key, th in thetas.items()}, tcols,
            )
            # 1e-300 floor: an underflowed sigmoid (exact 0.0 at extreme
            # negative eta) would raise ANSI DIVIDE_BY_ZERO in every /p
            # moment; the floor binds only past double underflow (see
            # estimators/ipw.py)
            p = f"greatest(1e-300, (1.0 / (1.0 + exp(-{eta_sql()}))))"
            aggs = []
            for i in range(k):
                aggs.append(
                    F.expr(f"sum({b} * {xs[i]} - {a} * {d} * {p} * {xs[i]})")
                    .alias(f"u{i}")
                )
                for j in range(i, k):
                    aggs.append(
                        F.expr(
                            f"sum({a} * {d} * {p} * (1.0 - {p})"
                            f" * {xs[i]} * {xs[j]})"
                        ).alias(f"h{i}{j}")
                    )
            rows = work.groupBy(*group_cols).agg(*aggs).collect()
            max_step = 0.0
            for r in rows:
                key = tuple(r[c] for c in group_cols)
                if key in bad_keys:
                    continue
                H = np.empty((k, k))
                for i in range(k):
                    for j in range(i, k):
                        H[i, j] = H[j, i] = float(r[f"h{i}{j}"] or 0.0)
                U = np.array([float(r[f"u{i}"] or 0.0) for i in range(k)])
                try:
                    step = np.linalg.solve(H, U)
                except np.linalg.LinAlgError:
                    bad_keys.add(key)
                    continue
                thetas[key] = thetas[key] + step
                max_step = max(max_step, float(np.max(np.abs(step))))
            # every group converged: stop paying grid passes (Newton on the
            # smooth pseudo-likelihood typically lands in 5-6 iterations;
            # below 1e-10 further steps are FP noise, so the early stop is
            # invisible at the vectorized==scalar 1e-9 pin)
            if max_step < 1e-10:
                break

        if diag is not None:
            diag["newton_passes"] = diag.get("newton_passes", 0) + _it + 1
        if diag is not None and bad_keys:
            diag["degenerate_groups"] = (
                diag.get("degenerate_groups", 0) + len(bad_keys)
            )

        # outcome model on B (one grouped Gram); m(x) rides as a column
        fit = fit_ols(
            base.filter(F.col(ind_var_B) == 1), y_col=y_col,
            x_cols=list(outcome_x_cols), group_cols=group_cols,
        )
        _note_fit(diag, fit)

        work = broadcast_by_key(
            base, group_cols, {key: tuple(th) for key, th in thetas.items()},
            tcols,
        )
        work, m_col = fit.predict_expr_grouped(work)
        p_c = F.expr(f"greatest(1e-300, (1.0 / (1.0 + exp(-{eta_sql()}))))")
        a_c, b_c = F.expr(a), F.expr(b)
        d_c, y_c = F.expr(d), F.expr(y)
        work = work.withColumn("__m__", m_col)
        m_c = F.col("__m__")

        aggs = [
            F.sum(a_c).alias("na"), F.sum(b_c).alias("nb"),
            F.sum(a_c * d_c).alias("nhat"),
            F.sum(b_c / p_c).alias("sinv"),
            F.sum(b_c * y_c / p_c).alias("sy"),
            F.sum(b_c * (y_c - m_c) / p_c).alias("sres"),
            F.sum(a_c * d_c * m_c).alias("sma"),
        ]
        if variance:
            for i in range(k):
                xi = F.expr(xs[i])
                for j in range(i, k):
                    aggs.append(
                        F.sum(a_c * d_c * p_c * (1.0 - p_c) * xi * F.expr(xs[j]))
                        .alias(f"h{i}{j}")
                    )
                aggs.append(
                    F.sum(b_c * (1.0 - p_c) / p_c * y_c * xi).alias(f"gy{i}")
                )
                aggs.append(F.sum(b_c * (1.0 - p_c) / p_c * xi).alias(f"gs{i}"))
                aggs.append(
                    F.sum(b_c * (1.0 - p_c) / p_c * (y_c - m_c) * xi)
                    .alias(f"gt{i}")
                )
            for i in range(ko):
                oxi = F.expr(oxs[i])
                aggs.append(F.sum(b_c * oxi / p_c).alias(f"gb1{i}"))
                aggs.append(F.sum(a_c * d_c * oxi).alias(f"gb2{i}"))
            # the per-group B Gram (ko x ko sums) rides the same pass —
            # it depends on nothing computed later, so a separate
            # grouped scan of `base` would be a pure extra pass
            for i in range(ko):
                for j in range(i, ko):
                    aggs.append(
                        F.expr(f"sum({b} * {oxs[i]} * {oxs[j]})")
                        .alias(f"xx{i}{j}")
                    )
        est_rows = {tuple(r[c] for c in group_cols): r
                    for r in work.groupBy(*group_cols).agg(*aggs).collect()}

        out: dict[tuple, tuple] = {}
        sol: dict[tuple, tuple] = {}
        nan4 = (float("nan"), None, float("nan"), None)
        for key, r in est_rows.items():
            sinv_ok = r["sinv"] is not None and 0.0 < float(r["sinv"]) < 1e100
            if key in bad_keys or not r["nb"] or not r["nhat"] or not sinv_ok:
                # sinv >= 1e100 marks a diverged ((quasi-)separable)
                # propensity fit: some B unit's p underflowed, 1/p exploded
                out[key] = nan4
                if diag is not None and not sinv_ok and key not in bad_keys:
                    diag["degenerate_groups"] = (
                        diag.get("degenerate_groups", 0) + 1
                    )
                continue
            mu_i = float(r["sy"] or 0.0) / float(r["sinv"])
            mu_d = (float(r["sres"] or 0.0) + float(r["sma"] or 0.0)) / float(
                r["nhat"]
            )
            out[key] = (mu_i, None, mu_d, None)
            if not variance or int(r["na"]) < 2:
                continue
            Hf = np.empty((k, k))
            for i in range(k):
                for j in range(i, k):
                    Hf[i, j] = Hf[j, i] = float(r[f"h{i}{j}"] or 0.0)
            gy = np.array([float(r[f"gy{i}"] or 0.0) for i in range(k)])
            gs = np.array([float(r[f"gs{i}"] or 0.0) for i in range(k)])
            gt = np.array([float(r[f"gt{i}"] or 0.0) for i in range(k)])
            gb = -np.array([float(r[f"gb1{i}"] or 0.0) for i in range(ko)]) + \
                np.array([float(r[f"gb2{i}"] or 0.0) for i in range(ko)])
            try:
                b_ipw = np.linalg.solve(Hf, -(gy - mu_i * gs))
                bt = np.linalg.solve(Hf, -gt)
            except np.linalg.LinAlgError:
                continue
            sol[key] = (mu_i, mu_d, b_ipw, bt, gb)
        # groups present in df but with NO in-sample rows never reach
        # est_rows (`base` is filtered to A ∪ B), so they would vanish
        # from the result despite the every-group contract: emit the
        # documented NaN tuple and count them degenerate
        for key in thetas:
            if key not in out:
                out[key] = nan4
                if diag is not None:
                    diag["degenerate_groups"] = (
                        diag.get("degenerate_groups", 0) + 1
                    )
        # bb needs the per-group B Gram, already collected in the
        # estimate pass (the xx{i}{j} aggregates ride `aggs` above)
        if variance and sol:
            names = (
                ["__mu_i__", "__mu_d__"]
                + [f"__bi{i}__" for i in range(k)]
                + [f"__bt{i}__" for i in range(k)]
                + [f"__bb{i}__" for i in range(ko)]
            )
            folded = {}
            for key, (mu_i, mu_d, b_ipw, bt, gb) in sol.items():
                r = est_rows[key]
                G = np.empty((ko, ko))
                for i in range(ko):
                    for j in range(i, ko):
                        G[i, j] = G[j, i] = float(r[f"xx{i}{j}"] or 0.0)
                try:
                    bb = np.linalg.solve(G, gb)
                except np.linalg.LinAlgError:
                    continue
                folded[key] = (mu_i, mu_d, *b_ipw, *bt, *bb)
            if folded:
                vwork = broadcast_by_key(
                    broadcast_by_key(
                        base, group_cols,
                        {key: tuple(th) for key, th in thetas.items()}, tcols,
                    ),
                    group_cols, folded, names,
                )
                vwork, m2 = fit.predict_expr_grouped(vwork)
                vwork = vwork.withColumn("__m__", m2)
                bx = sum(
                    (F.col(f"__bi{i}__") * F.expr(xs[i]) for i in range(k)),
                    F.lit(0.0),
                )
                btx = sum(
                    (F.col(f"__bt{i}__") * F.expr(xs[i]) for i in range(k)),
                    F.lit(0.0),
                )
                bbo = sum(
                    (F.col(f"__bb{i}__") * F.expr(oxs[i]) for i in range(ko)),
                    F.lit(0.0),
                )
                mu_i_c, mu_d_c = F.col("__mu_i__"), F.col("__mu_d__")
                m_c2 = F.col("__m__")
                zdr = d_c * ((m_c2 - mu_d_c) - p_c * btx)
                vrows = (
                    vwork.groupBy(*group_cols)
                    .agg(
                        F.sum(
                            b_c * (1.0 - p_c)
                            * F.pow((y_c - mu_i_c) / p_c + bx, F.lit(2.0))
                        ).alias("vb_i"),
                        F.sum(a_c * d_c * p_c * bx).alias("za1"),
                        F.sum(a_c * F.pow(d_c * p_c * bx, F.lit(2.0)))
                        .alias("za2"),
                        F.sum(
                            b_c * (1.0 - p_c)
                            * F.pow(
                                (y_c - m_c2) / p_c + btx + bbo * (y_c - m_c2),
                                F.lit(2.0),
                            )
                        ).alias("vb_d"),
                        F.sum(a_c * zdr).alias("zd1"),
                        F.sum(a_c * F.pow(zdr, F.lit(2.0))).alias("zd2"),
                    )
                    .collect()
                )
                for r in vrows:
                    key = tuple(r[c] for c in group_cols)
                    if key not in folded:
                        continue
                    er = est_rows[key]
                    na = float(er["na"])
                    mu_i, mu_d = out[key][0], out[key][2]

                    def _wr(s1, s2):
                        return na / (na - 1.0) * (s2 - s1 * s1 / na)

                    v_i = max(
                        (float(r["vb_i"] or 0.0)
                         + _wr(float(r["za1"] or 0.0), float(r["za2"] or 0.0)))
                        / float(er["sinv"]) ** 2,
                        0.0,
                    )
                    v_d = max(
                        (float(r["vb_d"] or 0.0)
                         + _wr(float(r["zd1"] or 0.0), float(r["zd2"] or 0.0)))
                        / float(er["nhat"]) ** 2,
                        0.0,
                    )
                    out[key] = (mu_i, float(np.sqrt(v_i)), mu_d,
                                float(np.sqrt(v_d)))
    finally:
        base.unpersist()
    return out
