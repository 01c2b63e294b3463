"""Masked moments built as SQL, evaluated by one Spark aggregate or by numpy.

Every RegDI and PC variant is a function of a few masked sums: counts,
Σ w·a·b products over the combined table's rows, restricted by sample
indicators and by complete-case (non-null) conditions.  This module states
those sums once, as :class:`Block` specs over named per-row columns, and
evaluates them two ways:

- :func:`spark_moments` projects the named columns (SQL expression strings)
  and runs every block's sums as ONE global aggregate — SQL text handed to
  ``selectExpr``, instead of one Column object (and its py4j round trips)
  per operator;
- :func:`sample_moments` does the same over one sample's rows, but when the
  sample has at most :data:`ROW_BUDGET` rows it collects the few projected
  columns through Arrow and sums them in numpy.

Both return the same :class:`Moments` per block, so the estimators' driver
arithmetic (GREG solve, OLS, DR terms, linearised variances) is one code
path whichever evaluator ran.  Null semantics match Spark's aggregates: a
block's rows are those where every ``mask`` column is true and every
``need`` column is non-null; inside those rows, a product with a null
factor is skipped (SQL ``sum``) or counts zero (numpy), which is the same
sum.

With ``group_cols`` both evaluate every group at once (the Monte Carlo
grid, domains): one ``groupBy`` aggregate, or one Arrow collect split by
key.  Blocks whose coefficients differ between groups (a per-group GREG
multiplier, a per-group model fit) are given per key; the numpy path
evaluates each group's own blocks, the Spark path reads the differing
coefficients from a broadcast per-group table.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from data_integration_est_spark.kernels.linalg import (
    CalibrationError,
    _solve_ols_stacked,
    _solve_stacked,
)
from data_integration_est_spark.util import local_df

# Samples of at most this many rows are collected through Arrow and summed
# on the driver; larger ones get one more Spark aggregate.  The crossover,
# measured with RegDI corrections 0 and 3 on a cached 1M-row population on
# 4 cores: collecting is faster up to |A| = 50k (c0 255 vs 384 ms), even at
# 100k (c0 272 vs 370, c3 297 vs 291 ms), and slower from 200k on (c0 351
# vs 324, c3 318 vs 288 ms).
ROW_BUDGET = 100_000


def q(name: str) -> str:
    """Backtick-quote a column name for Spark SQL."""
    return "`" + name.replace("`", "``") + "`"


def lit(v: float) -> str:
    """A DOUBLE literal that parses back to exactly ``v``."""
    v = float(v)
    if not math.isfinite(v):
        return f"CAST('{v}' AS DOUBLE)"
    s = f"{v!r}D"
    return f"({s})" if s.startswith("-") else s


def as_double(col: str) -> str:
    return f"CAST({q(col)} AS DOUBLE)"


def _logit_sql(inner: str) -> str:
    return f"(1.0D / (1.0D + exp(-{inner})))"


@dataclass(frozen=True)
class Lin:
    """``const + Σ coef·column``: a per-row linear form over named columns;
    with ``logit``, the inverse-logit of that form (a logistic model's
    prediction)."""

    const: float = 0.0
    terms: tuple[tuple[str, float], ...] = ()
    logit: bool = False

    @classmethod
    def of(cls, name: str) -> "Lin":
        return cls(0.0, ((name, 1.0),))

    @staticmethod
    def comb(coefs, lins, const: float = 0.0) -> "Lin":
        """``const + Σ coefs[i]·lins[i]``, merged into one form."""
        acc: dict[str, float] = {}
        for a, lin in zip(coefs, lins):
            assert not lin.logit, "a linear combination of inverse-logit forms"
            a = float(a)
            const += a * lin.const
            for name, c in lin.terms:
                acc[name] = acc.get(name, 0.0) + a * c
        return Lin(float(const), tuple(acc.items()))

    @property
    def is_one(self) -> bool:
        return not self.terms and self.const == 1.0 and not self.logit

    def sql(self, env: dict[str, str] | None = None) -> str:
        """SQL text; ``env`` maps a name to its defining expression (by
        default the name is a column of the frame)."""
        ref = (lambda n: f"({env[n]})") if env is not None else q
        parts = [lit(self.const)] if self.const != 0.0 or not self.terms else []
        parts += [ref(n) if c == 1.0 else f"{lit(c)} * {ref(n)}" for n, c in self.terms]
        out = parts[0] if len(parts) == 1 else "(" + " + ".join(parts) + ")"
        return _logit_sql(out) if self.logit else out

    def eval(self, cols: dict[str, np.ndarray]):
        out = self.const
        for name, c in self.terms:
            out = out + c * cols[name]
        return 1.0 / (1.0 + np.exp(-out)) if self.logit else out


ONE = Lin(1.0)


@dataclass(frozen=True)
class Block:
    """The row count and ``Σ Π(weight)·left_i·right_j`` over the rows where
    every ``mask`` column is true and every ``need`` column is non-null.
    ``right=None`` gives the symmetric second moments of ``left``."""

    left: tuple[Lin, ...] = ()
    right: tuple[Lin, ...] | None = None
    weight: tuple[Lin, ...] = ()
    need: tuple[str, ...] = ()
    mask: tuple[str, ...] = ()

    def _pairs(self) -> list[tuple[int, int]]:
        a = len(self.left)
        if self.right is None:
            return [(i, j) for i in range(a) for j in range(i, a)]
        return [(i, j) for i in range(a) for j in range(len(self.right))]

    def names(self) -> set[str]:
        lins = self.left + (self.right or ()) + self.weight
        return {n for lin in lins for n, _ in lin.terms} | set(self.need) | set(self.mask)

    def exprs(self) -> list[str]:
        cond = " AND ".join(
            [q(m) for m in self.mask] + [f"{q(c)} IS NOT NULL" for c in self.need]
        )
        right = self.left if self.right is None else self.right
        out = [f"count(CASE WHEN {cond} THEN 1 END)" if cond else "count(1)"]
        for i, j in self._pairs():
            factors = [f.sql() for f in self.weight + (self.left[i], right[j]) if not f.is_one]
            prod = " * ".join(factors) or lit(1.0)
            out.append(f"sum(CASE WHEN {cond} THEN {prod} END)" if cond else f"sum({prod})")
        return out

    def unpack(self, values) -> "Moments":
        b = len(self.left) if self.right is None else len(self.right)
        S = np.zeros((len(self.left), b))
        for (i, j), v in zip(self._pairs(), values[1:]):
            S[i, j] = 0.0 if v is None else float(v)
            if self.right is None:
                S[j, i] = S[i, j]
        return Moments(int(values[0] or 0), S)

    def eval_np(self, cols: dict[str, np.ndarray], nrows: int) -> "Moments":
        rows = np.ones(nrows, dtype=bool)
        for m in self.mask:
            rows &= cols[m].astype(bool)
        for c in self.need:
            rows &= ~np.isnan(cols[c])
        n = int(rows.sum())

        def ev(lin: Lin) -> np.ndarray:
            v = np.broadcast_to(np.asarray(lin.eval(cols), dtype=float), (nrows,))[rows]
            return np.where(np.isnan(v), 0.0, v)  # a null factor adds nothing

        w = np.ones(n)
        for f in self.weight:
            w = w * ev(f)
        L = np.column_stack([ev(f) for f in self.left]) if self.left else np.zeros((n, 0))
        R = L if self.right is None else (
            np.column_stack([ev(f) for f in self.right]) if self.right else np.zeros((n, 0))
        )
        return Moments(n, (L * w[:, None]).T @ R)


@dataclass
class Moments:
    n: int
    S: np.ndarray


def _needed(blocks: dict[str, Block]) -> list[str]:
    return sorted(set().union(*(b.names() for b in blocks.values())))


def _projection(cols: dict[str, str], names) -> list[str]:
    return [f"{cols[n]} AS {q(n)}" for n in names]


def _aggregates(blocks: dict[str, Block]) -> tuple[list[str], dict]:
    aggs: list[str] = []
    spans = {}
    for key, b in blocks.items():
        e = b.exprs()
        spans[key] = (len(aggs), len(aggs) + len(e))
        aggs += e
    return aggs, spans


def _unpack(blocks: dict[str, Block], spans: dict, vals: list) -> dict[str, Moments]:
    return {key: blocks[key].unpack(vals[a:b]) for key, (a, b) in spans.items()}


def _group_select(group_cols: list[str]) -> list[str]:
    # the keys ride under internal names, so a group column can never
    # shadow one of the estimators' named columns
    return [f"{q(c)} AS __g{i}" for i, c in enumerate(group_cols)]


def broadcast_by_key(frame: DataFrame, group_cols: list[str], values: dict[tuple, list],
                     names: list[str]) -> DataFrame:
    """Inner-join per-group driver scalars (DOUBLE columns ``names``) onto
    ``frame`` as a broadcast table; a null key matches a null key."""
    schema = StructType(list(frame.select(*group_cols).schema.fields)
                        + [StructField(n, DoubleType(), False) for n in names])
    rows = [tuple(key) + tuple(float(v) for v in vals) for key, vals in values.items()]
    table = local_df(frame.sparkSession, rows, schema)
    on = [frame[q(c)].eqNullSafe(table[q(c)]) for c in group_cols]
    return frame.join(F.broadcast(table), on=on, how="inner").drop(
        *[table[q(c)] for c in group_cols])


def spark_moments(frame: DataFrame, cols: dict[str, str], blocks: dict,
                  group_cols: list[str] | None = None) -> dict:
    """Every block's sums in ONE aggregate over ``frame``; ``cols`` maps a
    name to the SQL that defines it on ``frame``.

    With ``group_cols`` the aggregate is grouped and the result maps each
    group key to its moments.  ``blocks`` may then map each group key to
    that group's own blocks (same names and shapes, group-specific
    coefficients); only those keys are returned."""
    if not group_cols:
        aggs, spans = _aggregates(blocks)
        row = frame.selectExpr(*_projection(cols, _needed(blocks))).selectExpr(
            *[f"{e} AS m{i}" for i, e in enumerate(aggs)]
        ).collect()[0]
        return _unpack(blocks, spans, list(row))
    if not blocks:
        return {}
    keyed = not isinstance(next(iter(blocks.values())), Block)
    shared = blocks
    if keyed:
        frame, cols, shared = _lift(frame, cols, blocks, group_cols)
    aggs, spans = _aggregates(shared)
    ng = len(group_cols)
    rows = (
        frame.selectExpr(*_group_select(group_cols), *_projection(cols, _needed(shared)))
        .groupBy(*[f"__g{i}" for i in range(ng)])
        .agg(*[F.expr(f"{e} AS m{i}") for i, e in enumerate(aggs)])
        .collect()
    )
    out = {tuple(r[:ng]): _unpack(shared, spans, list(r[ng:])) for r in rows}
    return {k: out[k] for k in blocks if k in out} if keyed else out


def _lift(frame: DataFrame, cols: dict[str, str], blocks: dict, group_cols: list[str]):
    """One set of blocks for every group: each Lin whose coefficients
    differ between groups becomes a named column whose coefficients are
    read from a broadcast per-group table.  Returns (joined frame,
    extended cols, shared blocks)."""
    keys = list(blocks)
    cols, params, shared = dict(cols), {key: [] for key in keys}, {}
    for name, b in blocks[keys[0]].items():
        fields = {}
        for fld in ("left", "right", "weight"):
            if getattr(b, fld) is not None:
                fields[fld] = tuple(
                    _lift_lin(cols, params, [getattr(blocks[k][name], fld)[i] for k in keys])
                    for i in range(len(getattr(b, fld)))
                )
        shared[name] = replace(b, **fields)
    n = len(params[keys[0]])
    if n:
        frame = broadcast_by_key(frame, group_cols, params, [f"__k{j}" for j in range(n)])
    return frame, cols, shared


def _lift_lin(cols: dict[str, str], params: dict[tuple, list], per: list[Lin]) -> Lin:
    """One Lin position across the groups (in ``params`` order): kept when
    every group has the same Lin, else a column of per-group coefficients."""
    lin = per[0]
    if all(v == lin for v in per):
        return lin
    assert all(v.logit == lin.logit and [t for t, _ in v.terms] == [t for t, _ in lin.terms]
               for v in per)
    k0 = len(next(iter(params.values())))
    ks = [q(f"__k{k0 + j}") for j in range(len(lin.terms) + 1)]
    form = " + ".join([ks[0]] + [f"{k} * ({cols[t]})" for k, (t, _) in zip(ks[1:], lin.terms)])
    col = f"__L{len(cols)}"
    cols[col] = _logit_sql(f"({form})") if lin.logit else form
    for v, vals in zip(per, params.values()):
        vals += [v.const, *(c for _, c in v.terms)]
    return Lin.of(col)


def sample_moments(frame: DataFrame, cols: dict[str, str], blocks: dict, n_rows: int,
                   group_cols: list[str] | None = None) -> dict:
    """The blocks over one (pre-filtered) sample of ``n_rows`` rows: summed
    in numpy from an Arrow collect when ``n_rows <= ROW_BUDGET``, else by
    :func:`spark_moments`.  With ``group_cols``, ``blocks`` maps each group
    key to its own blocks (as in :func:`spark_moments`) and ``n_rows``
    counts the sample's rows over all groups."""
    if not group_cols:
        if n_rows > ROW_BUDGET:
            return spark_moments(frame, cols, blocks)
        names = _needed(blocks)
        tbl = frame.selectExpr(*_projection(cols, names)).toArrow()
        arrs = {n: tbl.column(n).to_numpy(zero_copy_only=False) for n in names}
        return {key: b.eval_np(arrs, tbl.num_rows) for key, b in blocks.items()}
    if n_rows > ROW_BUDGET:
        return spark_moments(frame, cols, blocks, group_cols)
    if not blocks:
        return {}
    names = sorted(set().union(*(_needed(b) for b in blocks.values())))
    tbl = frame.selectExpr(*_group_select(group_cols), *_projection(cols, names)).toArrow()
    rows: dict[tuple, list[int]] = {}
    for i, key in enumerate(zip(*(tbl.column(f"__g{j}").to_pylist()
                                  for j in range(len(group_cols))))):
        rows.setdefault(key, []).append(i)
    arrs = {n: tbl.column(n).to_numpy(zero_copy_only=False) for n in names}
    out = {}
    for key, bl in blocks.items():
        idx = np.asarray(rows.get(key, ()), dtype=np.intp)
        sub = {n: a[idx] for n, a in arrs.items()}
        out[key] = {name: b.eval_np(sub, len(idx)) for name, b in bl.items()}
    return out


# ------------------------------------------------------------ driver math


def svymean_blocks(y: Lin, x: tuple[Lin, ...], d: tuple[Lin, ...], g: Lin,
                   need: tuple[str, ...]) -> dict[str, Block]:
    """Moments of ``kernels.stats.svymean`` on a design with weights
    ``w = Π(d)·g`` (``g`` the calibration factor ``1 + x'λ``, or ONE), and
    the calibration columns ``x`` (empty for an uncalibrated design)."""
    w = d + (g,)
    z = (ONE, y, *x)
    blocks = {
        "w1": Block(left=(ONE,), right=z, weight=w, need=need),
        "w2": Block(left=z, weight=w + w, need=need),
    }
    if x:
        blocks["dg"] = Block(left=z, weight=d, need=need)
    return blocks


def svymean_from(m: dict[str, Moments]) -> tuple[float, float]:
    """(mean, linearisation variance) from :func:`svymean_blocks` moments —
    the unstratified case of ``kernels.stats.svymean``."""
    w1 = m["w1"]
    n = w1.n
    sw, swy = float(w1.S[0, 0]), float(w1.S[0, 1])
    swx = w1.S[0, 2:]
    mean = swy / sw
    if "dg" in m:
        dg = m["dg"].S
        rhs = dg[2:, 1] - mean * dg[2:, 0]
        B = _solve_stacked(dg[None, 2:, 2:], rhs[None, :, None],
                           "svymean residual projection").ravel()
    else:
        B = np.zeros(0)
    c = np.concatenate(([-mean, 1.0], -B))
    s1 = (swy - mean * sw - float(B @ swx)) / sw
    s2 = float(c @ m["w2"].S @ c) / (sw * sw)
    v = float("nan") if n < 2 else n / (n - 1.0) * (s2 - s1 * s1 / n)
    return float(mean), float(v)


def ols_from(m: Moments, k: int) -> np.ndarray:
    """OLS coefficients from the moments of ``[o_1..o_k, y]`` — the solve
    of ``kernels.linalg.fit_ols``, with its row guard and R-style
    aliasing of collinear columns."""
    if m.n < k:
        raise CalibrationError(
            f"fit_ols: insufficient rows (min group n={m.n}) for {k} design columns"
        )
    return _solve_ols_stacked(m.S[None, :k, :k], m.S[None, :k, k:k + 1], "fit_ols").ravel()


def var_samp(n: int, s: float, ss: float) -> float:
    """Sample variance from (count, Σv, Σv²); 0 below two rows (where
    Spark's ``var_samp`` is null)."""
    return (ss - s * s / n) / (n - 1.0) if n >= 2 else 0.0


def model_quality(ssr: float, n_res: int, yv: Moments, n_A: int) -> tuple[float, float]:
    """(RMSE, R²) of an outcome model on sample A (``RegDI2.R:228-236``):
    ``ssr`` over the ``n_res`` complete rows, SST from ``var_samp(y_A)``
    scaled by the A sample size."""
    rmse = (ssr / n_res if n_res else 0.0) ** 0.5
    sst = var_samp(yv.n, float(yv.S[0, 1]), float(yv.S[1, 1])) * (n_A - 1)
    return float(rmse), (1.0 - ssr / sst if sst > 0 else float("nan"))
