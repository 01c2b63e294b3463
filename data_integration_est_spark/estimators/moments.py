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
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from data_integration_est_spark.kernels.linalg import (
    CalibrationError,
    _solve_ols_stacked,
    _solve_stacked,
)

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


@dataclass(frozen=True)
class Lin:
    """``const + Σ coef·column``: a per-row linear form over named columns."""

    const: float = 0.0
    terms: tuple[tuple[str, float], ...] = ()

    @classmethod
    def of(cls, name: str) -> "Lin":
        return cls(0.0, ((name, 1.0),))

    @staticmethod
    def comb(coefs, lins, const: float = 0.0) -> "Lin":
        """``const + Σ coefs[i]·lins[i]``, merged into one form."""
        acc: dict[str, float] = {}
        for a, lin in zip(coefs, lins):
            a = float(a)
            const += a * lin.const
            for name, c in lin.terms:
                acc[name] = acc.get(name, 0.0) + a * c
        return Lin(float(const), tuple(acc.items()))

    @property
    def is_one(self) -> bool:
        return not self.terms and self.const == 1.0

    def sql(self, env: dict[str, str] | None = None) -> str:
        """SQL text; ``env`` maps a name to its defining expression (by
        default the name is a column of the frame)."""
        ref = (lambda n: f"({env[n]})") if env is not None else q
        parts = [lit(self.const)] if self.const != 0.0 or not self.terms else []
        parts += [ref(n) if c == 1.0 else f"{lit(c)} * {ref(n)}" for n, c in self.terms]
        return parts[0] if len(parts) == 1 else "(" + " + ".join(parts) + ")"

    def eval(self, cols: dict[str, np.ndarray]):
        out = self.const
        for name, c in self.terms:
            out = out + c * cols[name]
        return out


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


def spark_moments(frame: DataFrame, cols: dict[str, str],
                  blocks: dict[str, Block]) -> dict[str, Moments]:
    """Every block's sums in ONE aggregate over ``frame``; ``cols`` maps a
    name to the SQL that defines it on ``frame``."""
    proj = [f"{cols[n]} AS {q(n)}" for n in _needed(blocks)]
    aggs: list[str] = []
    spans = {}
    for key, b in blocks.items():
        e = b.exprs()
        spans[key] = (len(aggs), len(aggs) + len(e))
        aggs += e
    row = frame.selectExpr(*proj).selectExpr(
        *[f"{e} AS m{i}" for i, e in enumerate(aggs)]
    ).collect()[0]
    vals = list(row)
    return {key: blocks[key].unpack(vals[a:b]) for key, (a, b) in spans.items()}


def sample_moments(frame: DataFrame, cols: dict[str, str], blocks: dict[str, Block],
                   n_rows: int) -> dict[str, Moments]:
    """The blocks over one (pre-filtered) sample of ``n_rows`` rows: summed
    in numpy from an Arrow collect when ``n_rows <= ROW_BUDGET``, else by
    :func:`spark_moments`."""
    if n_rows > ROW_BUDGET:
        return spark_moments(frame, cols, blocks)
    names = _needed(blocks)
    tbl = frame.selectExpr(*[f"{cols[n]} AS {q(n)}" for n in names]).toArrow()
    arrs = {n: tbl.column(n).to_numpy(zero_copy_only=False) for n in names}
    return {key: b.eval_np(arrs, tbl.num_rows) for key, b in blocks.items()}


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
