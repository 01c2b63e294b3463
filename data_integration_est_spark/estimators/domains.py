"""Domain (sub-population) estimation — the ``svyby`` companion surface.

The reference computes ONE population-level estimate per call
(``RegDI2.R:244-248``, ``PC.R:240-253``); its ecosystem's standard next
question is "the same estimate per domain" (region, stratum, source, ...)
— ``survey::svyby`` in R.  Here that is not a loop over domains: the
grouped estimators (``estimators/vectorized.py``) run the single-call
estimator's moment pass as ONE grouped aggregate, with the same Spark jobs
as a single estimate, and its driver math once per domain.  These wrappers
expose them as a user-facing API returning a tidy DataFrame, one row per
domain (plus one grouped pass for the sample sizes).

Scale: identical plan shape at 5 domains or 50k domains — more domains
just mean more groups in the aggregate and more small driver solves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType,
)

from data_integration_est_spark.estimators import vectorized as V
from data_integration_est_spark.util import local_df


def _domain_sizes(
    data: DataFrame, domain_col: str, ind_var_A: str, ind_var_B: str
) -> dict:
    rows = (
        data.groupBy(domain_col)
        .agg(
            F.sum(F.col(ind_var_A).cast("long")).alias("n_a"),
            F.sum(F.col(ind_var_B).cast("long")).alias("n_b"),
        )
        .collect()
    )
    return {r[domain_col]: (int(r["n_a"] or 0), int(r["n_b"] or 0)) for r in rows}


def _to_df(spark, domain_col: str, domain_type, est, sizes, round_to: int | None):
    def _r(v):
        if v is None:
            return None
        v = float(v)
        return round(v, round_to) if round_to is not None else v

    rows = []
    for key in sorted(est, key=lambda k: (k[0] is None, k[0])):
        dom = key[0]
        mean, se = est[key]
        na, nb = sizes.get(dom, (0, 0))
        rows.append((dom, _r(mean), _r(se), na, nb))
    schema = StructType([
        StructField(domain_col, domain_type, True),
        StructField("est_mean", DoubleType(), True),
        StructField("est_se", DoubleType(), True),
        StructField("n_a", LongType(), True),
        StructField("n_b", LongType(), True),
    ])
    return local_df(spark, rows, schema)


def regdi_by(
    data: DataFrame,
    domain_col: str,
    y_A_col: str,
    y_B_col: str,
    ind_var_A: str,
    ind_var_B: str,
    aux_vars: list[str] | None = None,
    weights_A: str | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Per-domain RegDI correction-0/1 (``RegDI2.R:126-193`` under a
    domain key): each domain is calibrated to ITS OWN population totals
    and gets its own linearized se — what a serial user would get from
    looping ``regdi`` over ``split(data, domain)``, in one distributed
    pass.  Returns (domain, est_mean, est_se, n_a, n_b), one row per
    domain, ordered by domain."""
    est = V.regdi_c0_grouped(
        data, y_A_col, y_B_col, ind_var_A, ind_var_B,
        group_cols=[domain_col], aux_vars=aux_vars, weights_A=weights_A,
    )
    sizes = _domain_sizes(data, domain_col, ind_var_A, ind_var_B)
    return _to_df(
        data.sparkSession, domain_col, data.schema[domain_col].dataType,
        est, sizes, round_to,
    )


def pc_by(
    data: DataFrame,
    domain_col: str,
    y_B_col: str,
    ind_var_B: str,
    aux_vars: list[str],
    ind_var_A: str | None = None,
    weights_A: str | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Per-domain PC scenario 1 (``PC.R:240-253`` under a domain key):
    the B sample of each domain calibrated to the domain's aux totals.
    Same output shape as ``regdi_by`` (n_a = 0 when no A indicator)."""
    est = V.pc_s1_grouped(
        data, y_B_col, ind_var_B, aux_vars, group_cols=[domain_col],
        weights_A=weights_A, ind_var_A=ind_var_A,
    )
    if ind_var_A is not None:
        sizes = _domain_sizes(data, domain_col, ind_var_A, ind_var_B)
    else:
        sizes = {
            r[domain_col]: (0, int(r["nb"] or 0))
            for r in data.groupBy(domain_col)
            .agg(F.sum(F.col(ind_var_B).cast("long")).alias("nb"))
            .collect()
        }
    return _to_df(
        data.sparkSession, domain_col, data.schema[domain_col].dataType,
        est, sizes, round_to,
    )
