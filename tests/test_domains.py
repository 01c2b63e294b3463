"""Domain estimation (``estimators/domains``): the grouped one-pass
``regdi_by`` / ``pc_by`` must equal looping the scalar estimator over
``split(data, domain)`` — the serial workflow they replace."""

import pytest
from pyspark.sql import functions as F

from data_integration_est_spark.estimators.domains import pc_by, regdi_by
from data_integration_est_spark.estimators.pc import pc_estimator
from data_integration_est_spark.estimators.regdi import regdi


@pytest.fixture(scope="module")
def pop(spark):
    # deterministic population with a 3-level domain; indicators dense
    # enough that every domain has a healthy A and B sample
    n = 3000
    return (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("dom"),
            ((F.col("id") % 101) / 101.0).alias("x"),
            (
                1.0
                + 2.0 * ((F.col("id") % 101) / 101.0)
                + ((F.col("id") % 13) / 13.0 - 0.5)
            ).alias("y"),
            F.when(F.col("id") % 5 == 0, 1).otherwise(0).alias("ind_a"),
            F.when(F.col("id") % 2 == 0, 1).otherwise(0).alias("ind_b"),
            F.when((F.col("id") % 101) < 50, 1.0).otherwise(0.0).alias("x1"),
            F.when((F.col("id") % 101) >= 50, 1.0).otherwise(0.0).alias("x2"),
        )
        .cache()
    )


def test_regdi_by_equals_per_domain_loop(pop):
    got = {
        r["dom"]: (r["est_mean"], r["est_se"], r["n_a"], r["n_b"])
        for r in regdi_by(pop, "dom", "y", "y", "ind_a", "ind_b").collect()
    }
    assert set(got) == {"0", "1", "2"}
    for dom in sorted(got):
        sub = pop.filter(F.col("dom") == dom)
        want = regdi(data=sub, y_A_col="y", y_B_col="y",
                     ind_var_A="ind_a", ind_var_B="ind_b")
        mean, se, na, nb = got[dom]
        assert mean == pytest.approx(want.mean, rel=1e-9)
        assert se == pytest.approx(want.se, rel=1e-7)
        assert na == sub.filter(F.col("ind_a") == 1).count()
        assert nb == sub.filter(F.col("ind_b") == 1).count()


def test_regdi_by_with_aux_equals_loop(pop):
    got = {
        r["dom"]: (r["est_mean"], r["est_se"])
        for r in regdi_by(
            pop, "dom", "y", "y", "ind_a", "ind_b", aux_vars=["x"]
        ).collect()
    }
    for dom in sorted(got):
        sub = pop.filter(F.col("dom") == dom)
        want = regdi(data=sub, y_A_col="y", y_B_col="y",
                     ind_var_A="ind_a", ind_var_B="ind_b", aux_vars=["x"])
        assert got[dom][0] == pytest.approx(want.mean, rel=1e-9)
        assert got[dom][1] == pytest.approx(want.se, rel=1e-7)


def test_pc_by_equals_per_domain_loop(pop):
    got = {
        r["dom"]: (r["est_mean"], r["est_se"], r["n_b"])
        for r in pc_by(
            pop, "dom", "y", "ind_b", aux_vars=["x1", "x2"]
        ).collect()
    }
    assert set(got) == {"0", "1", "2"}
    for dom in sorted(got):
        sub = pop.filter(F.col("dom") == dom)
        want = pc_estimator(data=sub, y_A_col="y", y_B_col="y",
                            ind_var_A="ind_a", ind_var_B="ind_b",
                            aux_vars=["x1", "x2"], scenario=1)
        assert got[dom][0] == pytest.approx(want.estimate, rel=1e-9)
        assert got[dom][1] == pytest.approx(want.se, rel=1e-7)
        assert got[dom][2] == sub.filter(F.col("ind_b") == 1).count()


def test_regdi_by_rounding_and_order(pop):
    rows = regdi_by(pop, "dom", "y", "y", "ind_a", "ind_b", round_to=4).collect()
    assert [r["dom"] for r in rows] == ["0", "1", "2"]
    for r in rows:
        assert r["est_mean"] == round(r["est_mean"], 4)


@pytest.mark.parametrize("budget", ["default", "zero"])
def test_null_domain_is_estimated_like_any_other(pop, budget, monkeypatch):
    """A null domain value is a domain of its own on both of sample A's
    evaluation paths (Arrow collect, or a grouped aggregate over a
    broadcast table of per-domain coefficients)."""
    from data_integration_est_spark.estimators import moments

    if budget == "zero":
        monkeypatch.setattr(moments, "ROW_BUDGET", 0)
    nulls = pop.withColumn("dom", F.when(F.col("dom") != "2", F.col("dom")))
    sub = pop.filter(F.col("dom") == "2")
    got = {r["dom"]: r for r in regdi_by(nulls, "dom", "y", "y", "ind_a", "ind_b",
                                         aux_vars=["x"]).collect()}
    want = regdi(data=sub, y_A_col="y", y_B_col="y", ind_var_A="ind_a",
                 ind_var_B="ind_b", aux_vars=["x"])
    assert got[None]["est_mean"] == pytest.approx(want.mean, rel=1e-9)
    assert got[None]["est_se"] == pytest.approx(want.se, rel=1e-7)
    got = {r["dom"]: r for r in pc_by(nulls, "dom", "y", "ind_b", aux_vars=["x1", "x2"]).collect()}
    want = pc_estimator(data=sub, y_A_col="y", y_B_col="y", ind_var_A="ind_a",
                        ind_var_B="ind_b", aux_vars=["x1", "x2"], scenario=1)
    assert got[None]["est_mean"] == pytest.approx(want.estimate, rel=1e-9)
    assert got[None]["est_se"] == pytest.approx(want.se, rel=1e-7)
