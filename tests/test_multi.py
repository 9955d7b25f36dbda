"""dbreg_multi: fixest-style multiple estimation (sw/csw/multi-LHS) from
shared passes. Oracle = per-model dbreg with the SAME strategy forced —
the union-Gram sub-blocks must reproduce each single fit's coefficients,
SEs, dof and cluster counts; the pass counter pins the shared-pass claim.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from dbreg_spark import dbreg, dbreg_multi
from dbreg_spark.multi import parse_multi_formula


# --------------------------------------------------------------------------
# parser
# --------------------------------------------------------------------------


def test_parse_sw_variants():
    s = parse_multi_formula("y ~ x1 + sw(a, b) | f")
    assert s.lhs == ["y"]
    assert [r for _, r in s.steps] == ["x1 + a", "x1 + b"]
    assert s.fe_str == "f"

    s = parse_multi_formula("y ~ x1 + csw(a, b)")
    assert [r for _, r in s.steps] == ["x1 + a", "x1 + a + b"]

    s = parse_multi_formula("y ~ x1 + sw0(a)")
    assert [r for _, r in s.steps] == ["x1", "x1 + a"]

    s = parse_multi_formula("y ~ x1 + csw0(a, b)")
    assert [r for _, r in s.steps] == ["x1", "x1 + a", "x1 + a + b"]

    # sw position is preserved; grouped args stay one step
    s = parse_multi_formula("y ~ sw(a + a2, b) + x1")
    assert [r for _, r in s.steps] == ["a + a2 + x1", "b + x1"]

    s = parse_multi_formula("c(y1, y2) ~ x1")
    assert s.lhs == ["y1", "y2"] and [r for _, r in s.steps] == ["x1"]


def test_parse_refusals():
    with pytest.raises(ValueError, match="at most one sw"):
        parse_multi_formula("y ~ sw(a, b) + sw(c, d)")
    with pytest.raises(ValueError, match="duplicate outcome"):
        parse_multi_formula("c(y, y) ~ x")
    with pytest.raises(ValueError, match="empty"):
        parse_multi_formula("y ~ sw()")


# --------------------------------------------------------------------------
# parity vs per-model dbreg (same strategy, same sample)
# --------------------------------------------------------------------------


def _assert_model_match(m, o, rtol_b=1e-9, rtol_se=1e-8):
    assert m.coef_names == o.coef_names
    np.testing.assert_allclose(
        m.coeftable["estimate"].values, o.coeftable["estimate"].values,
        rtol=rtol_b,
    )
    np.testing.assert_allclose(
        m.coeftable["std.error"].values, o.coeftable["std.error"].values,
        rtol=rtol_se,
    )
    assert m.df_residual == o.df_residual
    assert m.nobs_orig == o.nobs_orig
    assert m.n_clusters == o.n_clusters
    np.testing.assert_allclose(m.rss, o.rss, rtol=1e-9)


def test_multi_moments_hc1_matches_single(tables):
    li = tables["lineitem"]
    mm = dbreg_multi(
        "c(l_extendedprice, l_tax) ~ l_quantity + csw(l_discount, l_linenumber)",
        li, vcov="hc1", strategy="moments",
    )
    assert len(mm) == 4
    # ONE Gram pass + ONE batched meat pass for all 4 models
    assert mm.n_passes == 2
    for (y, step), m in mm.models.items():
        o = dbreg(f"{y} ~ l_quantity + {step}", li, vcov="hc1",
                  strategy="moments")
        _assert_model_match(m, o)


def test_multi_demean_cluster_matches_single(tables):
    li = tables["lineitem"]
    mm = dbreg_multi(
        "l_extendedprice ~ sw(l_quantity, l_discount) | l_returnflag",
        li, vcov="~ l_linestatus",
    )
    assert mm.n_passes == 2
    for (y, step), m in mm.models.items():
        o = dbreg(f"{y} ~ {step} | l_returnflag", li,
                  vcov="~ l_linestatus", strategy="demean")
        _assert_model_match(m, o)


def test_multi_weighted_demean_matches_single(tables):
    li = tables["lineitem"].withColumn(
        "w", F.col("l_quantity") / 10.0 + 0.5
    )
    mm = dbreg_multi(
        "l_extendedprice ~ csw(l_quantity, l_discount) | l_returnflag",
        li, vcov="hc1", weights="w",
    )
    assert mm.n_passes == 2
    for (y, step), m in mm.models.items():
        o = dbreg(f"{y} ~ {step} | l_returnflag", li, vcov="hc1",
                  weights="w", strategy="demean")
        _assert_model_match(m, o)


def test_multi_2fe_iter_multiway_cgm_matches_single(tables):
    li = tables["lineitem"]
    mm = dbreg_multi(
        "l_extendedprice ~ sw(l_quantity, l_discount) | "
        "l_returnflag + l_linestatus",
        li, vcov="~ l_linenumber + l_suppkey", strategy="demean_iter",
    )
    # 1 Gram + 3 CGM subset passes (2-way), shared by both models
    assert mm.n_passes == 4
    for (y, step), m in mm.models.items():
        o = dbreg(
            f"{y} ~ {step} | l_returnflag + l_linestatus", li,
            vcov="~ l_linenumber + l_suppkey", strategy="demean_iter",
        )
        _assert_model_match(m, o)


def test_multi_dk_matches_single(tables):
    li = tables["lineitem"]
    mm = dbreg_multi(
        "c(l_extendedprice, l_tax) ~ l_quantity + sw0(l_discount)",
        li, vcov="dk ~ l_linenumber", hac_lag=2, strategy="moments",
    )
    assert mm.n_passes == 2
    for (y, step), m in mm.models.items():
        fml = f"{y} ~ l_quantity" + (f" + {step}" if step else "")
        o = dbreg(fml, li, vcov="dk ~ l_linenumber", hac_lag=2,
                  strategy="moments")
        _assert_model_match(m, o)


def test_multi_dk_period_cap(spark):
    """Multi-model Driscoll-Kraay collects its per-period score table under
    the same 100,000-period cap as a single fit: a raw id column as the
    time variable is refused, not collected."""
    from dbreg_spark.multi_glm import dbglm_multi

    df = spark.range(100_001).select(
        "id",
        (F.col("id") % 7).cast("double").alias("x1"),
        (F.col("id") % 5).cast("double").alias("x2"),
        (F.col("id") % 3).cast("double").alias("y"),
    )
    with pytest.raises(ValueError, match="100,000"):
        dbreg_multi("y ~ sw(x1, x2)", df, vcov="dk ~ id", strategy="moments")
    with pytest.raises(ValueError, match="100,000"):
        dbglm_multi("y ~ sw(x1, x2)", df, family="gaussian", vcov="dk ~ id")


def test_multi_factor_step_matches_single(tables):
    li = tables["lineitem"]
    mm = dbreg_multi(
        "l_extendedprice ~ l_quantity + sw(l_linestatus, l_linenumber)",
        li, vcov="hc1", strategy="moments",
    )
    for (y, step), m in mm.models.items():
        o = dbreg(f"{y} ~ l_quantity + {step}", li, vcov="hc1",
                  strategy="moments")
        _assert_model_match(m, o)


def test_multi_common_sample_semantics(spark):
    """Rows with a NULL in ANY union variable are dropped for EVERY
    submodel (the documented divergence from fixest's per-model samples)."""
    rows = [
        (1.0, 1.0, 2.0),
        (2.0, 2.0, None),
        (3.0, 1.0, 1.0),
        (4.0, 4.0, 3.0),
        (5.0, 2.0, 5.0),
        (6.0, 3.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "y double, a double, b double")
    mm = dbreg_multi("y ~ sw(a, b)", df, strategy="moments")
    # the a-only model still drops the b-NULL row
    assert mm[("y", "a")].nobs_orig == 5
    o = dbreg("y ~ a", df.where(F.col("b").isNotNull()), strategy="moments")
    _assert_model_match(mm[("y", "a")], o)


def test_multi_tidy_and_access(tables):
    li = tables["lineitem"]
    mm = dbreg_multi(
        "c(l_extendedprice, l_tax) ~ sw(l_quantity, l_discount)",
        li, strategy="moments",
    )
    t = mm.tidy()
    assert set(["lhs", "rhs", "term", "estimate", "std.error"]) <= set(
        t.columns
    )
    assert len(t) == sum(len(m.coef_names) for m in mm)
    cm = mm.coef_matrix("l_quantity")
    assert len(cm) == 4 and cm["estimate"].notna().sum() == 2
    assert mm[0] is list(mm.models.values())[0]
    assert mm[("l_tax", "l_discount")].yvar == "l_tax"


def test_multi_predict_roundtrip(tables):
    """Per-model design_info subsets support distributed predict."""
    li = tables["lineitem"]
    mm = dbreg_multi(
        "l_extendedprice ~ sw(l_quantity, l_discount)", li,
        strategy="moments",
    )
    m = mm[("l_extendedprice", "l_quantity")]
    o = dbreg("l_extendedprice ~ l_quantity", li, strategy="moments")
    a = m.predict(li).agg(F.sum("fit")).collect()[0][0]
    b = o.predict(li).agg(F.sum("fit")).collect()[0][0]
    np.testing.assert_allclose(a, b, rtol=1e-10)


def test_multi_refusals(tables):
    li = tables["lineitem"]
    with pytest.raises(ValueError, match="must be numeric"):
        dbreg_multi("c(l_extendedprice, l_returnflag) ~ l_quantity", li)
    with pytest.raises(NotImplementedError, match="cr3"):
        dbreg_multi(
            "l_extendedprice ~ sw(l_quantity, l_discount)", li,
            vcov="cr3 ~ l_returnflag",
        )
    with pytest.raises(ValueError, match="does not absorb"):
        dbreg_multi(
            "l_extendedprice ~ sw(l_quantity, l_discount) | l_returnflag",
            li, strategy="moments",
        )
    with pytest.raises(ValueError, match="strategy"):
        dbreg_multi(
            "l_extendedprice ~ sw(l_quantity, l_discount)", li,
            strategy="compress",
        )


def test_multi_plan_sql_twin(tables, duck, sf_dir):
    """The union-Gram SQL twin reproduces the Spark row in DuckDB."""
    from dbreg_spark.multi import build_multi_plan

    spark = tables["lineitem"].sparkSession
    agg_df, sql = build_multi_plan(
        "c(l_extendedprice, l_tax) ~ l_quantity + csw(l_discount, l_linenumber)",
        spark=spark, table="lineitem", strategy="moments",
    )
    assert sql is not None
    srow = agg_df.collect()[0].asDict()
    orow = duck.execute(sql).fetchdf().iloc[0].to_dict()
    for k, v in srow.items():
        np.testing.assert_allclose(
            float(v), float(orow[k]), rtol=1e-9, err_msg=k
        )


# --------------------------------------------------------------------------
# etable (model comparison presentation)
# --------------------------------------------------------------------------


def test_etable_shapes_and_stars(tables):
    from dbreg_spark import dbglm, etable

    li = tables["lineitem"]
    m1 = dbreg("l_extendedprice ~ l_quantity + l_discount", li,
               vcov="hc1", strategy="moments")
    m2 = dbreg("l_extendedprice ~ l_quantity | l_returnflag", li,
               vcov="~ l_linestatus", strategy="demean")
    g = dbglm("l_linenumber ~ l_quantity", li, family="poisson")
    t = etable({"ols": m1, "fe": m2, "pois": g})
    assert list(t.columns) == ["ols", "fe", "pois"]
    # the union coefficient rows + FE row + stats rows all present
    assert "(Intercept)" in t.index and "FE: l_returnflag" in t.index
    assert "N" in t.index and "vcov" in t.index
    assert t.loc["FE: l_returnflag", "fe"] == "Yes"
    assert t.loc["FE: l_returnflag", "ols"] == ""
    assert t.loc["N", "ols"] == "6,000"
    # the highly-significant intercept carries stars; SEs are parenthesized
    assert "***" in t.loc["(Intercept)", "ols"]
    icpt_pos = list(t.index).index("(Intercept)")
    assert t.iloc[icpt_pos + 1]["ols"].startswith("(")
    # a DbregMulti expands into one column per submodel
    mm = dbreg_multi("l_extendedprice ~ sw(l_quantity, l_discount)", li,
                     strategy="moments")
    t2 = etable(mm)
    assert len(t2.columns) == 2


def test_multi_save_load_roundtrip(tables, tmp_path):
    from dbreg_spark.model import load_any_model

    li = tables["lineitem"]
    mm = dbreg_multi(
        "c(l_extendedprice, l_tax) ~ sw(l_quantity, l_discount)", li,
        vcov="hc1", strategy="moments",
    )
    path = str(tmp_path / "mm")
    mm.save(path)
    mm2 = load_any_model(path, spark=li.sparkSession)
    assert type(mm2).__name__ == "DbregMulti"
    assert list(mm2.models.keys()) == list(mm.models.keys())
    assert mm2.n_passes == mm.n_passes
    for k in mm.models:
        np.testing.assert_array_equal(
            mm.models[k].coeftable["estimate"].values,
            mm2.models[k].coeftable["estimate"].values,
        )
        np.testing.assert_array_equal(
            mm.models[k].vcov_, mm2.models[k].vcov_
        )


def test_multi_glm_save_load_roundtrip(tables, tmp_path):
    from dbreg_spark import dbglm_multi
    from dbreg_spark.model import load_any_model

    li = tables["lineitem"]
    mm = dbglm_multi(
        "l_linenumber ~ sw(l_quantity, l_discount)", li, family="poisson",
    )
    path = str(tmp_path / "gm")
    mm.save(path)
    mm2 = load_any_model(path, spark=li.sparkSession)
    assert type(mm2).__name__ == "GlmMulti"
    for k in mm.models:
        np.testing.assert_array_equal(
            mm.models[k].coeftable["estimate"].values,
            mm2.models[k].coeftable["estimate"].values,
        )
        assert mm2.models[k].family == mm.models[k].family


# --------------------------------------------------------------------------
# union-width guard / auto-segmentation (MULTI_AGG_MAX)
# --------------------------------------------------------------------------


def test_union_agg_count_matches_moment_spec():
    """The width guard's count formula is pinned to the REAL moment_spec
    length — if the spec grows a column, this fails before the guard can
    silently under-count."""
    from dbreg_spark.multi import _union_agg_count
    from dbreg_spark.plans.common import moment_spec
    from dbreg_spark.plans.exprs import Var

    for p in (0, 1, 3, 7):
        for icpt in (True, False):
            for nfe in (0, 2):
                for w in (None, Var("w")):
                    spec = moment_spec(
                        Var("y"),
                        [Var(f"x{i}") for i in range(p)],
                        intercept=icpt,
                        n_fe_exprs=[Var(f"f{k}") for k in range(nfe)] or None,
                        weight=w,
                    )
                    assert len(spec) == _union_agg_count(
                        p, icpt, nfe, w is not None
                    )


def test_multi_width_segmentation_matches_unsegmented(tables, monkeypatch):
    """Past the cap, the fit segments by steps into >1 union passes; every
    submodel's coefficients/SEs are IDENTICAL to the one-pass fit and
    n_passes records the true (doubled) pass count."""
    import dbreg_spark.multi as multi_mod

    li = tables["lineitem"]
    fml = "l_extendedprice ~ sw(l_quantity, l_discount, l_tax)"
    full = dbreg_multi(fml, li, vcov="hc1")
    assert full.n_passes == 2  # one union Gram + one batched HC1 meat

    # est(p): moments strategy, intercept, unweighted = 3 + 2p + p(p+1)/2
    # steps are p=1 (est 6); union of two steps p=2 (est 10); cap 10 =>
    # groups [s1, s2] and [s3]
    monkeypatch.setattr(multi_mod, "MULTI_AGG_MAX", 10)
    seg = dbreg_multi(fml, li, vcov="hc1")
    assert seg.n_passes == 4
    assert list(seg.models) == list(full.models)
    for k in full.models:
        _assert_model_match(seg[k], full[k])


def test_multi_segmentation_keeps_common_sample(spark, monkeypatch):
    """A segment that does NOT carry a variable still drops rows where that
    variable is NULL — the full union variable set rides every segment's
    null filter, so segmentation never changes the sample."""
    import dbreg_spark.multi as multi_mod

    rows = [
        (1.0, 1.0, 2.0, 1.0),
        (2.0, 2.0, 1.0, None),  # NULL in c: dropped EVERYWHERE
        (3.0, 1.0, 1.0, 2.0),
        (4.0, 4.0, 3.0, 1.0),
        (5.0, 2.0, 5.0, 3.0),
        (6.0, 3.0, 1.0, 4.0),
    ]
    df = spark.createDataFrame(rows, "y double, a double, b double, c double")
    full = dbreg_multi("y ~ sw(a, b, c)", df, strategy="moments")
    monkeypatch.setattr(multi_mod, "MULTI_AGG_MAX", 10)
    seg = dbreg_multi("y ~ sw(a, b, c)", df, strategy="moments")
    assert seg.n_passes > full.n_passes
    for k in full.models:
        assert seg[k].nobs_orig == 5
        _assert_model_match(seg[k], full[k])


def test_multi_width_single_step_refusal(tables, monkeypatch):
    """A single step wider than the cap cannot be segmented — clean raise."""
    import dbreg_spark.multi as multi_mod

    li = tables["lineitem"]
    monkeypatch.setattr(multi_mod, "MULTI_AGG_MAX", 5)
    with pytest.raises(ValueError, match="MULTI_AGG_MAX"):
        dbreg_multi(
            "l_extendedprice ~ sw(l_quantity, l_discount)", li, vcov="iid"
        )
    # single-step formula over the cap: immediate refusal, no recursion
    with pytest.raises(ValueError, match="MULTI_AGG_MAX"):
        dbreg_multi("c(l_extendedprice, l_tax) ~ l_quantity", li)


def test_multi_glm_width_segmentation(tables, monkeypatch):
    """dbglm_multi segments its lockstep by steps past the cap; results
    match the unsegmented lockstep exactly (per-model IRLS trajectories
    are independent)."""
    import dbreg_spark.multi as multi_mod
    from dbreg_spark import dbglm_multi

    li = tables["lineitem"]
    fml = "l_linenumber ~ sw(l_quantity, l_discount)"
    full = dbglm_multi(fml, li, family="poisson", vcov="hc1")
    # per-step block: p=2 -> 2 + 2 + 3 = 7; total 1 + 14 = 15; cap 10 =>
    # one step per segment
    monkeypatch.setattr(multi_mod, "MULTI_AGG_MAX", 10)
    seg = dbglm_multi(fml, li, family="poisson", vcov="hc1")
    assert seg.n_passes >= full.n_passes
    assert list(seg.models) == list(full.models)
    for k in full.models:
        np.testing.assert_allclose(
            seg[k].coeftable["estimate"].values,
            full[k].coeftable["estimate"].values, rtol=1e-12,
        )
        np.testing.assert_allclose(
            seg[k].coeftable["std.error"].values,
            full[k].coeftable["std.error"].values, rtol=1e-12,
        )
        assert seg[k].nobs == full[k].nobs

    monkeypatch.setattr(multi_mod, "MULTI_AGG_MAX", 5)
    with pytest.raises(ValueError, match="MULTI_AGG_MAX"):
        dbglm_multi(fml, li, family="poisson")
