"""demean / mundlak / compress strategies vs LSDV numpy oracles
(mirrors the reference's test_sim.R / test_trade.R oracle pattern)."""

import numpy as np
import pandas as pd
import pytest

from dbreg_spark import dbreg

from fixtures import (
    cr1_se,
    iid_se,
    lsdv_matrix,
    ols_fit,
    panel_balanced,
    panel_unbalanced,
    trade_like,
)


@pytest.fixture(scope="module")
def panel(spark):
    pdf = panel_balanced()
    return spark.createDataFrame(pdf), pdf


@pytest.fixture(scope="module")
def panel_unbal(spark):
    pdf = panel_unbalanced()
    return spark.createDataFrame(pdf), pdf


@pytest.fixture(scope="module")
def trade(spark):
    pdf = trade_like()
    return spark.createDataFrame(pdf), pdf


# ---------------------------------------------------------------- demean ----


def test_demean_1fe_vs_lsdv(panel):
    df, pdf = panel
    m = dbreg("y ~ x1 + x2 | firm", df, strategy="demean")
    X, names, y = lsdv_matrix(pdf, "y", ["x1", "x2"], ["firm"])
    beta, resid = ols_fit(X, y)
    se = iid_se(X, resid)
    np.testing.assert_allclose(m.coef()[["x1", "x2"]], beta[1:3], rtol=1e-6)
    np.testing.assert_allclose(m.se()[["x1", "x2"]], se[1:3], rtol=1e-6)
    assert m.n_fe1 == 50 and m.n_fe2 == 1
    assert m.df_residual == len(pdf) - 2 - 50


def test_demean_2fe_balanced_vs_lsdv(panel):
    df, pdf = panel
    m = dbreg("y ~ x1 + x2 | firm + year", df, strategy="demean")
    X, names, y = lsdv_matrix(pdf, "y", ["x1", "x2"], ["firm", "year"])
    beta, resid = ols_fit(X, y)
    se = iid_se(X, resid)
    np.testing.assert_allclose(m.coef()[["x1", "x2"]], beta[1:3], rtol=1e-6)
    np.testing.assert_allclose(m.se()[["x1", "x2"]], se[1:3], rtol=1e-6)


def test_demean_hc1(panel):
    df, pdf = panel
    m = dbreg("y ~ x1 + x2 | firm", df, strategy="demean", vcov="hc1")
    # oracle: within-transformed X, HC1 scale N/df_res with FE dof
    d = pdf.copy()
    for c in ["y", "x1", "x2"]:
        d[c] = d[c] - d.groupby("firm")[c].transform("mean")
    Xt = d[["x1", "x2"]].to_numpy(float)
    yt = d["y"].to_numpy(float)
    beta, *_ = np.linalg.lstsq(Xt, yt, rcond=None)
    e = yt - Xt @ beta
    n = len(d)
    df_res = n - 2 - 50
    bread = np.linalg.inv(Xt.T @ Xt)
    meat = (Xt * (e**2)[:, None]).T @ Xt
    V = (n / df_res) * bread @ meat @ bread
    np.testing.assert_allclose(m.se().to_numpy(), np.sqrt(np.diag(V)), rtol=1e-6)


def test_demean_cluster(panel):
    df, pdf = panel
    m = dbreg("y ~ x1 + x2 | firm", df, strategy="demean", vcov="~firm")
    d = pdf.copy()
    for c in ["y", "x1", "x2"]:
        d[c] = d[c] - d.groupby("firm")[c].transform("mean")
    Xt = d[["x1", "x2"]].to_numpy(float)
    yt = d["y"].to_numpy(float)
    beta, *_ = np.linalg.lstsq(Xt, yt, rcond=None)
    e = yt - Xt @ beta
    se = cr1_se(Xt, e, pdf["firm"].to_numpy(), n_params=2 + 50)
    np.testing.assert_allclose(m.se().to_numpy(), se, rtol=1e-6)
    assert m.n_clusters == 50


# --------------------------------------------------------------- mundlak ----


def test_mundlak_vs_manual(panel):
    df, pdf = panel
    m = dbreg("y ~ x1 + x2 | firm + year", df, strategy="mundlak")
    d = pdf.copy()
    for f in ["firm", "year"]:
        for x in ["x1", "x2"]:
            d[f"{x}_bar_{f}"] = d.groupby(f)[x].transform("mean")
    xs = ["x1", "x2", "x1_bar_firm", "x2_bar_firm", "x1_bar_year", "x2_bar_year"]
    X = np.column_stack([np.ones(len(d))] + [d[c].to_numpy(float) for c in xs])
    beta, resid = ols_fit(X, d["y"].to_numpy(float))
    se = iid_se(X, resid)
    np.testing.assert_allclose(m.coef().to_numpy(), beta, rtol=1e-6)
    np.testing.assert_allclose(m.se().to_numpy(), se, rtol=1e-6)
    # mundlak slope == within slope on balanced panels
    w = dbreg("y ~ x1 + x2 | firm + year", df, strategy="demean")
    np.testing.assert_allclose(
        m.coef()[["x1", "x2"]], w.coef()[["x1", "x2"]], rtol=1e-6
    )


# -------------------------------------------------------------- compress ----


def test_compress_vs_lsdv(trade):
    df, pdf = trade
    m = dbreg("euros ~ dist_km | destination + origin", df, strategy="compress")
    assert m.nobs == 210 * 170 // 170  # 210 dyads
    assert m.nobs_orig == len(pdf)
    X, names, y = lsdv_matrix(pdf, "euros", ["dist_km"], ["destination", "origin"])
    beta, resid = ols_fit(X, y)
    se = iid_se(X, resid)
    np.testing.assert_allclose(m.coef()["dist_km"], beta[1], rtol=1e-6)
    np.testing.assert_allclose(m.se()["dist_km"], se[1], rtol=1e-6)


def test_compress_cluster(trade):
    df, pdf = trade
    m = dbreg(
        "euros ~ dist_km | destination + origin",
        df,
        strategy="compress",
        vcov="~destination",
    )
    X, names, y = lsdv_matrix(pdf, "euros", ["dist_km"], ["destination", "origin"])
    beta, resid = ols_fit(X, y)
    se = cr1_se(X, resid, pdf["destination"].to_numpy(), n_params=X.shape[1])
    np.testing.assert_allclose(m.se()["dist_km"], se[1], rtol=2e-5)
    assert m.n_clusters == 15


def test_compress_nested_ssc(trade):
    df, pdf = trade
    m_full = dbreg(
        "euros ~ dist_km | destination + origin",
        df,
        strategy="compress",
        vcov="~destination",
        ssc="full",
    )
    m_nested = dbreg(
        "euros ~ dist_km | destination + origin",
        df,
        strategy="compress",
        vcov="~destination",
        ssc="nested",
    )
    # destination FE is nested in destination cluster → K shrinks → SE shrinks
    assert m_nested.se()["dist_km"] < m_full.se()["dist_km"]


def test_compress_data_only(trade):
    df, pdf = trade
    cells = dbreg(
        "euros ~ dist_km | destination + origin", df, strategy="compress", data_only=True
    )
    assert len(cells) == 210
    assert set(["n", "sum_y", "sum_y_sq", "mean_y", "wts"]).issubset(cells.columns)
    assert cells["n"].sum() == len(pdf)


# ------------------------------------------------------------------ auto ----


def test_auto_selects_demean_balanced(panel):
    df, pdf = panel
    m = dbreg("y ~ x1 + x2 | firm + year", df, strategy="auto")
    assert m.strategy == "demean"


def test_auto_unbalanced_twfe_iterative_exact(panel_unbal):
    """Unbalanced TWFE past the transfer limits: auto now routes to iterated
    demeaning and matches the exact LSDV fit (the reference refuses here,
    dbreg.R:641-648)."""
    df, pdf = panel_unbal
    m = dbreg("y ~ x1 + x2 | firm + year", df, strategy="auto")
    X, _, y = lsdv_matrix(pdf, "y", ["x1", "x2"], ["firm", "year"])
    beta, resid = ols_fit(X, y)
    se = iid_se(X, resid)
    np.testing.assert_allclose(m.coef()[["x1", "x2"]], beta[1:3], rtol=1e-6)
    np.testing.assert_allclose(m.se()[["x1", "x2"]], se[1:3], rtol=1e-6)


def test_demean_iter_explicit_unbalanced(panel_unbal):
    """strategy='demean_iter' is the explicit exact-TWFE opt-in."""
    df, pdf = panel_unbal
    m = dbreg("y ~ x1 + x2 | firm + year", df, strategy="demean_iter", vcov="hc1")
    X, _, y = lsdv_matrix(pdf, "y", ["x1", "x2"], ["firm", "year"])
    beta, resid = ols_fit(X, y)
    np.testing.assert_allclose(m.coef()[["x1", "x2"]], beta[1:3], rtol=1e-6)


def test_auto_compressible_picks_compress(trade):
    df, pdf = trade
    m = dbreg("euros ~ dist_km | destination + origin", df, strategy="auto")
    assert m.strategy == "compress"


def test_auto_no_fe_continuous_picks_moments(panel):
    df, pdf = panel
    m = dbreg("y ~ x1 + x2", df, strategy="auto")
    assert m.strategy == "moments"


# -------------------------------------------------- SQL parity (duckdb) -----


def test_demean_sql_matches_duckdb(spark, panel):
    import duckdb

    df, pdf = panel
    df.createOrReplaceTempView("panel_tv")
    sql = dbreg(
        "y ~ x1 + x2 | firm + year",
        table="panel_tv",
        spark=spark,
        strategy="demean",
        sql_only=True,
    )
    con = duckdb.connect()
    con.register("panel_tv", pdf)
    ddf = con.execute(sql).fetchdf()
    row = dbreg(
        "y ~ x1 + x2 | firm + year",
        table="panel_tv",
        spark=spark,
        strategy="demean",
        data_only=True,
    )
    for c in ddf.columns:
        np.testing.assert_allclose(row[c].iloc[0], ddf[c].iloc[0], rtol=1e-7, err_msg=c)


def test_mundlak_sql_matches_duckdb(spark, panel):
    import duckdb

    df, pdf = panel
    df.createOrReplaceTempView("panel_tv")
    sql = dbreg(
        "y ~ x1 + x2 | firm",
        table="panel_tv",
        spark=spark,
        strategy="mundlak",
        sql_only=True,
    )
    con = duckdb.connect()
    con.register("panel_tv", pdf)
    ddf = con.execute(sql).fetchdf()
    row = dbreg(
        "y ~ x1 + x2 | firm",
        table="panel_tv",
        spark=spark,
        strategy="mundlak",
        data_only=True,
    )
    for c in ddf.columns:
        np.testing.assert_allclose(row[c].iloc[0], ddf[c].iloc[0], rtol=1e-7, err_msg=c)


def test_compress_sql_matches_duckdb(spark, trade):
    import duckdb

    df, pdf = trade
    df.createOrReplaceTempView("trade_tv")
    sql = dbreg(
        "euros ~ dist_km | destination + origin",
        table="trade_tv",
        spark=spark,
        strategy="compress",
        sql_only=True,
    )
    con = duckdb.connect()
    con.register("trade_tv", pdf)
    ddf = con.execute(sql).fetchdf().sort_values(["destination", "origin"]).reset_index(drop=True)
    cells = dbreg(
        "euros ~ dist_km | destination + origin",
        table="trade_tv",
        spark=spark,
        strategy="compress",
        data_only=True,
    ).sort_values(["destination", "origin"]).reset_index(drop=True)
    assert len(ddf) == len(cells)
    np.testing.assert_allclose(cells["n"], ddf["n"])
    np.testing.assert_allclose(cells["sum_y"], ddf["sum_y"], rtol=1e-9)


def test_one_scan_means_parity(panel, monkeypatch):
    """The inline means (plan literals) and the cached grouping-sets table
    broadcast past the inline cap produce identical demean/mundlak moments
    (the level-count cap switches between them; both must agree to double
    precision)."""
    from dbreg_spark.plans import levels

    import pyspark.sql.functions as F

    from dbreg_spark.design import build_design
    from dbreg_spark.formula import parse_formula
    from dbreg_spark.plans.common import resolve_source
    from dbreg_spark.plans.frames import (
        build_base_frame,
        build_demeaned_frame,
        build_mundlak_frame,
    )

    df, pdf = panel
    parsed = parse_formula("y ~ x1 + x2 | firm + year")
    source = resolve_source(data=df, spark=df.sparkSession)
    design = build_design(source.df, parsed, expand="all")
    base = build_base_frame(source, parsed, design, want_sql=False)

    def moments(frame):
        cols = [frame.y_col] + frame.x_cols
        aggs = []
        for i in range(len(cols)):
            for j in range(i, len(cols)):
                aggs.append(
                    F.sum(F.col(cols[i]) * F.col(cols[j])).alias(f"s_{i}_{j}")
                )
        return frame.df.agg(*aggs).collect()[0].asDict()

    for builder, kwargs in [
        (build_demeaned_frame, dict(fe=["firm", "year"])),
        (build_mundlak_frame, dict(fe=["firm", "year"], numeric_xvars=["x1", "x2"])),
    ]:
        frame = builder(base, **kwargs)
        assert frame.cached is None  # the means rode in the plan
        m_per = moments(frame)
        with monkeypatch.context() as mp:
            mp.setattr(levels, "INLINE_VALUES", 0)
            frame = builder(base, **kwargs)
            assert frame.cached is not None  # the broadcast path ran
            m_one = moments(frame)
            frame.cleanup()
        assert m_one.keys() == m_per.keys()
        for k in m_one:
            np.testing.assert_allclose(m_one[k], m_per[k], rtol=1e-12, err_msg=k)


def test_mundlak_cluster_survives_intercept_drop(spark):
    """At sf0.001 the x_bar columns of a 2-level FE are near-constant and the
    pivoted QR drops the intercept itself; the meat pass must follow the kept
    coefficient layout instead of assuming the intercept survived."""
    from dbreg_spark.sources.io import load_parquet

    li = load_parquet(spark, "/root/testdata/sf0.001/lineitem.parquet")
    m = dbreg(
        "l_extendedprice ~ l_quantity + l_discount | l_returnflag + l_linestatus",
        li,
        strategy="mundlak",
        vcov="~l_returnflag",
    )
    assert len(m.coef()) >= 5
    assert (m.se() > 0).all()


def test_twoway_cluster_vs_numpy_cgm(panel):
    """Two-way clustered SEs (CGM): V = V_firm + V_year - V_firm_x_year,
    each component a CR1 sandwich — verified against a dense numpy oracle
    on the moments strategy (no FE)."""
    df, pdf = panel
    m = dbreg("y ~ x1 + x2", df, strategy="moments", vcov="~firm + year")
    assert m.cluster_var == "firm+year"

    X = np.column_stack(
        [np.ones(len(pdf)), pdf["x1"].to_numpy(float), pdf["x2"].to_numpy(float)]
    )
    yv = pdf["y"].to_numpy(float)
    beta = np.linalg.lstsq(X, yv, rcond=None)[0]
    e = yv - X @ beta
    bread = np.linalg.inv(X.T @ X)
    n, k = X.shape

    def cr1(keys):
        S = np.zeros((len(set(keys)), k))
        for i, g in enumerate(sorted(set(keys))):
            S[i] = (X[np.asarray(keys) == g] * e[np.asarray(keys) == g, None]).sum(0)
        G = len(S)
        return (G / (G - 1)) * (n / (n - k)) * (bread @ (S.T @ S) @ bread)

    fy = (pdf["firm"].astype(str) + "_" + pdf["year"].astype(str)).tolist()
    V = cr1(pdf["firm"].tolist()) + cr1(pdf["year"].tolist()) - cr1(fy)
    se_oracle = np.sqrt(np.diag(V))
    np.testing.assert_allclose(
        m.se()[["(Intercept)", "x1", "x2"]].to_numpy(), se_oracle, rtol=1e-6
    )
    # demean path runs too and gives the same x1/x2 point estimates
    m2 = dbreg("y ~ x1 + x2 | firm", df, strategy="demean", vcov="~firm + year")
    assert (m2.se() > 0).all()


def test_explicit_demean_unbalanced_warns(spark):
    """User-forced demean on an unbalanced 2-FE panel warns that double
    demeaning differs from exact TWFE (reference: dbreg.R:685-692)."""
    from fixtures import panel_unbalanced

    df = spark.createDataFrame(panel_unbalanced())
    with pytest.warns(UserWarning, match="unbalanced"):
        dbreg("y ~ x1 + x2 | firm + year", df, strategy="demean")
    # balanced panel: no warning
    import warnings as _w

    from fixtures import panel_balanced

    dfb = spark.createDataFrame(panel_balanced())
    with _w.catch_warnings():
        _w.simplefilter("error")
        dbreg("y ~ x1 + x2 | firm + year", dfb, strategy="demean")


def test_nonpsd_vcov_warns():
    """Clipped negative vcov diagonals must be loud (ADVICE r01)."""
    import numpy as np

    from dbreg_spark.solve import gen_coeftable

    V = np.array([[1.0, 0.0], [0.0, -0.5]])
    with pytest.warns(UserWarning, match="negative diagonal"):
        ct = gen_coeftable(np.array([1.0, 2.0]), V, 10.0, ["a", "b"])
    assert ct.loc["b", "std.error"] == 0.0


def _panel_3fe(seed=9, n=800):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "firm": rng.integers(1, 31, n).astype("int64"),
            "year": rng.integers(1, 9, n).astype("int64"),
            "grp": rng.integers(1, 7, n).astype("int64"),
            "x1": rng.normal(size=n),
            "x2": rng.normal(size=n),
        }
    )
    ffe = rng.normal(size=31)
    yfe = rng.normal(size=9)
    gfe = rng.normal(size=7)
    pdf["y"] = (
        1.5 * pdf["x1"]
        - 0.7 * pdf["x2"]
        + ffe[pdf["firm"] - 1]
        + yfe[pdf["year"] - 1]
        + gfe[pdf["grp"] - 1]
        + rng.normal(0, 0.5, n)
    )
    return pdf


def test_demean_3fe_iterative_vs_lsdv(spark):
    """k=3 FEs via iterated demeaning (beyond the reference's 2-FE cap):
    coefficients AND iid SEs must match the LSDV oracle on an unbalanced
    random design."""
    pdf = _panel_3fe()
    df = spark.createDataFrame(pdf)
    m = dbreg("y ~ x1 + x2 | firm + year + grp", df, strategy="demean")
    X, names, y = lsdv_matrix(pdf, "y", ["x1", "x2"], ["firm", "year", "grp"])
    beta, resid = ols_fit(X, y)
    se = iid_se(X, resid)
    np.testing.assert_allclose(m.coef()[["x1", "x2"]], beta[1:3], rtol=1e-6)
    np.testing.assert_allclose(m.se()[["x1", "x2"]], se[1:3], rtol=1e-6)
    assert m.strategy == "demean"


def test_auto_picks_demean_for_3fe_continuous(spark):
    """Continuous regressors + 3 FEs: compression fails → auto routes to
    iterated demeaning instead of raising or collecting cells."""
    pdf = _panel_3fe()
    df = spark.createDataFrame(pdf)
    m = dbreg("y ~ x1 + x2 | firm + year + grp", df, strategy="auto")
    assert m.strategy == "demean"
    X, _, y = lsdv_matrix(pdf, "y", ["x1", "x2"], ["firm", "year", "grp"])
    beta, _ = ols_fit(X, y)
    np.testing.assert_allclose(m.coef()[["x1", "x2"]], beta[1:3], rtol=1e-6)


def test_demean_3fe_cluster_se(spark):
    """Clustered SEs on the iterated-demeaned frame vs dense numpy CR1."""
    pdf = _panel_3fe()
    df = spark.createDataFrame(pdf)
    m = dbreg(
        "y ~ x1 + x2 | firm + year + grp", df, strategy="demean",
        vcov="~firm",
    )
    X, names, y = lsdv_matrix(pdf, "y", ["x1", "x2"], ["firm", "year", "grp"])
    beta, resid = ols_fit(X, y)
    se = cr1_se(X, resid, pdf["firm"].to_numpy(), n_params=X.shape[1])
    np.testing.assert_allclose(m.coef()[["x1", "x2"]], beta[1:3], rtol=1e-6)
    np.testing.assert_allclose(m.se()[["x1", "x2"]], se[1:3], rtol=1e-5)


def test_demean_iter_disconnected_dof(spark):
    """Disconnected 2-FE incidence graph: demean_iter uses the exact dummy
    rank G1 + G2 − C (fixest's correction), and coefficients still match
    LSDV."""
    rng = np.random.default_rng(21)
    rows = []
    for firm in range(1, 11):       # component 1: firms 1-10, years 1-5
        for year in range(1, 6):
            rows.append((firm, year))
    for firm in range(11, 21):      # component 2: firms 11-20, years 6-10
        for year in range(6, 11):
            rows.append((firm, year))
    pdf = pd.DataFrame(rows, columns=["firm", "year"]).astype("int64")
    # drop some rows so the panel is also unbalanced
    pdf = pdf[rng.random(len(pdf)) > 0.1].reset_index(drop=True)
    pdf["x1"] = rng.normal(size=len(pdf))
    pdf["y"] = (
        2.0 * pdf["x1"]
        + 0.3 * pdf["firm"]
        + 0.2 * pdf["year"]
        + rng.normal(0, 0.3, len(pdf))
    )
    df = spark.createDataFrame(pdf)
    m = dbreg("y ~ x1 | firm + year", df, strategy="demean_iter")
    g1, g2 = pdf["firm"].nunique(), pdf["year"].nunique()
    # exact dummy rank: G1 + G2 − 2 components
    assert m.df_residual == len(pdf) - 1 - (g1 + g2 - 2)
    X, _, y = lsdv_matrix(pdf, "y", ["x1"], ["firm", "year"])
    beta, _ = ols_fit(X, y)
    np.testing.assert_allclose(float(m.coef()["x1"]), beta[1], rtol=1e-6)


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_strategy_equivalence_fuzz(spark, seed):
    """Randomized cross-strategy agreement: on a fresh random (hence
    UNBALANCED) panel the iterated-demean and compress estimators must
    reproduce the numpy LSDV within-coefficients and agree on HC1 SEs
    (the compress HC1 meat is constructed to equal the row-level one).
    One-shot 2-FE demeaning and 2-way Mundlak are exact only for balanced
    panels, so they are out of scope here (auto routes around them).
    Discrete regressors so compress genuinely compresses."""
    rng = np.random.default_rng(seed)
    n = 4000
    pdf = pd.DataFrame(
        {
            "f": rng.integers(1, 13, n).astype("int64"),
            "g": rng.integers(1, 5, n).astype("int64"),
            "x1": rng.integers(0, 8, n).astype("float64"),
            "x2": rng.integers(0, 4, n).astype("float64"),
        }
    )
    fe_f = rng.normal(size=13)
    fe_g = rng.normal(size=5)
    pdf["y"] = (
        1.5 * pdf["x1"]
        - 0.7 * pdf["x2"]
        + fe_f[pdf["f"]]
        + fe_g[pdf["g"]]
        + rng.normal(0, 1.0, n)
    )
    df = spark.createDataFrame(pdf)
    fml = "y ~ x1 + x2 | f + g"
    # numpy LSDV reference
    X = np.column_stack(
        [
            pdf["x1"],
            pdf["x2"],
            *(np.eye(13)[pdf["f"]][:, 1:].T),
            *(np.eye(5)[pdf["g"]][:, 1:].T),
        ]
    )
    X = np.column_stack([np.ones(n), X])
    beta = np.linalg.lstsq(X, pdf["y"].to_numpy(), rcond=None)[0]
    want = beta[1:3]
    fits = {
        s: dbreg(fml, df, strategy=s, vcov="hc1")
        for s in ("demean_iter", "compress")
    }
    for s, m in fits.items():
        got = np.array([m.coef()["x1"], m.coef()["x2"]])
        np.testing.assert_allclose(got, want, rtol=1e-6, err_msg=s)
    np.testing.assert_allclose(
        [fits["demean_iter"].se()["x1"], fits["demean_iter"].se()["x2"]],
        [fits["compress"].se()["x1"], fits["compress"].se()["x2"]],
        rtol=1e-5,
    )


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_weighted_strategy_equivalence_fuzz(spark, seed):
    """Randomized WEIGHTED cross-strategy agreement: compress and iterated
    demean must reproduce the numpy WLS-LSDV within-coefficients and agree
    with each other on HC1 SEs, on a fresh unbalanced panel with random
    positive weights."""
    rng = np.random.default_rng(seed)
    n = 4000
    pdf = pd.DataFrame(
        {
            "f": rng.integers(1, 13, n).astype("int64"),
            "g": rng.integers(1, 5, n).astype("int64"),
            "x1": rng.integers(0, 8, n).astype("float64"),
            "x2": rng.integers(0, 4, n).astype("float64"),
            "w": rng.uniform(0.2, 3.0, n),
        }
    )
    fe_f = rng.normal(size=13)
    fe_g = rng.normal(size=5)
    pdf["y"] = (
        1.5 * pdf["x1"]
        - 0.7 * pdf["x2"]
        + fe_f[pdf["f"]]
        + fe_g[pdf["g"]]
        + rng.normal(0, 1.0, n)
    )
    df = spark.createDataFrame(pdf)
    fml = "y ~ x1 + x2 | f + g"
    X = np.column_stack(
        [
            np.ones(n),
            pdf["x1"],
            pdf["x2"],
            *(np.eye(13)[pdf["f"]][:, 1:].T),
            *(np.eye(5)[pdf["g"]][:, 1:].T),
        ]
    )
    wv = pdf["w"].to_numpy()
    beta = np.linalg.solve(
        X.T @ (wv[:, None] * X), X.T @ (wv * pdf["y"].to_numpy())
    )
    want = beta[1:3]

    m_comp = dbreg(fml, df, strategy="compress", vcov="hc1", weights="w")
    m_iter = dbreg(fml, df, strategy="demean_iter", vcov="hc1", weights="w")
    np.testing.assert_allclose(
        m_comp.coef(fe=False)[["x1", "x2"]].to_numpy(), want, rtol=1e-7
    )
    np.testing.assert_allclose(
        m_iter.coef()[["x1", "x2"]].to_numpy(), want, rtol=1e-7
    )
    np.testing.assert_allclose(
        m_comp.se(fe=False)[["x1", "x2"]].to_numpy(),
        m_iter.se()[["x1", "x2"]].to_numpy(),
        rtol=1e-6,
    )
