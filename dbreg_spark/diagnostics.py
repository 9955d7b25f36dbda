"""Post-estimation diagnostic tests (lmtest-style, distributed).

Breusch-Pagan / Koenker and White heteroskedasticity tests for fitted
:class:`DbregModel` results. Each test is ONE auxiliary regression of the
squared residual on (functions of) the model's design columns, run through
``dbreg``'s moments machinery — a single sufficient-statistics pass over
the data, with the LM statistic and chi-square p-value assembled
driver-side (stats.chi2_sf — no scipy).

Models with absorbed fixed effects (unweighted) run the WITHIN variants
(strategy='demean': the demeaned frame is rebuilt with the estimator's
own plans/frames transform, the within residual ỹ − X̃β̂ comes from the
stored literal β, and the aux regressions use the demeaned design
columns) or the CRE variants (strategy='mundlak': the CRE residual
y − β̂₀ − Xβ̂ − x̄γ̂ is per-row computable from the rebuilt augmented
frame, and the aux regressions use the [X, x̄] design). BG stays refused
for both — serial-correlation testing on within/CRE residuals is a
different test family. Only compress models are refused (cells carry no
per-row residual). Factor
regressors are fine — the auxiliary regression runs over the model's
EXPANDED design columns, and collinear aux terms (e.g. the square of a
dummy) are dropped by the standard pivoted-QR layer, with the test df
following the kept count (White's convention).
"""

from __future__ import annotations

import numpy as np

from .plans.exprs import Cast, Lit, Var, to_spark
from .stats import chi2_sf


def _check_fe_supported(model, what: str):
    """FE models are supported on the DEMEAN path (within residual from
    the rebuilt demeaned frame) and the MUNDLAK path (the CRE residual
    y − β̂₀ − Xβ̂ − x̄γ̂ IS per-row computable at the stored literal
    coefficients — the design folds group means in, it does not aggregate
    rows away). Only compress is refused: its cells have no per-row
    residual. Returns the strategy name, or False for non-FE models."""
    if not model.fe:
        return False
    if model.strategy not in ("demean", "mundlak"):
        raise NotImplementedError(
            f"{what} on a strategy={model.strategy!r} FE model: compress "
            "aggregates rows into cells, so no per-row residual exists. "
            "Refit with strategy='demean' or 'mundlak'."
        )
    if model.weight_col:
        raise NotImplementedError(
            f"{what} for weighted FE models is not defined here (the "
            "within/CRE transform is w-weighted but the classic aux "
            "regressions are unweighted); run the test on the unweighted "
            "refit, or use robust vcov directly"
        )
    return model.strategy


def _within_frame(model, data):
    """Rebuild the estimator's demeaned frame on ``data`` and return
    ``(df, znames)``: ``__u`` = within residual (ỹ − X̃β̂ at the stored
    literal β), ``__f`` = within fit X̃β̂, ``__z<i>`` = the demeaned KEPT
    design columns. One means pass + one projection — the same
    plans/frames machinery as estimation, so the transform cannot drift
    from the fit."""
    import pyspark.sql.functions as F

    from .design import standardize_coef_names
    from .plans.common import resolve_source
    from .plans.frames import (
        build_base_frame,
        build_demeaned_frame,
        build_demeaned_frame_iterative,
    )

    parsed, design = model.parsed, model.design_info
    if parsed is None or design is None:
        raise ValueError(
            "model does not carry formula/design info; cannot rebuild the "
            "demeaned frame"
        )
    source = resolve_source(data.sparkSession, data=data)
    base = build_base_frame(
        source, parsed, design, drop_missings=True, want_sql=False
    )
    fe = list(model.fe)
    if getattr(model, "demean_iterated", False) or len(fe) > 2:
        frame = build_demeaned_frame_iterative(base, fe)
    else:
        frame = build_demeaned_frame(base, fe, cache_means=False)
    b = dict(
        zip(model.coeftable.index, model.coeftable["estimate"].astype(float))
    )
    kept = []
    for raw in frame.x_cols:
        cname = standardize_coef_names(raw)
        if cname in b:
            kept.append((raw, cname))
    fit = F.lit(0.0)
    for raw, cname in kept:
        fit = fit + F.lit(b[cname]) * F.col(raw).cast("double")
    sel = [
        (F.col(frame.y_col).cast("double") - fit).alias("__u"),
        fit.alias("__f"),
        *[
            F.col(raw).cast("double").alias(f"__z{i}")
            for i, (raw, _) in enumerate(kept)
        ],
    ]
    return frame.df.select(*sel), [f"__z{i}" for i in range(len(kept))]


def _mundlak_frame(model, data):
    """Rebuild the estimator's CRE-augmented frame on ``data`` and return
    ``(df, znames)``: ``__u`` = the CRE residual y − (β̂₀ + Xβ̂ + x̄γ̂) at
    the stored literal coefficients, ``__f`` = the fitted value, ``__z<i>``
    = the kept [X, x̄] design columns. One means pass per FE + one
    projection — the same plans/frames build as estimation
    (build_mundlak_frame), so the augmentation cannot drift from the fit.
    ``cache_means=False`` keeps the build cache-free (the diagnostic's
    consumers run lazily after this function returns)."""
    import pyspark.sql.functions as F

    from .design import standardize_coef_names
    from .plans.common import resolve_source
    from .plans.frames import build_base_frame, build_mundlak_frame

    parsed, design = model.parsed, model.design_info
    if parsed is None or design is None:
        raise ValueError(
            "model does not carry formula/design info; cannot rebuild the "
            "mundlak frame"
        )
    source = resolve_source(data.sparkSession, data=data)
    base = build_base_frame(
        source, parsed, design, drop_missings=True, want_sql=False
    )
    frame = build_mundlak_frame(
        base, list(model.fe), design.numeric_vars, cache_means=False
    )
    b = dict(
        zip(model.coeftable.index, model.coeftable["estimate"].astype(float))
    )
    kept = []
    for raw in frame.x_cols:
        cname = standardize_coef_names(raw)
        if cname in b:
            kept.append((raw, cname))
    fit = F.lit(float(b.get("(Intercept)", 0.0)))
    for raw, cname in kept:
        fit = fit + F.lit(b[cname]) * F.col(raw).cast("double")
    sel = [
        (F.col(frame.y_col).cast("double") - fit).alias("__u"),
        fit.alias("__f"),
        *[
            F.col(raw).cast("double").alias(f"__z{i}")
            for i, (raw, _) in enumerate(kept)
        ],
    ]
    return frame.df.select(*sel), [f"__z{i}" for i in range(len(kept))]


def _fe_frame(model, data, mode):
    return (_within_frame if mode == "demean" else _mundlak_frame)(
        model, data
    )


def _aux_frame(model, data):
    """(aux DataFrame with __u2 + __z<i> design columns, z names)."""
    import pyspark.sql.functions as F

    from .design import standardize_coef_names

    mode = _check_fe_supported(model, "heteroskedasticity tests")
    if mode:
        wdf, znames = _fe_frame(model, data, mode)
        u = F.col("__u")
        return wdf.select((u * u).alias("__u2"), *znames), znames
    name_to_expr = dict(
        zip(
            [standardize_coef_names(n) for n in model.design_info.names],
            model.design_info.exprs,
        )
    )
    kept = [n for n in model.coef_names if n != "(Intercept)"]
    missing = [n for n in kept if n not in name_to_expr]
    if missing:
        raise ValueError(f"no design expression for {missing}")
    icpt = "(Intercept)" in model.coef_names
    b = np.asarray(model.coeftable["estimate"].values, dtype=float)
    off = 1 if icpt else 0
    fit = Lit(float(b[0])) if icpt else Lit(0.0)
    for j, n in enumerate(kept):
        fit = fit + Lit(float(b[j + off])) * Cast(name_to_expr[n], "double")
    u = Cast(Var(model.yvar), "double") - fit
    zcols = [
        to_spark(Cast(name_to_expr[n], "double")).alias(f"__z{i}")
        for i, n in enumerate(kept)
    ]
    aux = data.select(
        to_spark(u * u).alias("__u2"), *zcols
    )
    return aux, [f"__z{i}" for i in range(len(kept))]


def bp_test(model, data) -> dict:
    """Breusch-Pagan LM test (Koenker's studentized form, the R
    ``lmtest::bptest`` default): LM = n R² from regressing the squared
    residual on the model's regressors; LM ~ chi²(k) under
    homoskedasticity. One distributed moments pass."""
    from .api import dbreg

    aux, znames = _aux_frame(model, data)
    if not znames:
        raise ValueError("bp_test needs at least one non-intercept regressor")
    m = dbreg(
        "__u2 ~ " + " + ".join(znames), aux, strategy="moments", vcov="iid"
    )
    lm = float(m.nobs_orig) * float(m.r2())
    df = len(m.coef_names) - (1 if "(Intercept)" in m.coef_names else 0)
    return {
        "statistic": lm,
        "df": df,
        "p_value": chi2_sf(lm, df),
        "method": "studentized Breusch-Pagan (Koenker)",
    }


def white_test(model, data) -> dict:
    """White's general test: the auxiliary regression adds squares and
    pairwise products of the regressors; collinear aux terms (dummy
    squares etc.) are dropped and the df follows the kept count."""
    import pyspark.sql.functions as F

    from .api import dbreg

    aux, znames = _aux_frame(model, data)
    if not znames:
        raise ValueError("white_test needs at least one non-intercept regressor")
    prods = []
    for i in range(len(znames)):
        for j in range(i, len(znames)):
            prods.append(
                (F.col(znames[i]) * F.col(znames[j])).alias(f"__w{i}_{j}")
            )
    aux2 = aux.select("*", *prods)
    terms = znames + [
        f"__w{i}_{j}"
        for i in range(len(znames))
        for j in range(i, len(znames))
    ]
    m = dbreg(
        "__u2 ~ " + " + ".join(terms), aux2, strategy="moments", vcov="iid"
    )
    lm = float(m.nobs_orig) * float(m.r2())
    df = len(m.coef_names) - (1 if "(Intercept)" in m.coef_names else 0)
    return {
        "statistic": lm,
        "df": df,
        "p_value": chi2_sf(lm, df),
        "method": "White",
    }


def reset_test(model, data, powers=(2, 3)) -> dict:
    """Ramsey RESET: refit with powers of the fitted value added
    (``y ~ X + fit^2 + fit^3`` by default) and F-test the added terms
    against the original fit's stored RSS — ONE extra moments pass.
    F ~ F(q, n - k_u) under correct functional form."""
    import pyspark.sql.functions as F

    from .api import dbreg
    from .stats import f_sf

    mode = _check_fe_supported(model, "reset_test")
    if mode:
        # within-RESET: refit ỹ ~ X̃ + (X̃β̂)^p on the demeaned frame
        # (mundlak: y ~ [X, x̄] + fit^p on the CRE-augmented frame) and
        # F-test the added powers against the stored RSS; the demean
        # denominator df keeps the absorbed-FE correction via the model's
        # own df_residual, the mundlak one has no correction to make
        wdf, znames = _fe_frame(model, data, mode)
        sel = [
            (F.col("__u") + F.col("__f")).alias("__yt"),
            *znames,
            *[(F.col("__f") ** int(p_)).alias(f"__f{p_}") for p_ in powers],
        ]
        aux = wdf.select(*sel)
        terms = znames + [f"__f{p_}" for p_ in powers]
        mu = dbreg("__yt ~ " + " + ".join(terms), aux, strategy="moments")
        rss_r, rss_u = float(model.rss), float(mu.rss)
        q = sum(1 for n in mu.coef_names if n.startswith("__f"))
        if q == 0:
            raise ValueError(
                "reset_test: every added power was collinear; the test is "
                "undefined for this model"
            )
        df2 = (
            float(model.df_residual) - q
            if mode == "demean"
            else float(mu.df_residual)
        )
        stat = ((rss_r - rss_u) / q) / (rss_u / df2)
        return {
            "statistic": stat,
            "df1": q,
            "df2": df2,
            "p_value": f_sf(stat, q, df2),
            "method": f"Ramsey RESET ({mode}, powers {tuple(powers)})",
        }
    from .design import standardize_coef_names

    name_to_expr = dict(
        zip(
            [standardize_coef_names(n) for n in model.design_info.names],
            model.design_info.exprs,
        )
    )
    kept = [n for n in model.coef_names if n != "(Intercept)"]
    icpt = "(Intercept)" in model.coef_names
    b = np.asarray(model.coeftable["estimate"].values, dtype=float)
    off = 1 if icpt else 0
    fit = Lit(float(b[0])) if icpt else Lit(0.0)
    for j, n in enumerate(kept):
        fit = fit + Lit(float(b[j + off])) * Cast(name_to_expr[n], "double")
    sel = [
        to_spark(Cast(Var(model.yvar), "double")).alias("__y"),
        *[
            to_spark(Cast(name_to_expr[n], "double")).alias(f"__z{i}")
            for i, n in enumerate(kept)
        ],
    ]
    fit_col = to_spark(Cast(fit, "double"))
    for p_ in powers:
        sel.append((fit_col ** int(p_)).alias(f"__f{p_}"))
    aux = data.select(*sel)
    terms = [f"__z{i}" for i in range(len(kept))] + [
        f"__f{p_}" for p_ in powers
    ]
    mu = dbreg("__y ~ " + " + ".join(terms), aux, strategy="moments")
    rss_r, rss_u = float(model.rss), float(mu.rss)
    # q = ADDED terms that survived collinearity in the unrestricted fit
    q = sum(1 for n in mu.coef_names if n.startswith("__f"))
    if q == 0:
        raise ValueError(
            "reset_test: every added power was collinear; the test is "
            "undefined for this model"
        )
    df2 = float(mu.df_residual)
    stat = ((rss_r - rss_u) / q) / (rss_u / df2)
    return {
        "statistic": stat,
        "df1": q,
        "df2": df2,
        "p_value": f_sf(stat, q, df2),
        "method": f"Ramsey RESET (powers {tuple(powers)})",
    }


def jb_test(model, data) -> dict:
    """Jarque-Bera residual normality test: ONE pass over the literal-β
    residual collects Σu..Σu⁴; JB = n/6 (S² + (K−3)²/4) ~ chi²(2)."""
    import pyspark.sql.functions as F

    from .design import standardize_coef_names

    mode = _check_fe_supported(model, "jb_test")
    if mode:
        wdf, _zn = _fe_frame(model, data, mode)
        return _jb_from_proj(wdf.select("__u"))
    name_to_expr = dict(
        zip(
            [standardize_coef_names(n) for n in model.design_info.names],
            model.design_info.exprs,
        )
    )
    kept = [n for n in model.coef_names if n != "(Intercept)"]
    icpt = "(Intercept)" in model.coef_names
    b = np.asarray(model.coeftable["estimate"].values, dtype=float)
    off = 1 if icpt else 0
    fit = Lit(float(b[0])) if icpt else Lit(0.0)
    for j, n in enumerate(kept):
        fit = fit + Lit(float(b[j + off])) * Cast(name_to_expr[n], "double")
    u = Cast(Var(model.yvar), "double") - fit
    proj = data.select(to_spark(Cast(u, "double")).alias("__u"))
    return _jb_from_proj(proj)


def _jb_from_proj(proj) -> dict:
    """JB statistic from ONE Σu..Σu⁴ pass over a ``__u`` projection."""
    import pyspark.sql.functions as F

    from .stats import chi2_sf

    uc = F.col("__u")
    row = proj.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(uc).alias("s1"),
        F.sum(uc * uc).alias("s2"),
        F.sum(uc * uc * uc).alias("s3"),
        F.sum(uc * uc * uc * uc).alias("s4"),
    ).collect()[0]
    n = float(row["n"])
    m1 = float(row["s1"]) / n
    # central moments from raw sums
    m2 = float(row["s2"]) / n - m1 * m1
    m3 = float(row["s3"]) / n - 3 * m1 * m2 - m1**3
    m4 = (
        float(row["s4"]) / n
        - 4 * m1 * (float(row["s3"]) / n)
        + 6 * m1 * m1 * (float(row["s2"]) / n)
        - 3 * m1**4
    )
    if m2 <= 0:
        raise ValueError("jb_test: residuals are constant")
    S = m3 / m2**1.5
    K = m4 / m2**2
    jb = n / 6.0 * (S * S + (K - 3.0) ** 2 / 4.0)
    return {
        "statistic": jb,
        "df": 2,
        "skewness": S,
        "kurtosis": K,
        "p_value": chi2_sf(jb, 2),
        "method": "Jarque-Bera",
    }


def bg_test(model, data, *, time: str, order: int = 1, panel: str | None = None) -> dict:
    """Breusch-Godfrey serial-correlation LM test: regress the residual on
    the model regressors plus its own ``order`` lags; LM = n_eff R² ~
    chi²(order) under no autocorrelation.

    ``panel`` orders lags WITHIN each unit (the window shuffles by the
    panel key — scale-safe; rows at each unit's start lack lags and drop
    out, the lmtest ``fill=NA`` convention). Without a panel the lag
    window is a single global sort — fine for one time series, warned
    against for big data."""
    import warnings

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from .api import dbreg
    from .design import standardize_coef_names

    if model.fe:
        raise NotImplementedError(
            "bg_test is not defined for absorbed-FE models here (lagged "
            "WITHIN or CRE residuals test a different null than the "
            "raw-residual Breusch-Godfrey; use Wooldridge's panel "
            "serial-correlation test on first differences instead)"
        )
    if order < 1:
        raise ValueError("order must be >= 1")
    name_to_expr = dict(
        zip(
            [standardize_coef_names(n) for n in model.design_info.names],
            model.design_info.exprs,
        )
    )
    kept = [n for n in model.coef_names if n != "(Intercept)"]
    icpt = "(Intercept)" in model.coef_names
    b = np.asarray(model.coeftable["estimate"].values, dtype=float)
    off = 1 if icpt else 0
    fit = Lit(float(b[0])) if icpt else Lit(0.0)
    for j, n in enumerate(kept):
        fit = fit + Lit(float(b[j + off])) * Cast(name_to_expr[n], "double")
    u = Cast(Var(model.yvar), "double") - fit
    sel = [
        to_spark(Cast(u, "double")).alias("__u"),
        *[
            to_spark(Cast(name_to_expr[n], "double")).alias(f"__z{i}")
            for i, n in enumerate(kept)
        ],
        F.col(time).alias("__t"),
    ]
    if panel is not None:
        sel.append(F.col(panel).alias("__p"))
        win = Window.partitionBy("__p").orderBy("__t")
    else:
        warnings.warn(
            "[bg_test] no panel= given: the lag window is a single global "
            "sort — fine for one series, not for large data"
        )
        win = Window.orderBy("__t")
    aux = data.select(*sel)
    for k in range(1, order + 1):
        aux = aux.withColumn(f"__ul{k}", F.lag("__u", k).over(win))
    aux = aux.dropna(subset=[f"__ul{k}" for k in range(1, order + 1)])
    terms = [f"__z{i}" for i in range(len(kept))] + [
        f"__ul{k}" for k in range(1, order + 1)
    ]
    m = dbreg("__u ~ " + " + ".join(terms), aux, strategy="moments")
    lm = float(m.nobs_orig) * float(m.r2())
    return {
        "statistic": lm,
        "df": order,
        "p_value": chi2_sf(lm, order),
        "method": f"Breusch-Godfrey (order {order})",
    }


def overdispersion_test(model, data) -> dict:
    """Cameron-Trivedi (1990) overdispersion test for a fitted POISSON
    GLM: regress z = ((y − μ̂)² − y) / μ̂ on μ̂ without an intercept and
    t-test the slope (H0 no overdispersion; alpha > 0 ⇒ NB2-type
    variance μ + α μ², exactly the α that dbglm(family='negbin')'s
    two-step inverts for theta). ONE pass over the scored frame."""
    import pyspark.sql.functions as F

    from .stats import t_sf

    if getattr(model, "family", "").split("(")[0] not in ("poisson", "quasipoisson"):
        raise ValueError(
            "overdispersion_test applies to poisson-family models"
        )
    scored = model.predict(data, type="response")
    y = F.col(model.yvar).cast("double")
    mu = F.col("fit").cast("double")
    # Floor the denominator like glm.py's Pearson residuals (_W_EPS): a mu
    # that underflows to 0.0 would make z NULL/Inf, silently dropping the
    # row from the score sums while still counting it in n and the t df.
    z = ((y - mu) * (y - mu) - y) / F.greatest(mu, F.lit(1e-12))
    row = (
        scored.where(y.isNotNull() & mu.isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(z * mu).alias("num"),
            F.sum(mu * mu).alias("den"),
            F.sum(z * z).alias("zz"),
            F.sum(z).alias("zs"),
        )
        .collect()[0]
    )
    n = float(row["n"])
    alpha = float(row["num"]) / float(row["den"])
    # OLS-through-origin se of alpha: s^2 / sum(mu^2), s^2 from residuals
    rss = float(row["zz"]) - 2 * alpha * float(row["num"]) + alpha**2 * float(row["den"])
    se = (max(rss, 0.0) / max(n - 1, 1) / float(row["den"])) ** 0.5
    t = alpha / se if se > 0 else float("inf")
    return {
        "statistic": t,
        "alpha": alpha,
        "df": n - 1,
        "p_value": float(t_sf(t, n - 1)) if np.isfinite(t) else 0.0,
        "method": "Cameron-Trivedi overdispersion (NB2 alternative)",
    }


def mundlak_hausman(fml: str, data=None, *, vcov=None, **kwargs) -> dict:
    """Wooldridge's regression-based (Mundlak) Hausman test: fit the CRE
    model (within slopes + group-mean regressors) and jointly Wald-test
    the ``<x>_bar_<fe>`` coefficients. Rejecting says the unit effects
    correlate with the regressors — use fixed effects, not random
    effects.

    ``vcov`` defaults to CLUSTERING ON THE FIRST FE UNIT — under the RE
    null the unit effect itself correlates errors within unit, so an
    unclustered sandwich badly over-rejects (hc1 measured p≈4e-4 on an
    exactly-null simulated panel where the clustered test gives ~0.4).
    This is Wooldridge's recommended robust form; the classic chi-square
    Hausman additionally needs homoskedasticity. One mundlak fit = the
    usual one-scan means + moment passes."""
    from .api import dbreg
    from .formula import parse_formula

    if vcov is None:
        fe = parse_formula(fml).fe
        if not fe:
            raise ValueError("mundlak_hausman needs a `| fe` part")
        vcov = f"~ {fe[0]}"
    m = dbreg(fml, data, strategy="mundlak", vcov=vcov, **kwargs)
    bar = [n for n in m.coef_names if "_bar_" in n]
    if not bar:
        raise ValueError(
            "mundlak_hausman: the CRE fit carries no group-mean "
            "regressors (no numeric regressors, or no FE part in the "
            "formula)"
        )
    w = m.wald(bar)
    return {
        "statistic": w["stat"],
        "df1": w["df1"],
        "df2": w["df2"],
        "p_value": w["p.value"],
        "tested": bar,
        "method": "Mundlak-Hausman (CRE group-mean Wald)",
        "model": m,
    }


def wooldridge_fd_test(
    fml: str, data=None, *, panel: str, time: str, **kwargs
) -> dict:
    """Wooldridge's (2002, §10.6.3) first-difference test for serial
    correlation in panel models (Drukker 2003 / Stata ``xtserial``): fit
    Δy on Δx (no constant — it differences out), then regress the FD
    residual on its own within-panel lag; under NO serial correlation in
    the LEVEL errors, corr(e_it, e_i,t-1) = −0.5, so the test is the
    panel-clustered Wald of slope = −0.5. This is the right tool for
    absorbed-FE models (bg_test's raw-residual null does not transfer to
    within residuals — its FE refusal points here).

    Distributed plan: one within-panel window pass builds the Δ frame,
    one moments pass fits the FD regression, one more window + moments +
    clustered-meat pass tests the lag slope — no driver-side data.

    ``fml`` is the LEVELS formula (``y ~ x1 + x2``, optionally
    ``| panel`` which must match ``panel=``); numeric regressors only.
    ``time`` must be unique within each panel for a deterministic lag.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from .api import dbreg
    from .formula import parse_formula
    from .stats import t_sf

    parsed = parse_formula(fml)
    if parsed.fe and parsed.fe != [panel]:
        raise ValueError(
            f"wooldridge_fd_test: the formula's FE part {parsed.fe} must "
            f"be the panel unit {panel!r} (unit effects difference out; "
            "other FEs do not)"
        )
    if any(len(t.vars) > 1 for t in parsed.terms):
        raise ValueError("wooldridge_fd_test supports additive numeric terms")
    y, xs = parsed.yvar, [t.vars[0] for t in parsed.terms]

    w = Window.partitionBy(panel).orderBy(time)
    dcols = [
        (F.col(v).cast("double") - F.lag(F.col(v).cast("double")).over(w)).alias(
            f"__d{i}"
        )
        for i, v in enumerate([y] + xs)
    ]
    fd = (
        data.select(F.col(panel).alias("__p"), F.col(time).alias("__t"), *dcols)
        .dropna(subset=[f"__d{i}" for i in range(1 + len(xs))])
    )
    rhs = " + ".join([f"__d{i}" for i in range(1, 1 + len(xs))] + ["0"])
    m1 = dbreg(f"__d0 ~ {rhs}", fd, strategy="moments", vcov="iid", **kwargs)
    b = dict(
        zip(m1.coeftable.index, m1.coeftable["estimate"].astype(float))
    )
    e = F.col("__d0")
    for i in range(1, 1 + len(xs)):
        name = f"__d{i}"
        if name in b:  # collinear FD regressors carry beta = 0
            e = e - F.lit(b[name]) * F.col(name)
    w2 = Window.partitionBy("__p").orderBy("__t")
    aux = (
        fd.select("__p", "__t", e.alias("__e"))
        .withColumn("__el", F.lag("__e").over(w2))
        .dropna(subset=["__el"])
    )
    m2 = dbreg(
        "__e ~ __el + 0", aux, strategy="moments", vcov="~ __p",
    )
    slope = float(m2.coeftable["estimate"]["__el"])
    se = float(m2.coeftable["std.error"]["__el"])
    g = int(m2.n_clusters or 0)
    df = max(g - 1, 1)
    stat = (slope + 0.5) / se
    return {
        "statistic": stat,
        "slope": slope,
        "se": se,
        "df": df,
        "n_clusters": g,
        # two-sided vs the point null (Drukker's xtserial uses F(1, G-1),
        # equivalent to |t| two-sided)
        "p_value": float(2.0 * t_sf(abs(stat), df)),
        "method": "Wooldridge FD serial-correlation (H0: slope = -0.5)",
    }
