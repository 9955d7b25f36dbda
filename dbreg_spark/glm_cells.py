"""Cells-compressed GLM: ONE groupBy pass + driver-side IRLS on cells.

For an ALL-DISCRETE design (bin dummies, factor controls) the design row
x_i takes few distinct values, so the whole maximum-likelihood fit is
computable from per-cell sufficient statistics. This is the reference's
compress strategy (R/dbreg.R:1506-1716, Wong et al. "You Only Compress
Once") lifted from OLS to GLMs: at any fixed linear predictor eta_c
(constant within a cell, because x and the offset are the groupBy keys),
every family's per-row log-likelihood, working response w*z, and IRLS
weight is LINEAR in y —

    binomial:  ll = y*eta - softplus(eta);      w*z = w*eta_x + (y-mu)
    poisson:   ll = y*eta - exp(eta);           w*z = w*eta_x + (y-mu)
    negbin:    ll = y*eta - (y+th)ln(th+mu)+c;  w*z = w*eta_x + th(y-mu)/(th+mu)
    gaussian:  ll = -(y-eta)^2/2 (quadratic);   w*z = y - offset

so cell sums {n, SUM w, SUM w*y, SUM w*y^2} are lossless sufficient
statistics (the gaussian quadratic needs the y^2 sum; everything else only
the first two). ONE groupBy(design).agg(...) pass replaces the ~4-10
full-data IRLS scans of the raw path, and the driver iterates in numpy
over <= cells_nmax cell rows.

Robust vcovs ride the same cells: HC1's per-cell SUM (w s)^2 expands in
{SUM w^2, SUM w^2 y, SUM w^2 y^2} (identical to the first-order sums when
unweighted); cluster/Driscoll-Kraay keys join the groupBy so per-group
score sums are exact cell partial sums; unweighted HC2/HC3 leverage is
constant within a cell (h_i = w(eta_c) x'(X'WX)^-1 x). The only vcovs
whose per-row quantity is NOT a cell function — weighted HC2/HC3 (leverage
carries omega_i) and Conley (needs per-row coordinates) — fall back to the
existing one-pass raw-frame meat at the converged beta, so the worst case
is TWO distributed passes.

100 TB contract: the single pass map-side combines into <= n_cells rows
(partial aggregation collapses each input split to its local cells before
the shuffle); the driver holds n_cells x (p + ~8) doubles, guarded by
cells_nmax, and nothing proportional to raw rows ever moves after the
scan. Exceeding the guard falls back to the raw IRLS path with a warning
rather than failing.
"""

from __future__ import annotations

import logging
import math
import warnings

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from .plans.exprs import Cast, Expr, Func, Lit, Var, to_spark
from .plans.meat import MEAT_KIND, cgm_combine, check_groups, sandwich_meat
from .solve import (
    CollinResult,
    compute_vcov,
    detect_collinearity,
    gen_coeftable,
    solve_with_fallback,
)

_log = logging.getLogger("dbreg_spark")

# diagnostics from the last cells fit: distributed pass counts (tests pin
# the one-compress-pass contract here)
_CELLS_PASS_STATS: dict = {}

_W_EPS = 1e-12  # pearson denominator floor — matches glm.py:_W_EPS


def _softplus(eta: np.ndarray) -> np.ndarray:
    """ln(1+e^eta), overflow-safe — same form as _Family.ll's Spark expr."""
    return np.maximum(eta, 0.0) + np.log1p(np.exp(-np.abs(eta)))


class _NpFamily:
    """numpy twins of _Family's per-row Spark expressions, evaluated on
    CELL vectors (eta constant within cell; y enters via the cell sums)."""

    def __init__(self, fam):
        self.name = fam.name
        self.quasi = fam.quasi
        self.theta = float(fam.theta) if fam.theta is not None else None

    def mu(self, eta):
        if self.name == "binomial":
            return 1.0 / (1.0 + np.exp(-eta))
        if self.name in ("poisson", "negbin"):
            return np.exp(eta)
        return eta

    def w(self, mu):
        if self.name == "binomial":
            return mu * (1.0 - mu)
        if self.name == "poisson":
            return mu
        if self.name == "negbin":
            th = self.theta
            return mu * th / (th + mu)
        return np.ones_like(mu)

    def score_factor(self, mu):
        """s = score_factor * (y - mu): 1 except negbin's th/(th+mu)."""
        if self.name == "negbin":
            th = self.theta
            return th / (th + mu)
        return np.ones_like(mu)

    def variance(self, mu):
        if self.name == "binomial":
            return mu * (1.0 - mu)
        if self.name == "poisson":
            return mu
        if self.name == "negbin":
            return mu + mu * mu / self.theta
        return np.ones_like(mu)

    def ll_cells(self, eta, mu, sw, swy, swy2):
        """SUM over cell of omega*ll(eta, y), from the linearity in y."""
        if self.name == "binomial":
            return swy * eta - sw * _softplus(eta)
        if self.name == "poisson":
            return swy * eta - sw * mu
        if self.name == "negbin":
            th = self.theta
            return (
                swy * eta
                - (swy + th * sw) * np.log(th + mu)
                + sw * th * math.log(th)
            )
        return -0.5 * (swy2 - 2.0 * eta * swy + eta * eta * sw)

    def b_cells(self, eta_x, mu, wf, sw, swy, offv):
        """SUM over cell of omega*(w*z), the working-response sum per cell
        (eta_x excludes the offset — _Family.wz's division-free form)."""
        if self.name == "gaussian":
            return swy - offv * sw
        if self.name == "negbin":
            th = self.theta
            return wf * eta_x * sw + th * (swy - mu * sw) / (th + mu)
        return wf * eta_x * sw + (swy - mu * sw)

    def pearson_cells(self, mu, sw, swy, swy2):
        """SUM over cell of omega*(y-mu)^2 / max(V(mu), eps)."""
        e2 = swy2 - 2.0 * mu * swy + mu * mu * sw
        return e2 / np.maximum(self.variance(mu), _W_EPS)


def _d(e: Expr) -> Expr:
    return Cast(e, "double")


def _cells_table(frame, fam, offset, weights, extra_keys, want_w2):
    """The ONE compress pass: groupBy(x_cols [+offset] [+vcov keys]) with
    the per-cell sufficient statistics (+ the first-pass free riders:
    saturated ll, y range, binomial 0/1 detector, weight minimum)."""
    y = _d(Var(frame.y_col))
    om: Expr | None = _d(Var(weights)) if weights is not None else None
    llsat = fam.ll_sat(y)
    proj_exprs: list[tuple[str, Expr]] = [
        ("__y", y),
        ("__wt", om if om is not None else Lit(1.0)),
        ("__llsat", _d(llsat if om is None else om * llsat)),
    ]
    if fam.name == "binomial":
        proj_exprs.append(("__ybad", Func("abs", (y * (Lit(1.0) - y),))))
    keys = list(frame.x_cols)
    if offset is not None:
        keys.append(offset)
    keys += [k for k in extra_keys if k not in keys]
    proj = frame.df.select(
        *[to_spark(e).alias(n) for n, e in proj_exprs],
        *[F.col(k) for k in keys],
    )
    wt, yv = F.col("__wt"), F.col("__y")
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(wt).alias("__sw"),
        F.sum(wt * yv).alias("__swy"),
        F.sum(wt * yv * yv).alias("__swy2"),
        F.sum(F.col("__llsat")).alias("__llsat"),
        F.min(yv).alias("__ymin"),
        F.max(yv).alias("__ymax"),
        F.min(wt).alias("__wmin"),
    ]
    if fam.name == "binomial":
        aggs.append(F.sum(F.col("__ybad")).alias("__ybad"))
    if want_w2:
        aggs += [
            F.sum(wt * wt).alias("__sw2"),
            F.sum(wt * wt * yv).alias("__sw2y"),
            F.sum(wt * wt * yv * yv).alias("__sw2y2"),
        ]
    return proj.groupBy(*[F.col(k) for k in keys]).agg(*aggs), keys


def glm_cells_fit(
    frame,
    parsed,
    design,
    fam,
    vcov_type,
    cluster_vars,
    offset,
    weights,
    l2,
    hac_lag,
    conley_opts,
    max_iter,
    tol,
    verbose,
    cells_nmax,
):
    """Fit the GLM from the compressed cell table; returns a GlmModel, or
    None when the cell count exceeds ``cells_nmax`` (caller falls back to
    the raw IRLS path). The IRLS loop mirrors dbglm's step-halving /
    penalized-likelihood-ascent logic exactly, so the two paths converge
    to the same beta up to summation-order fp noise (pinned at 1e-8)."""
    from .design import standardize_coef_names
    from .guards import is_result_too_large

    _CELLS_PASS_STATS.clear()
    npf = _NpFamily(fam)
    # cluster/time keys join the groupBy so per-group scores stay exact
    # cell partial sums; conley coordinates would explode the cells —
    # its meat falls back to one raw pass instead
    extra_keys: list[str] = []
    if vcov_type in ("cluster", "dk"):
        extra_keys = list(cluster_vars)
    want_w2 = weights is not None and vcov_type in (
        "hc1", "hc2", "hc3", "conley",
    )
    cells_df, keys = _cells_table(
        frame, fam, offset, weights, extra_keys, want_w2
    )
    try:
        rows = cells_df.limit(int(cells_nmax) + 1).collect()
    except Exception as exc:  # maxResultSize abort -> raw fallback
        if is_result_too_large(exc):
            warnings.warn(
                "[dbglm] cells: the compressed table exceeded "
                "spark.driver.maxResultSize; falling back to raw IRLS"
            )
            return None
        raise
    n_cells = len(rows)
    _CELLS_PASS_STATS["n_spark_passes"] = 1
    if n_cells > cells_nmax:
        warnings.warn(
            f"[dbglm] cells: more than cells_nmax={cells_nmax:,} distinct "
            "design rows — the design is not compression-friendly; "
            "falling back to raw IRLS"
        )
        return None
    if n_cells == 0:
        raise ValueError("dbglm: zero rows after missing-value filtering")
    pdf = pd.DataFrame([r.asDict() for r in rows])
    # deterministic summation order (collect order is partition-dependent)
    pdf = pdf.sort_values(keys, kind="mergesort").reset_index(drop=True)
    if verbose:
        _log.info(f"[dbglm] cells: {n_cells:,} cells over {len(keys)} keys")

    x_names = list(frame.x_cols)
    icpt_req = bool(parsed.intercept)
    names_all = (["(Intercept)"] if icpt_req else []) + [
        standardize_coef_names(n) for n in x_names
    ]
    p_all = len(names_all)
    Xall = np.column_stack(
        ([np.ones(n_cells)] if icpt_req else [])
        + [pdf[c].to_numpy(dtype=float) for c in x_names]
    ) if p_all else np.zeros((n_cells, 0))
    offv = (
        pdf[offset].to_numpy(dtype=float)
        if offset is not None
        else np.zeros(n_cells)
    )
    nvec = pdf["__n"].to_numpy(dtype=float)
    sw = pdf["__sw"].to_numpy(dtype=float)
    swy = pdf["__swy"].to_numpy(dtype=float)
    swy2 = pdf["__swy2"].to_numpy(dtype=float)

    # ---- first-pass validation (same messages as the raw path) ----------
    n_total = float(nvec.sum())
    sum_wt = float(sw.sum())
    sum_y = float(swy.sum())
    sum_y_sq = float(swy2.sum())
    ll_sat = float(pdf["__llsat"].to_numpy(dtype=float).sum())
    y_min = float(pdf["__ymin"].min())
    y_max = float(pdf["__ymax"].max())
    if weights is not None and float(pdf["__wmin"].min()) < 0:
        raise ValueError(
            f"dbglm: weights column {weights} contains negative values"
        )
    if fam.name == "binomial":
        if weights is None and float(pdf["__ybad"].sum()) > 0:
            raise ValueError(
                f"dbglm(family='binomial') needs a 0/1 outcome; "
                f"{parsed.yvar} has values outside {{0, 1}}"
            )
        if weights is not None and (y_min < 0 or y_max > 1):
            raise ValueError(
                "dbglm(family='binomial', weights=...) needs a proportion "
                f"outcome in [0, 1]; {parsed.yvar} is outside that range"
            )
    if fam.name in ("poisson", "negbin") and y_min < 0:
        raise ValueError(
            f"dbglm(family={fam.name!r}) needs a non-negative outcome; "
            f"min({parsed.yvar}) = {y_min}"
        )

    def cell_pass(beta_k, Xk):
        """(A, b, ll, pearson) at beta over the kept design — the numpy
        twin of one irls_pass_plan aggregation."""
        eta_x = Xk @ beta_k if Xk.shape[1] else np.zeros(n_cells)
        eta = offv + eta_x
        mu = npf.mu(eta)
        wf = npf.w(mu)
        W = wf * sw
        A = Xk.T @ (Xk * W[:, None])
        bc = npf.b_cells(eta_x, mu, wf, sw, swy, offv)
        b = Xk.T @ bc
        ll = float(npf.ll_cells(eta, mu, sw, swy, swy2).sum())
        p2 = float(npf.pearson_cells(mu, sw, swy, swy2).sum())
        return A, b, ll, p2

    # ---- beta = 0 pass: moments + collinearity --------------------------
    a0, b0, ll0, _ = cell_pass(np.zeros(p_all), Xall)
    if l2 > 0:
        collin = CollinResult(
            a0, b0, list(range(p_all)), list(names_all), [], False
        )
    else:
        collin = detect_collinearity(a0, b0, names_all)
    keep_idx = list(collin.keep_idx)
    names = list(collin.keep_names)
    off0 = 1 if icpt_req else 0
    icpt = icpt_req and 0 in keep_idx
    x_kept = [x_names[i - off0] for i in keep_idx if i >= off0]
    p = len(names)
    Xk = Xall[:, keep_idx]

    penM = np.eye(p) * l2
    if icpt and l2 > 0:
        penM[0, 0] = 0.0

    def pen(b):
        return 0.5 * float(b @ (penM @ b))

    a_k = a0[np.ix_(keep_idx, keep_idx)]
    b_k = b0[np.asarray(keep_idx, dtype=int)]
    sol = solve_with_fallback(a_k + penM, b_k)
    beta = sol.betahat
    ll_prev = ll0
    ll_raw = ll0
    pearson = float(npf.pearson_cells(npf.mu(offv), sw, swy, swy2).sum())
    beta_prev = np.zeros(p)
    converged = False
    gave_up = False
    n_iter = 1
    halvings = 0
    final_a = a_k
    accepted_beta = np.zeros(p)

    if fam.name == "gaussian":
        a2, _b2, ll2, p2 = cell_pass(beta, Xk)
        final_a, ll_prev, ll_raw, pearson = a2, ll2, ll2, p2
        n_iter = 2
        converged = True
    else:
        while n_iter < max_iter:
            a_i, b_i, ll_i, p2_i = cell_pass(beta, Xk)
            llp_i = ll_i - pen(beta)
            n_iter += 1
            if not math.isfinite(llp_i) or llp_i < ll_prev - 1e-10 * (
                abs(ll_prev) + 1.0
            ):
                halvings += 1
                if halvings > 12:
                    warnings.warn(
                        "[dbglm] step-halving failed to restore likelihood "
                        "ascent; stopping at the last accepted coefficients"
                    )
                    gave_up = True
                    break
                beta = 0.5 * (beta + beta_prev)
                continue
            halvings = 0
            final_a, pearson = a_i, p2_i
            accepted_beta = beta
            ll_raw = ll_i
            if verbose:
                _log.info(f"[dbglm] cells iter {n_iter}: ll = {llp_i:.10g}")
            if abs(llp_i - ll_prev) <= tol * (abs(llp_i) + 0.1):
                ll_prev = llp_i
                converged = True
                break
            sol = solve_with_fallback(a_i + penM, b_i)
            beta_prev, beta = beta, sol.betahat
            ll_prev = llp_i
        if not converged:
            beta = accepted_beta
            if not gave_up:
                warnings.warn(
                    f"[dbglm] IRLS did not converge in {max_iter} "
                    f"iterations (family={fam.name}); estimates are the "
                    "last accepted step"
                )

    df_res = max(n_total - p, 1.0)
    info_inv = solve_with_fallback(final_a + penM, np.zeros(p)).xtx_inv
    dispersion = (
        pearson / df_res if (fam.name == "gaussian" or fam.quasi) else 1.0
    )

    # ---- sandwich meats from the same cells ------------------------------
    eta_x = Xk @ beta if p else np.zeros(n_cells)
    eta = offv + eta_x
    mu = npf.mu(eta)
    cfac = npf.score_factor(mu)
    if want_w2:
        sw2 = pdf["__sw2"].to_numpy(dtype=float)
        sw2y = pdf["__sw2y"].to_numpy(dtype=float)
        sw2y2 = pdf["__sw2y2"].to_numpy(dtype=float)
    else:
        sw2, sw2y, sw2y2 = sw, swy, swy2

    meat = n_clusters = None
    if vcov_type == "hc1":
        # SUM over cell of (omega s)^2 expands in the omega^2 sums
        e2w = sw2y2 - 2.0 * mu * sw2y + mu * mu * sw2
        meat = Xk.T @ (Xk * (e2w * cfac * cfac)[:, None])
    elif vcov_type in ("hc2", "hc3"):
        if weights is not None:
            # leverage h_i = omega_i w x'Bx varies within a cell — ONE
            # raw-frame pass at the converged beta (still 2 passes total)
            meat = _raw_meat(
                frame, fam, beta, x_kept, icpt, offset, weights, vcov_type,
                cluster_vars, conley_opts, info_inv,
            )
        else:
            k = 1 if vcov_type == "hc2" else 2
            q = np.einsum("ij,jk,ik->i", Xk, info_inv, Xk)
            h = npf.w(mu) * q
            denom = np.maximum(1.0 - h, 1e-12) ** k
            e2 = swy2 - 2.0 * mu * swy + mu * mu * sw
            meat = Xk.T @ (Xk * (e2 * cfac * cfac / denom)[:, None])
    elif vcov_type in ("cluster", "dk"):
        # per-(cell x group) score sums are exact: SUM omega s = c(swy-mu sw)
        sc = cfac * (swy - mu * sw)
        S = Xk * sc[:, None]
        gcols = pdf[extra_keys]
        if vcov_type == "dk":
            from .plans.meat import nw_combine

            per_t = (
                pd.DataFrame(S).groupby(
                    [gcols[c] for c in extra_keys], sort=True
                ).sum().to_numpy(dtype=float)
            )
            meat, n_clusters, _lag = nw_combine(per_t, hac_lag)
        elif len(cluster_vars) == 1:
            per_g = (
                pd.DataFrame(S).groupby(gcols[cluster_vars[0]], sort=True)
                .sum().to_numpy(dtype=float)
            )
            check_groups(per_g.shape[0], "cluster", cluster_vars, None, None)
            meat = per_g.T @ per_g
            n_clusters = per_g.shape[0]
        else:
            # CGM inclusion-exclusion over the cell-level score sums
            from itertools import combinations

            comps = []
            for k in range(1, len(cluster_vars) + 1):
                for subset in combinations(cluster_vars, k):
                    per_g = (
                        pd.DataFrame(S).groupby(
                            [gcols[c] for c in subset], sort=True
                        ).sum().to_numpy(dtype=float)
                    )
                    check_groups(per_g.shape[0], "cluster", subset, None, None)
                    comps.append((k, per_g.T @ per_g, per_g.shape[0]))
            meat, n_clusters = cgm_combine(comps)
    elif vcov_type == "conley":
        meat = _raw_meat(
            frame, fam, beta, x_kept, icpt, offset, weights, vcov_type,
            cluster_vars, conley_opts,
        )

    return _finish(
        frame, parsed, design, fam, vcov_type, cluster_vars, offset,
        weights, l2, beta, names, collin, info_inv, final_a, penM, meat,
        n_clusters, n_total, sum_wt, sum_y, sum_y_sq, ll_sat, ll_raw,
        pearson, dispersion, df_res, n_iter, converged, p,
    )


def _raw_meat(
    frame, fam, beta, x_kept, icpt, offset, weights, vcov_type, cluster_vars,
    conley_opts, info_inv=None,
):
    """A meat the cells cannot give (row-varying leverage under weights,
    Conley's coordinates): one pass over the raw frame at the converged β."""
    from .glm import _eta_expr, glm_block

    block = glm_block(
        fam, _eta_expr(beta, x_kept, icpt, offset), _d(Var(frame.y_col)),
        x_kept, icpt, weights, info_inv, vcov_type,
    )
    _CELLS_PASS_STATS["n_spark_passes"] += 1
    meat, _ = sandwich_meat(
        frame, [block], MEAT_KIND[vcov_type], cluster_vars or (),
        conley=conley_opts,
    ).one()
    return meat


def _finish(
    frame, parsed, design, fam, vcov_type, cluster_vars, offset, weights,
    l2, beta, names, collin, info_inv, final_a, penM, meat, n_clusters,
    n_total, sum_wt, sum_y, sum_y_sq, ll_sat, ll_raw, pearson, dispersion,
    df_res, n_iter, converged, p,
):
    """Deviance / null-deviance / vcov / coeftable assembly — the same
    closed forms as dbglm's tail (glm.py), shared via _null_deviance."""
    from .glm import GlmModel, _negbin_ll_const, _null_deviance

    ll_final = ll_raw
    deviance = 2.0 * (ll_sat - ll_raw)
    if fam.name == "negbin":
        # the lgamma(y+theta) constant is a y histogram — not a cell
        # function; one tiny grouped raw pass, negbin only
        ll_final = ll_raw + _negbin_ll_const(frame, weights, float(fam.theta))
        _CELLS_PASS_STATS["n_spark_passes"] = (
            _CELLS_PASS_STATS.get("n_spark_passes", 1) + 1
        )
    null_dev = _null_deviance(
        fam, bool(parsed.intercept), offset, sum_wt, sum_y, sum_y_sq, ll_sat
    )
    if fam.name == "gaussian":
        deviance = -2.0 * ll_final

    if vcov_type == "iid":
        V = dispersion * (
            info_inv if l2 == 0 else info_inv @ final_a @ info_inv
        )
    else:
        V = compute_vcov(
            vcov_type, info_inv, deviance, df_res, n_total, p, meat,
            n_clusters,
        )
    use_t = fam.name == "gaussian" or fam.quasi
    ct = gen_coeftable(beta, V, df_res, names, use_z=not use_t)
    frame.cleanup()
    return GlmModel(
        coeftable=ct,
        vcov_=V,
        coef_names=names,
        family=fam.label,
        link=fam.link,
        yvar=parsed.yvar,
        vcov_type=vcov_type,
        cluster_var="+".join(cluster_vars) if cluster_vars else None,
        nobs=int(n_total),
        df_residual=df_res,
        loglik=ll_final,
        deviance=deviance,
        null_deviance=null_dev,
        dispersion=dispersion,
        pearson_chi2=pearson,
        n_iter=n_iter,
        converged=converged,
        collin_vars=collin.drop_names,
        n_clusters=n_clusters,
        design_info=design,
        parsed=parsed,
        query_string=None,
        offset=offset,
        weights_col=weights,
        inference="t" if use_t else "z",
        _betahat=beta,
    )
