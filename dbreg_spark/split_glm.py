"""Split-sample GLM estimation — G generalized linear models fitted in
LOCKSTEP from grouped IRLS passes.

The naive approach runs the IRLS loop per level: G × iterations full
scans. Here every level shares each pass: the per-level coefficient
vectors ride a broadcast (level → β) lookup into the linear predictor, so
one ``groupBy(split)`` aggregation advances ALL levels' Newton steps at
once. Total full-data passes ≈ max iterations over levels (+1 for a
robust/clustered meat) — independent of G. Levels converge (and can
misbehave) independently: step-halving, validity checks, and collinearity
handling are per-level driver-side state; converged levels simply stop
updating while the scan continues (their β is frozen, the extra rows cost
nothing but I/O already being paid).

Families: binomial / poisson / gaussian / quasibinomial / quasipoisson
(quasi dispersion is the per-level Pearson chi^2 / dof from the shared
grouped pass), with ``offset=`` and prior
``weights=`` (R's glm semantics, matching :func:`dbreg_spark.dbglm`);
vcov: model-based (iid), HC1, clustered (1-3 way CGM), or Driscoll-Kraay
(``"dk ~ t"``) via one more grouped score pass over the finest key. Fixed effects are
refused (concentrated-FE profiles do not share a lockstep frame); fit
per level with ``dbglm`` for those.
"""

from __future__ import annotations

import logging
import math
import warnings

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .design import build_design, standardize_coef_names
from .formula import parse_formula, parse_vcov, parse_weights
from .glm import GlmModel, _decode_pass, _scores_block, get_family, glm_block
from .plans.common import resolve_source
from .plans.exprs import (
    Func,
    Lit,
    Var,
    agg_to_spark,
    amax,
    amin,
    asum,
    count_star,
    to_spark,
)
from .plans.frames import build_base_frame
from .plans.levels import with_levels
from .solve import (
    compute_vcov,
    detect_collinearity,
    gen_coeftable,
    solve_with_fallback,
)
from .plans.meat import MEAT_KIND, sandwich_meat
from .split import DbregSplit

_log = logging.getLogger("dbreg_spark")


def _d(e):
    from .plans.exprs import Cast

    return Cast(e, "double")


class GlmSplit(DbregSplit):
    """``{split_level: GlmModel}`` with the stacked ``tidy()`` view."""


def _col_eta(x_names, icpt, offset):
    """η from per-level coefficient COLUMNS __b0..__bk (broadcast-joined),
    instead of the literal-β η the single-model IRLS uses."""
    off = 1 if icpt else 0
    e = _d(Var("__b0")) if icpt else Lit(0.0)
    for j, xn in enumerate(x_names):
        e = e + _d(Var(f"__b{j + off}")) * _d(Var(xn))
    if offset is not None:
        e = _d(Var(offset)) + e
    return e


def _grouped_pass(
    j: DataFrame, fam, split, x_names, icpt, offset, weights, first: bool
):
    """One grouped IRLS aggregation over a frame already carrying the
    per-level __b* coefficient columns. Same spec names as
    glm.irls_pass_plan so ``_decode_pass`` reads each level's row."""
    y = _d(Var("__y_raw"))
    eta_x = _col_eta(x_names, icpt, None)
    off_e = _d(Var(offset)) if offset is not None else None
    eta = off_e + eta_x if off_e is not None else eta_x
    mu = fam.mu(eta)
    w = fam.w(eta, mu)
    wz = fam.wz(eta_x, mu, y, w, off_e)
    ll = fam.ll(eta, mu, y)
    om = _d(Var(weights)) if weights is not None else None
    if om is not None:
        w = om * w
        wz = om * wz
        ll = om * ll
    proj_exprs = [
        ("__w", _d(w)),
        ("__wz", _d(wz)),
        ("__ll", _d(ll)),
        ("__p2", _d(
            fam.pearson_sq(mu, y) if om is None else om * fam.pearson_sq(mu, y)
        )),
    ]
    if first:
        llsat = fam.ll_sat(y)
        proj_exprs.append(("__llsat", _d(llsat if om is None else om * llsat)))
        proj_exprs.append(("__yv", y))
        proj_exprs.append(("__wt", _d(om) if om is not None else Lit(1.0)))
        if fam.name == "binomial":
            proj_exprs.append(("__ybad", Func("abs", (y * (Lit(1.0) - y),))))
    proj = j.select(
        F.col(split).alias("__sp"),
        *[to_spark(e).alias(n) for n, e in proj_exprs],
        *[F.col(n) for n in x_names],
    )
    cols = ([Lit(1.0)] if icpt else []) + [Var(n) for n in x_names]
    p = len(cols)
    spec = [
        ("n_total", count_star()),
        ("ll", asum(Var("__ll"))),
        ("pearson", asum(Var("__p2"))),
    ]
    if first:
        spec += [
            ("ll_sat", asum(Var("__llsat"))),
            ("sum_wt", asum(Var("__wt"))),
            ("wt_min", amin(Var("__wt"))),
            ("sum_y", asum(Var("__wt") * Var("__yv"))),
            ("sum_y_sq", asum(Var("__wt") * Var("__yv") * Var("__yv"))),
            ("y_min", amin(Var("__yv"))),
            ("y_max", amax(Var("__yv"))),
        ]
        if fam.name == "binomial":
            spec.append(("y_bad", asum(Var("__ybad"))))
    wv = Var("__w")
    for i in range(p):
        for k in range(i, p):
            spec.append((f"a_{i}_{k}", asum(wv * _d(cols[i]) * _d(cols[k]))))
    for i in range(p):
        spec.append((f"b_{i}", asum(Var("__wz") * _d(cols[i]))))
    rows = (
        proj.groupBy("__sp")
        .agg(*[agg_to_spark(a).alias(n) for n, a in spec])
        .collect()
    )
    return {r["__sp"]: r.asDict() for r in rows}, p


def _with_beta(df, split, states, p_all):
    """``df`` with each level's ``__b0..__b{p_all-1}`` from driver state
    (full design space: collinearity-dropped columns carry 0). Rows of
    levels not in ``states`` drop out; a NULL split value is a real level.
    Plan literals up to the inline cap (plans/levels.py)."""
    full = np.zeros((len(states), p_all))
    for r, st in enumerate(states.values()):
        full[r, np.asarray(st["keep_idx"], dtype=int)] = st["cand"]
    return with_levels(
        df, split, list(states),
        {f"__b{i}": full[:, i] for i in range(p_all)}, null_safe=True,
    )


def dbglm_split(
    fml: str,
    data=None,
    *,
    split: str,
    family: str = "binomial",
    spark: SparkSession | None = None,
    table: str | None = None,
    path: str | None = None,
    vcov="iid",
    cluster=None,
    weights: str | None = None,
    hac_lag: int | None = None,
    offset: str | None = None,
    drop_missings: bool = True,
    max_iter: int = 25,
    tol: float = 1e-8,
    split_nmax: int = 1000,
    verbose: bool = False,
    conley_cutoff: float | None = None,
    conley_kernel: str = "uniform",
    conley_distance: str = "haversine",
) -> GlmSplit:
    """Fit one GLM per level of ``split`` in lockstep grouped IRLS passes
    (see module docstring). Returns ``{level: GlmModel}``."""
    # parse_vcov caps clustering at 3 variables (CGM subsets grow as 2^k)
    vcov_type, cluster_vars = parse_vcov(vcov, cluster)
    conley_opts = None
    if vcov_type == "conley":
        # batched: every level's spatial meat rides ONE exploded cell join
        # (the level joins the cell key, plans/conley.py:
        # conley_pair_agg_batched) with per-level family scores at the
        # broadcast (level -> beta) table
        if conley_cutoff is None:
            raise ValueError(
                "vcov='conley ~ lat + lon' needs conley_cutoff= (km for "
                "distance='haversine', coordinate units for 'euclidean')"
            )
        conley_opts = (conley_cutoff, conley_kernel, conley_distance)

    weight_col = parse_weights(weights)
    fam = get_family(family)
    if fam.name == "negbin":
        raise NotImplementedError(
            "dbglm_split does not support family='negbin' (the lockstep "
            "frame would need one shared theta across levels, which is "
            "rarely what a split analysis wants); fit per level with "
            "dbglm(family='negbin')"
        )
    parsed = parse_formula(fml)
    if parsed.fe and (fam.name != "poisson" or fam.quasi):
        raise NotImplementedError(
            "dbglm_split absorbs `| fe` fixed effects for the poisson "
            "family only (the log link's FE profile is closed-form — "
            "fepois/PPML, matching dbglm); for other families list "
            "low-cardinality group columns as factor regressors"
        )
    if len(parsed.fe) > 1:
        raise NotImplementedError(
            "dbglm_split absorbs at most ONE fixed effect (the k-FE "
            "alternating profile does not share a lockstep frame); fit "
            "per level with dbglm for k >= 2"
        )
    if spark is None and isinstance(data, DataFrame):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)

    design = build_design(
        source.df, parsed, expand="all", fe_vars=parsed.fe or None
    )
    extra = [split] + (cluster_vars or []) + ([offset] if offset else [])
    base = build_base_frame(
        source, parsed, design, drop_missings,
        extra_cols=extra, want_sql=False, weight_col=weight_col,
    )
    icpt = parsed.intercept
    x_names = list(base.x_cols)
    p_all = (1 if icpt else 0) + len(x_names)
    names_all = (["(Intercept)"] if icpt else []) + [
        standardize_coef_names(n) for n in x_names
    ]
    frame_df = base.df.withColumn(
        "__y_raw", F.col(base.y_col).cast("double")
    ).cache()

    try:
        if parsed.fe:
            if vcov_type == "conley":
                raise NotImplementedError(
                    "dbglm_split(conley) does not batch the per-level "
                    "fepois profiled score pass; fit per level with "
                    "dbglm(family='poisson', vcov='conley ~ lat + lon')"
                )
            names_fe = [standardize_coef_names(n) for n in base.x_cols]
            return _fit_lockstep_fepois(
                frame_df, fam, parsed, split, list(base.x_cols),
                names_fe, offset, weight_col, vcov_type, cluster_vars,
                max_iter, tol, split_nmax, verbose, design, hac_lag,
            )
        return _fit_lockstep(
            frame_df, fam, parsed, split, x_names, names_all, icpt,
            offset, weight_col, vcov_type, cluster_vars, max_iter, tol,
            split_nmax, verbose, p_all, design, hac_lag,
            conley_opts=conley_opts,
        )
    finally:
        frame_df.unpersist()


def _fit_lockstep(
    frame_df, fam, parsed, split, x_names, names_all, icpt, offset,
    weight_col, vcov_type, cluster_vars, max_iter, tol, split_nmax, verbose,
    p_all, design, hac_lag=None, conley_opts=None,
):
    # ---- first pass at β = 0 for every level (no join needed) ------------
    zero = frame_df
    for i in range(p_all):
        zero = zero.withColumn(f"__b{i}", F.lit(0.0))
    first_rows, _p = _grouped_pass(
        zero, fam, split, x_names, icpt, offset, weight_col, first=True
    )
    if len(first_rows) > split_nmax:
        raise ValueError(
            f"split variable {split!r} has more than {split_nmax:,} levels"
        )

    states = {}
    for lvl, row in first_rows.items():
        _validate_level(fam, parsed, weight_col, lvl, row)
        a0, b0, ll0, _n = _decode_pass(row, p_all)
        collin = detect_collinearity(a0, b0, names_all)
        keep = list(collin.keep_idx)
        sol = solve_with_fallback(collin.xtx, collin.xty)
        states[lvl] = dict(
            keep_idx=keep,
            names=list(collin.keep_names),
            collin_drop=list(collin.drop_names),
            cand=sol.betahat,            # candidate β for the NEXT pass
            accepted=np.zeros(len(keep)),
            prev=np.zeros(len(keep)),
            ll_prev=ll0,
            halvings=0,
            converged=False,
            gave_up=False,
            n_iter=1,
            final_row=row,
            final_a=collin.xtx,
            first=row,
        )

    # ---- lockstep Newton passes ------------------------------------------
    it = 1
    while it < max_iter:
        active = {l: s for l, s in states.items() if not s["converged"] and not s["gave_up"]}
        if not active:
            break
        # frozen levels drop out of the scan with the inner lookup
        j = _with_beta(frame_df, split, active, p_all)
        rows, _ = _grouped_pass(
            j, fam, split, x_names, icpt, offset, weight_col, first=False
        )
        it += 1
        for lvl, st in active.items():
            row = rows.get(lvl)
            if row is None:
                st["gave_up"] = True
                continue
            ki = np.asarray(st["keep_idx"], dtype=int)
            a_f, b_f, ll_i, _n = _decode_pass(row, p_all)
            a_i, b_i = a_f[np.ix_(ki, ki)], b_f[ki]
            st["n_iter"] += 1
            if not math.isfinite(ll_i) or ll_i < st["ll_prev"] - 1e-10 * (
                abs(st["ll_prev"]) + 1.0
            ):
                st["halvings"] += 1
                if st["halvings"] > 12:
                    warnings.warn(
                        f"[dbglm_split] level {lvl!r}: step-halving failed; "
                        "stopping at the last accepted coefficients"
                    )
                    st["gave_up"] = True
                    st["cand"] = st["accepted"]
                    continue
                st["cand"] = 0.5 * (st["cand"] + st["prev"])
                continue
            st["halvings"] = 0
            st["final_row"], st["final_a"] = row, a_i
            st["accepted"] = st["cand"]
            if verbose:
                _log.info(f"[dbglm_split] {lvl!r} iter {st['n_iter']}: ll = {ll_i:.10g}")
            if abs(ll_i - st["ll_prev"]) <= tol * (abs(ll_i) + 0.1):
                st["ll_prev"] = ll_i
                st["converged"] = True
                continue
            sol = solve_with_fallback(a_i, b_i)
            st["prev"], st["cand"] = st["cand"], sol.betahat
            st["ll_prev"] = ll_i
    for lvl, st in states.items():
        if not st["converged"] and not st["gave_up"]:
            st["cand"] = st["accepted"]
            warnings.warn(
                f"[dbglm_split] level {lvl!r}: IRLS did not converge in "
                f"{max_iter} iterations; estimates are the last accepted step"
            )
        st["beta"] = st["accepted"]

    # ---- sandwiches: one more grouped pass at the FINAL β ----------------
    meats = {}
    n_clusters = {}
    if vcov_type in MEAT_KIND:
        j = _with_beta(
            frame_df, split,
            {l: dict(s, cand=s["beta"]) for l, s in states.items()}, p_all,
        )
        block = glm_block(
            fam, _col_eta(x_names, icpt, offset), _d(Var("__y_raw")), x_names,
            icpt, weight_col,
        )
        res = sandwich_meat(
            j, [block], MEAT_KIND[vcov_type], cluster_vars or (), by=split,
            lag=hac_lag, conley=conley_opts,
        )
        meats, n_clusters = _kept_meats(res, states), res.g

    out = GlmSplit()
    out.split_var = split
    for lvl, st in states.items():
        out[lvl] = _finish_level(
            lvl, st, fam, parsed, icpt, offset, weight_col, vcov_type,
            cluster_vars, meats.get(lvl), n_clusters.get(lvl), split, design,
        )
    return out


def _validate_level(fam, parsed, weight_col, lvl, row):
    tag = f" in split level {lvl!r}"
    if weight_col is not None:
        # Spark MIN sorts NaN above every real, so a NaN weight slips past a
        # wt_min probe and poisons every IRLS sum — check the (NaN-absorbing)
        # Σw too, matching api._check_weights_valid / split.py
        if not (float(row["wt_min"]) > 0.0) or not math.isfinite(
            float(row["sum_wt"])
        ):
            raise ValueError(
                f"weights column contains non-positive or NaN values{tag}; "
                "weights must be strictly positive"
            )
    if fam.name == "binomial":
        if weight_col is None and float(row.get("y_bad") or 0.0) > 0:
            raise ValueError(
                f"binomial needs a 0/1 outcome; {parsed.yvar} has other "
                f"values{tag}"
            )
    if fam.name == "poisson" and float(row["y_min"]) < 0:
        raise ValueError(f"poisson needs a non-negative outcome{tag}")


def _kept_meats(res, states) -> dict:
    """Each level's kernel meat sliced to its kept coefficient layout."""
    out = {}
    for lvl, (meat,) in res.meats.items():
        ki = np.asarray(states[lvl]["keep_idx"], dtype=int)
        out[lvl] = meat[np.ix_(ki, ki)]
    return out


def _finish_level(
    lvl, st, fam, parsed, icpt, offset, weight_col, vcov_type, cluster_vars,
    meat, n_cl, split, design,
):
    row, first = st["final_row"], st["first"]
    p = len(st["names"])
    n_total = float(row["n_total"])
    ll_final = float(row["ll"])
    ll_sat = float(first["ll_sat"])
    sum_wt = float(first["sum_wt"])
    sum_y = float(first["sum_y"])
    sum_y_sq = float(first["sum_y_sq"])
    deviance = 2.0 * (ll_sat - ll_final)
    ybar = sum_y / sum_wt if sum_wt > 0 else float("nan")
    if offset is not None:
        null_dev = float("nan")
    elif fam.name == "binomial":
        null_ll = (
            sum_y * math.log(ybar) + (sum_wt - sum_y) * math.log(1 - ybar)
            if icpt and 0.0 < ybar < 1.0
            else (0.0 if icpt else -sum_wt * math.log(2.0))
        )
        null_dev = 2.0 * (ll_sat - null_ll)
    elif fam.name == "poisson":
        null_ll = (
            (sum_y * math.log(ybar) - sum_wt * ybar)
            if icpt and ybar > 0
            else (0.0 if icpt else -sum_wt)
        )
        null_dev = 2.0 * (ll_sat - null_ll)
    else:
        null_dev = sum_y_sq - (sum_y**2 / sum_wt if icpt else 0.0)
    if fam.name == "gaussian":
        deviance = -2.0 * ll_final

    df_res = max(n_total - p, 1.0)
    info_inv = solve_with_fallback(st["final_a"], np.zeros(p)).xtx_inv
    pearson = float(row["pearson"])
    # quasi families: PER-LEVEL Pearson dispersion from the same grouped
    # pass (no extra scan), matching dbglm / R's summary.glm convention
    dispersion = (
        pearson / df_res if (fam.name == "gaussian" or fam.quasi) else 1.0
    )
    if vcov_type == "iid":
        V = dispersion * info_inv
    else:
        V = compute_vcov(
            vcov_type, info_inv, deviance, df_res, n_total, p, meat, n_cl
        )
    # estimated dispersion (gaussian / quasi) => t inference, R convention
    use_t = fam.name == "gaussian" or fam.quasi
    ct = gen_coeftable(st["beta"], V, df_res, st["names"], use_z=not use_t)
    return GlmModel(
        coeftable=ct,
        vcov_=V,
        coef_names=st["names"],
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
        n_iter=st["n_iter"],
        converged=bool(st["converged"]),
        collin_vars=st["collin_drop"],
        n_clusters=n_cl,
        design_info=design,
        parsed=parsed,
        offset=offset,
        weights_col=weight_col,
        inference="t" if use_t else "z",
        _betahat=np.asarray(st["beta"], dtype=float),
    )


# --------------------------------------------------------------------------
# 1-FE Poisson (PPML) split: the profiled Newton step in lockstep
# --------------------------------------------------------------------------


def _fepois_col_m(x_names, offset):
    """(y, full_eta, m = e^{o+x'beta}) with the per-level beta riding the
    broadcast __b* COLUMNS — the column-beta twin of glm._fepois_exprs."""
    y = _d(Var("__y_raw"))
    eta_x = _col_eta(x_names, False, None)  # no intercept: the FE absorbs it
    full = _d(Var(offset)) + eta_x if offset is not None else eta_x
    return y, full, Func("exp", (full,))


def _fepois_group_table(j, split, fe, x_names, offset, weight_col):
    """Pass 1: per-(level, fe-group) sums W_g = sum(w*m), Y_g = sum(w*y),
    T_gj = sum(w*m*x_j) — glm.fepois_group_table keyed on (split, fe)."""
    y, _full, m = _fepois_col_m(x_names, offset)
    om = _d(Var(weight_col)) if weight_col is not None else None
    wm = om * m if om is not None else m
    wy = om * y if om is not None else y
    aggs = [
        F.sum(to_spark(_d(wm))).alias("__Wg"),
        F.sum(to_spark(_d(wy))).alias("__Yg"),
    ]
    for k, xn in enumerate(x_names):
        aggs.append(F.sum(to_spark(_d(wm) * _d(Var(xn)))).alias(f"__T{k}"))
    return j.groupBy(split, fe).agg(*aggs)


def _fepois_profiled_rows(
    j, gtab, split, fe, x_names, offset, weight_col, first, extra_keys=None
):
    """Pass 2 projection: join the (level, group) table back and emit the
    per-row profiled quantities — glm.fepois_profiled_rows with column
    betas; the lambda-free group means T_gj/W_g make mu = (Y_g/W_g)*m.
    The log-form likelihood (ln Y_g - ln W_g + eta) keeps near-separation
    steps finite exactly as the single-model path does (glm.py)."""
    from .plans.exprs import CaseGE

    y, full_eta, m = _fepois_col_m(x_names, offset)
    om = _d(Var(weight_col)) if weight_col is not None else None
    lam = Var("__Yg") / Var("__Wg")
    mu = lam * m
    wexpr = om * mu if om is not None else mu
    score = (om if om is not None else Lit(1.0)) * (y - mu)
    lnlam = Func("ln", (Var("__Yg"),)) - Func("ln", (Var("__Wg"),))
    ylnmu = CaseGE(y, 0.0, y * (lnlam + full_eta), strict=True)
    ll = (om if om is not None else Lit(1.0)) * (ylnmu - mu)
    proj = [
        F.col(split).alias("__sp"),
        to_spark(_d(wexpr)).alias("__w"),
        to_spark(_d(score)).alias("__s"),
        to_spark(_d(ll)).alias("__ll"),
    ]
    if first:
        llsat = CaseGE(y, 0.0, y * Func("ln", (y,)) - y, strict=True)
        if om is not None:
            llsat = om * llsat
        proj.append(to_spark(_d(llsat)).alias("__llsat"))
        proj.append(to_spark(y).alias("__yv"))
        proj.append(
            to_spark(_d(om) if om is not None else Lit(1.0)).alias("__wt")
        )
        # raw regressors ride the first pass: sum(w*x^2) is the scale the
        # absorbed-column check compares sum(w*xt^2) against
        for k, xn in enumerate(x_names):
            proj.append(to_spark(_d(Var(xn))).alias(f"__xr{k}"))
    for k, xn in enumerate(x_names):
        xt = _d(Var(xn)) - Var(f"__T{k}") / Var("__Wg")
        proj.append(to_spark(xt).alias(f"__xt{k}"))
    return j.join(gtab, [split, fe]).select(*(extra_keys or []), *proj)


def _fepois_level_agg(rows_df, p, first):
    """Pass 2 aggregation per level: the profiled Newton system plus the
    first-pass diagnostics, one row per split level."""
    aggs = [
        F.count(F.lit(1)).alias("n_total"),
        F.sum("__ll").alias("ll"),
    ]
    if first:
        aggs += [
            F.sum("__llsat").alias("ll_sat"),
            F.min("__yv").alias("y_min"),
            F.min("__wt").alias("wt_min"),
            F.sum("__wt").alias("sum_wt"),
        ]
        for i in range(p):
            aggs.append(
                F.sum(F.col("__w") * F.col(f"__xr{i}") * F.col(f"__xr{i}"))
                .alias(f"d_{i}")
            )
    for i in range(p):
        for k in range(i, p):
            aggs.append(
                F.sum(F.col("__w") * F.col(f"__xt{i}") * F.col(f"__xt{k}"))
                .alias(f"a_{i}_{k}")
            )
    for i in range(p):
        aggs.append(F.sum(F.col("__s") * F.col(f"__xt{i}")).alias(f"b_{i}"))
    return {
        r["__sp"]: r.asDict()
        for r in rows_df.groupBy("__sp").agg(*aggs).collect()
    }


def _fepois_decode(row, p):
    a = np.zeros((p, p))
    b = np.zeros(p)
    for i in range(p):
        b[i] = float(row[f"b_{i}"] or 0.0)
        for k in range(i, p):
            v = float(row[f"a_{i}_{k}"] or 0.0)
            a[i, k] = a[k, i] = v
    ll = float(row["ll"]) if row["ll"] is not None else math.nan
    return a, b, ll


# observability for tests: distributed pass counts of the last
# _fit_lockstep_fepois call (each Newton "pass" = one collect-bearing
# grouped job over the corpus shared by every active level)
_FEPOIS_SPLIT_STATS: dict = {}


def _fit_lockstep_fepois(
    frame_df, fam, parsed, split, x_names, names_all, offset,
    weight_col, vcov_type, cluster_vars, max_iter, tol, split_nmax, verbose,
    design, hac_lag=None,
):
    """fepois/PPML per split level from lockstep profiled Newton passes.

    Each iteration is TWO grouped passes shared by every level (the
    single-model shape, glm._fe_poisson, with the split column added to
    both groupBys): (1) the (level, fe-group) weighted-mean table at each
    level's candidate beta; (2) the profiled system per level. Driver
    state — step-halving, absorbed/collinear column drops, convergence —
    is per level; converged levels drop out of the joins via the inner
    broadcast (level -> beta) lookup, so pass counts track the SLOWEST
    level, not the level count. vcov mirrors dbglm: bread = profiled
    information, k = p + G_level in the small-sample factors.
    """
    fe = parsed.fe[0]
    p_all = len(x_names)

    def _passes(states_sel, first):
        j = _with_beta(frame_df, split, states_sel, p_all)
        gtab = _fepois_group_table(j, split, fe, x_names, offset, weight_col)
        rows_df = _fepois_profiled_rows(
            j, gtab, split, fe, x_names, offset, weight_col, first
        )
        return _fepois_level_agg(rows_df, p_all, first)

    # ---- first pass at beta = 0 for every level (literal zero columns —
    # no broadcast join needed) -------------------------------------------
    zero = frame_df
    for i in range(p_all):
        zero = zero.withColumn(f"__b{i}", F.lit(0.0))
    gtab0 = _fepois_group_table(zero, split, fe, x_names, offset, weight_col)
    rows0 = _fepois_profiled_rows(
        zero, gtab0, split, fe, x_names, offset, weight_col, first=True
    )
    first_rows = _fepois_level_agg(rows0, p_all, first=True)
    _FEPOIS_SPLIT_STATS.clear()
    _FEPOIS_SPLIT_STATS["newton_passes"] = 1
    if len(first_rows) > split_nmax:
        raise ValueError(
            f"split variable {split!r} has more than {split_nmax:,} levels"
        )

    states = {}
    for lvl, row in first_rows.items():
        tag = f" in split level {lvl!r}"
        if weight_col is not None and (
            not (float(row["wt_min"]) > 0.0)
            or not math.isfinite(float(row["sum_wt"]))
        ):
            raise ValueError(
                f"weights column contains non-positive or NaN values{tag}; "
                "weights must be strictly positive"
            )
        if float(row["y_min"]) < 0:
            raise ValueError(f"poisson needs a non-negative outcome{tag}")
        a0, b0, ll0 = _fepois_decode(row, p_all)
        if not math.isfinite(ll0):
            raise ValueError(
                f"dbglm_split fe_poisson: non-finite likelihood at the "
                f"starting point beta=0{tag} — the offset/outcome scale "
                "overflows exp(); rescale the offset column"
            )
        # absorbed columns (constant within FE groups in this level):
        # sum(w*xt^2) <= tol * sum(w*x^2), then the usual rank check —
        # glm._fe_poisson's two collinearity layers, per level
        d_raw = np.array([float(row[f"d_{i}"] or 0.0) for i in range(p_all)])
        absorbed = [
            i for i in range(p_all)
            if a0[i, i] <= 1e-10 * max(d_raw[i], 1e-300)
        ]
        survive = [i for i in range(p_all) if i not in absorbed]
        dropped = [names_all[i] for i in absorbed]
        sub_a = a0[np.ix_(survive, survive)]
        sub_b = b0[np.asarray(survive, dtype=int)] if survive else b0[:0]
        collin = detect_collinearity(
            sub_a, sub_b, [names_all[i] for i in survive]
        )
        keep = [survive[i] for i in collin.keep_idx]
        dropped = dropped + list(collin.drop_names)
        sol = solve_with_fallback(collin.xtx, collin.xty)
        states[lvl] = dict(
            keep_idx=keep,
            names=[names_all[i] for i in keep],
            collin_drop=dropped,
            cand=sol.betahat,
            accepted=np.zeros(len(keep)),
            prev=np.zeros(len(keep)),
            ll_prev=ll0,
            halvings=0,
            converged=False,
            gave_up=False,
            n_iter=1,
            final_row=row,
            final_a=collin.xtx,
            first=row,
        )

    # ---- lockstep profiled Newton passes -----------------------------------
    it = 1
    while it < max_iter:
        active = {
            l: s for l, s in states.items()
            if not s["converged"] and not s["gave_up"]
        }
        if not active:
            break
        rows = _passes(active, first=False)
        _FEPOIS_SPLIT_STATS["newton_passes"] += 1
        it += 1
        for lvl, st in active.items():
            row = rows.get(lvl)
            if row is None:
                st["gave_up"] = True
                st["cand"] = st["accepted"]
                continue
            ki = np.asarray(st["keep_idx"], dtype=int)
            a_f, b_f, ll_i = _fepois_decode(row, p_all)
            a_i = a_f[np.ix_(ki, ki)]
            b_i = b_f[ki]
            st["n_iter"] += 1
            if not math.isfinite(ll_i) or ll_i < st["ll_prev"] - 1e-10 * (
                abs(st["ll_prev"]) + 1.0
            ):
                st["halvings"] += 1
                if st["halvings"] > 12:
                    warnings.warn(
                        f"[dbglm_split] level {lvl!r}: step-halving failed; "
                        "stopping at the last accepted coefficients"
                    )
                    st["gave_up"] = True
                    st["cand"] = st["accepted"]
                    continue
                st["cand"] = 0.5 * (st["cand"] + st["prev"])
                continue
            st["halvings"] = 0
            st["final_row"], st["final_a"] = row, a_i
            st["accepted"] = st["cand"]
            if verbose:
                _log.info(
                    f"[dbglm_split fepois] {lvl!r} iter {st['n_iter']}: "
                    f"ll = {ll_i:.10g}"
                )
            if abs(ll_i - st["ll_prev"]) <= tol * (abs(ll_i) + 0.1):
                st["ll_prev"] = ll_i
                st["converged"] = True
                continue
            sol = solve_with_fallback(a_i, b_i)
            st["prev"], st["cand"] = st["cand"], st["cand"] + sol.betahat
            st["ll_prev"] = ll_i
    for lvl, st in states.items():
        if not st["converged"] and not st["gave_up"]:
            st["cand"] = st["accepted"]
            warnings.warn(
                f"[dbglm_split] level {lvl!r}: fe_poisson did not converge "
                f"in {max_iter} iterations; estimates are the last accepted "
                "step"
            )
        st["beta"] = st["accepted"]
        _FEPOIS_SPLIT_STATS["max_level_iters"] = max(
            _FEPOIS_SPLIT_STATS.get("max_level_iters", 1), st["n_iter"]
        )

    # ---- final-beta group table: G per level, fixef plans, meat pass -------
    j_f = _with_beta(
        frame_df, split,
        {l: dict(s, cand=s["beta"]) for l, s in states.items()}, p_all,
    )
    gtab_f = _fepois_group_table(
        j_f, split, fe, x_names, offset, weight_col
    ).persist()
    g_counts = {
        r["__sp"]: int(r["g"])
        for r in gtab_f.groupBy(F.col(split).alias("__sp"))
        .agg(F.count(F.lit(1)).alias("g"))
        .collect()
    }

    meats: dict = {}
    n_clusters: dict = {}
    try:
        if vcov_type in ("hc1", "cluster", "dk"):
            keys = list(cluster_vars) if vcov_type in ("cluster", "dk") else []
            sc = _fepois_profiled_rows(
                j_f, gtab_f, split, fe, x_names, offset, weight_col,
                first=False, extra_keys=keys,
            )
            res = sandwich_meat(
                sc, [_scores_block(p_all)], MEAT_KIND[vcov_type], keys,
                by="__sp", lag=hac_lag,
            )
            meats, n_clusters = _kept_meats(res, states), res.g
    finally:
        gtab_f.unpersist()

    # lazy UNPERSISTED per-level fixef plans: alpha_g = ln(Y_g/W_g)
    # (NULL marks the lambda=0 perfectly-predicted groups, as in dbglm)
    fixef_plans = {
        lvl: gtab_f.where(F.col(split).eqNullSafe(F.lit(lvl)))
        .select(F.col(fe), F.log(F.col("__Yg") / F.col("__Wg")).alias("fixef"))
        for lvl in states
    }

    out = GlmSplit()
    out.split_var = split
    for lvl, st in states.items():
        row, first = st["final_row"], st["first"]
        p = len(st["names"])
        n_total = float(row["n_total"])
        ll_final = float(row["ll"])
        ll_sat = float(first["ll_sat"])
        deviance = 2.0 * (ll_sat - ll_final)
        g_lvl = g_counts.get(lvl, 0)
        k_eff = p + g_lvl
        df_res = max(n_total - k_eff, 1.0)
        info_inv = solve_with_fallback(st["final_a"], np.zeros(p)).xtx_inv
        if vcov_type == "iid":
            V = info_inv
        else:
            V = compute_vcov(
                vcov_type, info_inv, deviance, df_res, n_total, k_eff,
                meats.get(lvl), n_clusters.get(lvl),
            )
        ct = gen_coeftable(st["beta"], V, df_res, st["names"], use_z=True)
        out[lvl] = GlmModel(
            coeftable=ct,
            vcov_=V,
            coef_names=st["names"],
            family=fam.label,
            link=fam.link,
            yvar=parsed.yvar,
            vcov_type=vcov_type,
            cluster_var="+".join(cluster_vars) if cluster_vars else None,
            nobs=int(n_total),
            df_residual=df_res,
            loglik=ll_final,
            deviance=deviance,
            null_deviance=float("nan"),
            dispersion=1.0,
            pearson_chi2=float("nan"),
            n_iter=st["n_iter"],
            converged=bool(st["converged"]),
            collin_vars=st["collin_drop"],
            n_clusters=n_clusters.get(lvl),
            design_info=design,
            parsed=parsed,
            offset=offset,
            weights_col=weight_col,
            fe=list(parsed.fe),
            n_fe_levels=g_lvl,
            inference="z",
            _betahat=np.asarray(st["beta"], dtype=float),
            _fe_table=fixef_plans.get(lvl),
        )
    return out
