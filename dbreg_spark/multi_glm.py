"""Multiple GLM estimation from shared passes (fixest ``feglm`` + ``sw()``).

The GLM counterpart of :mod:`multi`: every submodel of

    dbglm_multi("c(y1, y2) ~ x1 + csw(x2, x3)", df, family="poisson")

advances its IRLS in LOCKSTEP — each iteration is ONE aggregation pass in
which every still-active model contributes its own per-row weight /
working-response / log-likelihood columns (at its own literal β) and its
own A = X'WX, b = X'Wz sums over ITS column subset. Pass count therefore
tracks the SLOWEST model, not the model count; the robust sandwiches
batch into one more pass (HC1 / one-way CR1 / DK; multiway CGM is one
pass per cluster subset shared by all models). ``GlmMulti.n_passes``
records the actual count for tests to pin.

Same documented semantics as dbreg_multi: common complete-case sample
over the union variable set, union contrast coding. Families: binomial /
poisson / gaussian / quasi variants / negbin. negbin with ``theta=None``
runs the PER-MODEL two-step: poisson lockstep to convergence, ONE shared
scored pass computing every model's Cameron-Trivedi alpha-hat, then a
negbin lockstep refit where each model carries its own fixed theta
(per-model _Family objects in the same shared aggregation). ML theta
profiling stays per model (``dbglm(theta='ml')``). No absorbed FEs
(dbglm's fepois profile has no shared multi-model frame); list
low-cardinality groups as factor regressors.
"""

from __future__ import annotations

import logging
import math
import warnings

import numpy as np
import pyspark.sql.functions as F

from .design import standardize_coef_names
from .formula import ParsedFormula, parse_formula, parse_vcov, parse_weights
from .glm import GlmModel, _d, _eta_expr, get_family, glm_block
from .multi import DbregMulti, _union_design, parse_multi_formula
from .plans.common import resolve_source, run_agg
from .plans.exprs import (
    Agg,
    Expr,
    Lit,
    Var,
    amax,
    amin,
    asum,
    count_star,
    to_spark,
)
from .plans.frames import build_base_frame
from .plans.meat import MEAT_KIND, sandwich_meat
from .solve import compute_vcov, detect_collinearity, gen_coeftable, solve_with_fallback

_log = logging.getLogger("dbreg_spark")


class GlmMulti(DbregMulti):
    """Ordered dict of fitted :class:`GlmModel` (same container API)."""


def _decode_block(row, prefix, p):
    a = np.zeros((p, p))
    b = np.zeros(p)
    for i in range(p):
        b[i] = float(row[f"{prefix}b_{i}"])
        for j in range(i, p):
            v = float(row[f"{prefix}a_{i}_{j}"])
            a[i, j] = a[j, i] = v
    return a, b, float(row[f"{prefix}ll"])


def dbglm_multi(
    fml: str,
    data=None,
    *,
    spark=None,
    table: str | None = None,
    path: str | None = None,
    family: str = "binomial",
    vcov: str | None = "iid",
    cluster=None,
    offset: str | None = None,
    weights: str | None = None,
    theta: float | None = None,
    hac_lag: int | None = None,
    max_iter: int = 25,
    tol: float = 1e-8,
    drop_missings: bool = True,
    verbose: bool = False,
    conley_cutoff: float | None = None,
    conley_kernel: str = "uniform",
    conley_distance: str = "haversine",
    _spec=None,
    _case_vars: list[str] | None = None,
) -> GlmMulti:
    """Fit every submodel of a stepwise / multi-outcome GLM formula in
    lockstep (module docstring has the pass accounting).

    Width guard: a lockstep iteration whose aggregation would exceed
    ``multi.MULTI_AGG_MAX`` columns (Σ per-model Gram blocks) is
    automatically segmented by steps into separate lockstep fits — each
    segment keeps the FULL union complete-case sample via the shared null
    filter, so only ``n_passes`` changes, never results. A single step too
    wide on its own raises. ``_spec`` / ``_case_vars`` are the internal
    segmentation hooks (pre-parsed sub-spec; full union variable list)."""
    fam = get_family(family, theta=theta)
    # negbin with theta=None runs the PER-MODEL two-step (Cameron-Trivedi):
    # poisson lockstep to convergence -> ONE shared scored pass computing
    # every model's alpha-hat -> negbin lockstep refit with each model's
    # own fixed theta (per-model _Family objects ride the same shared
    # aggregation). ML theta profiling stays per-model (dbglm theta='ml').
    want_auto_theta = fam.name == "negbin" and fam.theta is None
    vcov_type, cluster_vars = parse_vcov(vcov, cluster, valid=("iid", "hc1"))
    if vcov_type == "cr3":
        raise NotImplementedError(
            f"dbglm_multi does not support vcov={vcov!r}; fit per model "
            "with dbglm"
        )
    conley_opts = None
    if vcov_type == "conley":
        # batched like dbreg_multi: every model's spatial meat (family
        # scores at its own final beta) rides ONE exploded cell join
        if conley_cutoff is None:
            raise ValueError(
                "vcov='conley ~ lat + lon' needs conley_cutoff= (km for "
                "distance='haversine', coordinate units for 'euclidean')"
            )
        conley_opts = (conley_cutoff, conley_kernel, conley_distance)
    weight_col = parse_weights(weights)

    spec = _spec if _spec is not None else parse_multi_formula(fml)
    if spec.fe_str:
        raise NotImplementedError(
            "dbglm_multi does not absorb `| fe` fixed effects (dbglm's "
            "fepois profile has no shared multi-model frame); list "
            "low-cardinality groups as factor regressors, or fit per "
            "model with dbglm"
        )
    subs: dict[tuple[str, str], ParsedFormula] = {}
    for y in spec.lhs:
        for label, rhs1 in spec.steps:
            subs[(y, label)] = parse_formula(f"{y} ~ {rhs1}")
    parsed_list = list(subs.values())
    icpts = {p.intercept for p in parsed_list}
    if len(icpts) != 1:
        raise ValueError("all submodels must share the intercept setting")
    icpt_req = icpts.pop()

    from .multi import union_parsed_formula

    uparsed = union_parsed_formula(parsed_list, spec.lhs, [], icpt_req)

    if spark is None and hasattr(data, "sparkSession"):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)
    from .api import _require_columns
    from .design import classify_columns

    _require_columns(
        source.df,
        list(
            dict.fromkeys(
                spec.lhs + uparsed.xvars
                + (cluster_vars or [])
                + [c for c in (offset, weight_col) if c]
            )
        ),
    )
    ytypes = classify_columns(source.df, spec.lhs)
    bad = [y for y, t in ytypes.items() if t != "numeric"]
    if bad:
        raise ValueError(f"outcome variables must be numeric: {bad}")

    design, col_term, _ty = _union_design(source.df, uparsed, [])

    # ---- lockstep-width guard / auto-segmentation (multi.MULTI_AGG_MAX) --
    from .multi import MULTI_AGG_MAX, MultiSpec

    _tc: dict[str, list[str]] = {}
    for n, t in zip(design.names, col_term):
        _tc.setdefault(t, []).append(n)

    def _step_block(label: str) -> int:
        """One model's aggregate-column count for this step: ll + pearson
        + b_i (p) + upper-triangular a_{i,j} (p(p+1)/2)."""
        sub_x: list[str] = []
        for t in subs[(spec.lhs[0], label)].terms:
            for c in _tc.get(t.label, []):
                if c not in sub_x:
                    sub_x.append(c)
        p = (1 if icpt_req else 0) + len(sub_x)
        return 2 + p + p * (p + 1) // 2

    step_costs = {lab: len(spec.lhs) * _step_block(lab) for lab, _ in spec.steps}
    if 1 + sum(step_costs.values()) > MULTI_AGG_MAX:
        groups: list[list[tuple[str, str]]] = []
        cur: list[tuple[str, str]] = []
        cur_cost = 1
        for lab, rhs1 in spec.steps:
            c = step_costs[lab]
            if 1 + c > MULTI_AGG_MAX:
                raise ValueError(
                    f"dbglm_multi: step {lab or rhs1!r} alone needs "
                    f"{1 + c:,} aggregate columns per lockstep iteration "
                    f"(> MULTI_AGG_MAX={MULTI_AGG_MAX:,}), past the width "
                    "where one Catalyst aggregate degrades. Narrow the "
                    "step, or fit it per model with dbglm."
                )
            if cur and cur_cost + c > MULTI_AGG_MAX:
                groups.append(cur)
                cur, cur_cost = [], 1
            cur.append((lab, rhs1))
            cur_cost += c
        if cur:
            groups.append(cur)
        parts = [
            dbglm_multi(
                fml, data=data, spark=spark, table=table, path=path,
                family=family, vcov=vcov, cluster=cluster, offset=offset,
                weights=weights, theta=theta, hac_lag=hac_lag,
                max_iter=max_iter, tol=tol, drop_missings=drop_missings,
                verbose=verbose, conley_cutoff=conley_cutoff,
                conley_kernel=conley_kernel, conley_distance=conley_distance,
                _spec=MultiSpec(lhs=spec.lhs, steps=g, fe_str=""),
                _case_vars=_case_vars
                or list(dict.fromkeys(uparsed.xvars + spec.lhs)),
            )
            for g in groups
        ]
        merged: dict = {}
        for part in parts:
            merged.update(part.models)
        return GlmMulti(
            models={k: merged[k] for k in subs},
            lhs=spec.lhs,
            steps=[s for s, _ in spec.steps],
            n_passes=sum(p.n_passes for p in parts),
            query_string=None,
        )

    aux = [c for c in (offset, weight_col) if c]
    frame = build_base_frame(
        source, uparsed, design, drop_missings,
        extra_cols=(list(cluster_vars) if cluster_vars else []) + aux or None,
        want_sql=False, weight_col=weight_col,
        extra_filter_cols=_case_vars,
    )
    if aux and drop_missings:
        cond = None
        for c in aux:
            cc = F.col(c).isNotNull()
            cond = cc if cond is None else (cond & cc)
        frame.df = frame.df.where(cond)
    fdf = frame.df.cache()
    try:
        n_passes = 0

        term_cols: dict[str, list[str]] = {}
        for n, t in zip(design.names, col_term):
            term_cols.setdefault(t, []).append(n)

        # per-model column subsets (frame column names; outcomes map to selves)
        class _M:
            pass

        models: list[_M] = []
        for key, p in subs.items():
            m = _M()
            m.key = key
            m.parsed = p
            m.y = key[0] if key[0] != spec.lhs[0] else frame.y_col
            sub_x: list[str] = []
            for t in p.terms:
                for c in term_cols.get(t.label, []):
                    if c not in sub_x:
                        sub_x.append(c)
            m.x = sub_x
            m.p_all = (1 if icpt_req else 0) + len(sub_x)
            m.names_all = (["(Intercept)"] if icpt_req else []) + [
                standardize_coef_names(n) for n in sub_x
            ]
            m.fam = get_family("poisson") if want_auto_theta else fam
            models.append(m)

        om: Expr | None = _d(Var(weight_col)) if weight_col else None
        off_e: Expr | None = _d(Var(offset)) if offset else None

        def pass_once(active, first=False):
            """ONE aggregation advancing every model in ``active``."""
            nonlocal n_passes
            proj_exprs: list[tuple[str, Expr]] = []
            spec_aggs: list[tuple[str, Agg]] = [("n_total", count_star())]
            carry: list[str] = []
            for k, m in enumerate(active):
                y = _d(Var(m.y))
                beta = m.cand_full  # full-width β (dropped cols as 0)
                eta_x = _eta_expr(beta, m.x, icpt_req)
                eta = off_e + eta_x if off_e is not None else eta_x
                mu = m.fam.mu(eta)
                w = m.fam.w(eta, mu)
                wz = m.fam.wz(eta_x, mu, y, w, off_e)
                ll = m.fam.ll(eta, mu, y)
                p2 = m.fam.pearson_sq(mu, y)
                if om is not None:
                    w, wz, ll, p2 = om * w, om * wz, om * ll, om * p2
                proj_exprs += [
                    (f"m{k}__w", _d(w)),
                    (f"m{k}__wz", _d(wz)),
                    (f"m{k}__ll", _d(ll)),
                    (f"m{k}__p2", _d(p2)),
                ]
                spec_aggs.append((f"m{k}_ll", asum(Var(f"m{k}__ll"))))
                spec_aggs.append((f"m{k}_pearson", asum(Var(f"m{k}__p2"))))
                cols = ([Lit(1.0)] if icpt_req else []) + [Var(n) for n in m.x]
                for i in range(len(cols)):
                    for j in range(i, len(cols)):
                        spec_aggs.append(
                            (
                                f"m{k}_a_{i}_{j}",
                                asum(Var(f"m{k}__w") * _d(cols[i]) * _d(cols[j])),
                            )
                        )
                    spec_aggs.append(
                        (f"m{k}_b_{i}", asum(Var(f"m{k}__wz") * _d(cols[i])))
                    )
                carry += m.x
            if first:
                # per-outcome diagnostics (shared across models with the same y)
                # saturated ll is PER MODEL (negbin's depends on each model's
                # theta); min/max/sum diagnostics stay per outcome
                for k, m in enumerate(active):
                    yv = _d(Var(m.y))
                    llsat = m.fam.ll_sat(yv)
                    proj_exprs.append(
                        (f"m{k}__sat", _d(llsat if om is None else om * llsat))
                    )
                    spec_aggs.append((f"m{k}_ll_sat", asum(Var(f"m{k}__sat"))))
                for yi, yn in enumerate(dict.fromkeys([m.y for m in active])):
                    yv = _d(Var(yn))
                    spec_aggs += [
                        (f"y{yi}_min", amin(yv)),
                        (f"y{yi}_max", amax(yv)),
                        (f"y{yi}_sum", asum(om * yv if om is not None else yv)),
                    ]
                    if fam.name == "binomial" and om is None:
                        from .plans.exprs import Func

                        proj_exprs.append(
                            (f"y{yi}__bad", Func("abs", (yv * (Lit(1.0) - yv),)))
                        )
                        spec_aggs.append(
                            (f"y{yi}_bad", asum(Var(f"y{yi}__bad")))
                        )
                spec_aggs.append(
                    ("sum_wt", asum(om if om is not None else Lit(1.0)))
                )
                if om is not None:
                    spec_aggs.append(("wt_min", amin(om)))
            carry_all = dict.fromkeys(
                carry
                + [m.y for m in active]
                + ([weight_col] if weight_col else [])
            )
            proj = fdf.select(
                *[to_spark(e).alias(n) for n, e in proj_exprs],
                *[F.col(c) for c in carry_all],
            )
            row = run_agg(proj, spec_aggs)
            n_passes += 1
            return row

        n_total = sum_wt = 0.0
        y_order: list = []
        y_stats: dict = {}

        def to_full(m, b):
            full = np.zeros(m.p_all)
            full[np.asarray(m.keep_idx, dtype=int)] = b
            return full

        def fit_lockstep():
            """Initial pass (collinearity + validation + saturated ll at each
            model's CURRENT m.fam) then the IRLS lockstep to convergence."""
            nonlocal n_total, sum_wt, y_order, y_stats
            # binomial 0/1 validation rides a dedicated tiny expression set on the
            # first pass result via y_min/y_max (weights => proportions in [0,1])
            for m in models:
                m.cand_full = np.zeros(m.p_all)
            row0 = pass_once(models, first=True)
            n_total = float(row0["n_total"])
            if n_total == 0:
                raise ValueError("dbglm_multi: zero rows after missing-value filtering")
            if weight_col is not None and float(row0["wt_min"]) <= 0:
                raise ValueError("dbglm_multi: weights must be strictly positive")
            y_order = list(dict.fromkeys([m.y for m in models]))
            y_stats = {}
            for yi, yn in enumerate(y_order):
                y_stats[yn] = dict(
                    y_min=float(row0[f"y{yi}_min"]),
                    y_max=float(row0[f"y{yi}_max"]),
                    sum_y=float(row0[f"y{yi}_sum"]),
                )
                if fam.name == "binomial":
                    lo, hi = y_stats[yn]["y_min"], y_stats[yn]["y_max"]
                    if lo < 0 or hi > 1:
                        raise ValueError(
                            f"dbglm_multi(family='binomial'): outcome {yn} outside "
                            "[0, 1]"
                        )
                    if weight_col is None and float(row0.get(f"y{yi}_bad") or 0.0) > 0:
                        raise ValueError(
                            f"dbglm_multi(family='binomial') needs 0/1 outcomes; "
                            f"{yn} has values outside {{0, 1}}"
                        )
                if fam.name in ("poisson", "negbin") and y_stats[yn]["y_min"] < 0:
                    raise ValueError(
                        f"dbglm_multi(family={fam.name!r}): outcome {yn} has "
                        "negative values"
                    )
            sum_wt = float(row0["sum_wt"])

            # per-model collinearity from the β=0 blocks + first Newton candidate
            for k, m in enumerate(models):
                a0, b0, ll0 = _decode_block(row0, f"m{k}_", m.p_all)
                collin = detect_collinearity(a0, b0, m.names_all)
                m.keep_idx = list(collin.keep_idx)
                m.names = list(collin.keep_names)
                m.collin_drop = list(collin.drop_names)
                sol = solve_with_fallback(collin.xtx, collin.xty)
                m.cand = sol.betahat
                m.accepted = np.zeros(len(m.keep_idx))
                m.prev = np.zeros(len(m.keep_idx))
                m.ll_prev = ll0
                m.halvings = 0
                m.converged = False
                m.gave_up = False
                m.n_iter = 1
                m.final_a = collin.xtx
                m.final_ll = ll0
                m.final_pearson = float(row0[f"m{k}_pearson"])
                m.ll_sat = float(row0[f"m{k}_ll_sat"])
                off0 = 1 if icpt_req else 0
                m.icpt = icpt_req and 0 in m.keep_idx
                m.x_kept = [m.x[i - off0] for i in m.keep_idx if i >= off0]

            it = 1
            while it < max_iter:
                active = [m for m in models if not m.converged and not m.gave_up]
                if not active:
                    break
                for m in active:
                    m.cand_full = to_full(m, m.cand)
                row = pass_once(active)
                it += 1
                for k, m in enumerate(active):
                    ki = np.asarray(m.keep_idx, dtype=int)
                    a_f, b_f, ll_i = _decode_block(row, f"m{k}_", m.p_all)
                    a_i, b_i = a_f[np.ix_(ki, ki)], b_f[ki]
                    m.n_iter += 1
                    if not math.isfinite(ll_i) or ll_i < m.ll_prev - 1e-10 * (
                        abs(m.ll_prev) + 1.0
                    ):
                        m.halvings += 1
                        if m.halvings > 12:
                            warnings.warn(
                                f"[dbglm_multi] model {m.key}: step-halving failed; "
                                "stopping at the last accepted coefficients"
                            )
                            m.gave_up = True
                            m.cand = m.accepted
                            continue
                        m.cand = 0.5 * (m.cand + m.prev)
                        continue
                    m.halvings = 0
                    m.final_a, m.final_ll = a_i, ll_i
                    m.final_pearson = float(row[f"m{k}_pearson"])
                    m.accepted = m.cand
                    if verbose:
                        _log.info(f"[dbglm_multi] {m.key} iter {m.n_iter}: ll = {ll_i:.10g}")
                    if abs(ll_i - m.ll_prev) <= tol * (abs(ll_i) + 0.1):
                        m.ll_prev = ll_i
                        m.converged = True
                        continue
                    sol = solve_with_fallback(a_i, b_i)
                    m.prev, m.cand = m.cand, sol.betahat
                    m.ll_prev = ll_i

            for m in models:
                if not m.converged and not m.gave_up:
                    warnings.warn(
                        f"[dbglm_multi] model {m.key}: IRLS did not converge in "
                        f"{max_iter} iterations"
                    )
                m.beta = m.accepted

        fit_lockstep()

        if want_auto_theta:
            # ---- ONE shared scored pass: every model's Cameron-Trivedi
            # alpha-hat at its converged poisson mu-hat (glm.py's
            # _negbin_moment_theta, batched: 2 agg columns per model) ----------
            aggs = []
            proj_cols = []
            for k, m in enumerate(models):
                y = _d(Var(m.y))
                eta_x = _eta_expr(to_full(m, m.beta), m.x, icpt_req)
                eta = off_e + eta_x if off_e is not None else eta_x
                mu = m.fam.mu(eta)
                wexp = om if om is not None else Lit(1.0)
                proj_cols += [
                    (f"t{k}__num", _d(wexp * ((y - mu) * (y - mu) - mu))),
                    (f"t{k}__den", _d(wexp * mu * mu)),
                ]
                aggs += [
                    (f"t{k}_num", asum(Var(f"t{k}__num"))),
                    (f"t{k}_den", asum(Var(f"t{k}__den"))),
                ]
            carry = dict.fromkeys(
                sum([m.x for m in models], [])
                + [m.y for m in models]
                + [c for c in (offset, weight_col) if c]
            )
            proj = fdf.select(
                *[to_spark(e).alias(n) for n, e in proj_cols],
                *[F.col(c) for c in carry],
            )
            trow = run_agg(proj, aggs)
            n_passes += 1
            for k, m in enumerate(models):
                num, den = float(trow[f"t{k}_num"]), float(trow[f"t{k}_den"])
                alpha = num / den if den > 0 else float("nan")
                if not (alpha > 1e-12):
                    raise ValueError(
                        f"dbglm_multi(family='negbin'): model {m.key} has a "
                        f"non-positive two-step alpha-hat ({alpha:.3g}) — no "
                        "Poisson overdispersion. Fit it with family='poisson', "
                        "or pass a fixed theta= explicitly."
                    )
                m.fam = get_family("negbin", theta=1.0 / alpha)
                if verbose:
                    _log.info(
                        f"[dbglm_multi] {m.key} two-step theta-hat = "
                        f"{1.0 / alpha:.6g}"
                    )
            # ---- negbin lockstep refit at the per-model FIXED thetas (warm
            # saturated-ll / collinearity re-derived under the negbin fams) ----
            fit_lockstep()

        # ---- batched sandwiches at the final βs ------------------------------
        for m in models:
            m.meat = None
            m.n_clusters = None
        if vcov_type in MEAT_KIND:
            # one score block per model: its own family (negbin auto-theta
            # gives each model its own theta) at its own final β
            blocks = []
            for m in models:
                full = np.zeros(m.p_all)
                full[np.asarray(m.keep_idx, dtype=int)] = m.beta
                eta = _eta_expr(full, m.x, icpt_req, offset)
                blocks.append(
                    glm_block(m.fam, eta, _d(Var(m.y)), m.x_kept, m.icpt, weight_col)
                )
            res = sandwich_meat(
                fdf, blocks, MEAT_KIND[vcov_type], cluster_vars or (),
                lag=hac_lag, conley=conley_opts,
            )
            n_passes += res.passes
            for m, meat in zip(models, res.meats[None]):
                m.meat, m.n_clusters = meat, res.g.get(None)

        # negbin: the reported loglik adds the beta-free lgamma terms (one
        # y-histogram pass per DISTINCT (outcome, theta); deviance stays
        # constant-free, matching dbglm)
        for m in models:
            m.nb_const = 0.0
        if fam.name == "negbin":
            from .glm import _negbin_ll_const

            _nb_cache: dict = {}
            for m in models:
                ck = (m.y, float(m.fam.theta))
                if ck not in _nb_cache:
                    shim = type("_Shim", (), {"df": fdf, "y_col": m.y})()
                    _nb_cache[ck] = _negbin_ll_const(shim, weight_col, ck[1])
                    n_passes += 1
                m.nb_const = _nb_cache[ck]

    finally:
        fdf.unpersist()

    # ---- assemble GlmModels ----------------------------------------------
    out = GlmMulti(
        models={}, lhs=spec.lhs, steps=[s for s, _ in spec.steps],
        n_passes=n_passes, query_string=None,
    )
    from .design import DesignInfo

    pos = {c: i for i, c in enumerate(design.names)}
    numeric_set = set(design.numeric_vars)
    for m in models:
        p = len(m.keep_idx)
        df_res = max(n_total - p, 1.0)
        ll_sat = m.ll_sat
        deviance = 2.0 * (ll_sat - m.final_ll)
        ybar = y_stats[m.y]["sum_y"] / sum_wt if sum_wt > 0 else float("nan")
        if offset is not None:
            null_dev = float("nan")
        elif fam.name == "binomial":
            null_ll = (
                y_stats[m.y]["sum_y"] * math.log(ybar)
                + (sum_wt - y_stats[m.y]["sum_y"]) * math.log(1 - ybar)
                if (icpt_req and 0.0 < ybar < 1.0)
                else (0.0 if icpt_req else -sum_wt * math.log(2.0))
            )
            null_dev = 2.0 * (ll_sat - null_ll)
        elif fam.name == "poisson":
            null_ll = (
                (y_stats[m.y]["sum_y"] * math.log(ybar) - sum_wt * ybar)
                if (icpt_req and ybar > 0)
                else (0.0 if icpt_req else -sum_wt)
            )
            null_dev = 2.0 * (ll_sat - null_ll)
        elif fam.name == "negbin":
            th = float(m.fam.theta)
            mu0 = ybar if icpt_req else 1.0
            null_ll = (
                y_stats[m.y]["sum_y"] * math.log(mu0)
                - (y_stats[m.y]["sum_y"] + th * sum_wt) * math.log(th + mu0)
                + sum_wt * th * math.log(th)
            ) if mu0 > 0 else 0.0
            null_dev = 2.0 * (ll_sat - null_ll)
        else:
            null_dev = float("nan")
        pearson = m.final_pearson
        dispersion = (
            pearson / df_res if (fam.name == "gaussian" or fam.quasi) else 1.0
        )
        info_inv = solve_with_fallback(m.final_a, np.zeros(p)).xtx_inv
        if vcov_type == "iid":
            V = dispersion * info_inv
        else:
            V = compute_vcov(
                vcov_type, info_inv, deviance, df_res, n_total, p,
                m.meat, m.n_clusters,
            )
        use_t = fam.name == "gaussian" or fam.quasi
        ct = gen_coeftable(m.beta, V, df_res, m.names, use_z=not use_t)
        sub_design = DesignInfo(
            names=list(m.x),
            exprs=[design.exprs[pos[c]] for c in m.x],
            factor_levels=design.factor_levels,
            numeric_vars=[v for v in m.parsed.xvars if v in numeric_set],
        )
        out.models[m.key] = GlmModel(
            coeftable=ct,
            vcov_=V,
            coef_names=m.names,
            family=m.fam.label,
            link=m.fam.link,
            yvar=m.key[0],
            vcov_type=vcov_type,
            cluster_var="+".join(cluster_vars) if cluster_vars else None,
            nobs=int(n_total),
            df_residual=df_res,
            loglik=m.final_ll + m.nb_const,
            deviance=deviance,
            null_deviance=null_dev,
            dispersion=dispersion,
            pearson_chi2=pearson,
            n_iter=m.n_iter,
            converged=m.converged,
            collin_vars=m.collin_drop,
            n_clusters=m.n_clusters,
            design_info=sub_design,
            parsed=m.parsed,
            query_string=None,
            offset=offset,
            weights_col=weight_col,
            inference="t" if use_t else "z",
            _betahat=m.beta,
        )
    return out
