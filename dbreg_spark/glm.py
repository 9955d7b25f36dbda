"""Generalized linear models via distributed IRLS — logistic ("binomial"),
Poisson, and Gaussian families.

Beyond-reference estimator (the reference, grantmcdermott/dbreg, is OLS-only
— R/dbreg.R:302-380): `dbglm()` extends the same moments architecture to
maximum-likelihood GLMs. Each IRLS iteration is ONE distributed aggregation
pass over the data computing, at the current coefficient vector β (baked in
as exact double literals, the literal-β pattern of the reference's sandwich
second pass, R/dbreg.R:1807-2000):

- the weighted normal-equation moments  A = X'WX  and  b = X'Wz  (upper
  triangle, p(p+1)/2 + p sums),
- the log-likelihood at β (the convergence statistic — it rides the same
  aggregation, costing zero extra passes),

where w and w·z are evaluated per-row as pure column expressions:

    binomial (logit):  μ = σ(η),   w = μ(1−μ),  w·z = w·η + (y−μ)
    poisson  (log):    μ = exp(η), w = μ,       w·z = w·η + (y−μ)
    gaussian (id):     μ = η,      w = 1,       w·z = y

Carrying w·z (never z = η + (y−μ)/w) avoids the division entirely: rows
whose weight underflows at extreme η simply drop out of the weighted system,
which is exactly IRLS's limiting behavior — no clipping heuristics needed.

The driver solves the p×p system, applies the Newton step (with step-halving
when the log-likelihood fails to improve — poisson's exp(η) can overshoot),
and stops when the log-likelihood is stationary. State on the driver is
O(p²); pass count is the IRLS iteration count (typically 4-8) — the same
100 TB contract as the moments strategy: nothing proportional to rows or
groups ever reaches the driver.

Standard errors: model-based (inverse observed information), HC1 sandwich,
or cluster-robust (CR1, one/multi-way interaction) — the meat is one extra
aggregation pass at the final β with score residual (y−μ̂)x, mirroring
plans/meat.py. Inference is Wald-z (normal), the GLM convention.

Fixed effects: `dbglm("y ~ x | g", family="poisson")` fits the
fepois/PPML estimator by concentrated IRLS — the log link's FE profile is
closed form, so each Newton step is two demean-shaped passes (see
:func:`_fe_poisson`). Other families refuse `| fe` (no closed-form
profile); low-cardinality group controls work everywhere by listing the
column as a regressor (string/factor columns auto-expand to dummies via
the shared design machinery).

Every per-row expression is IR (plans/exprs.py), so the one-pass aggregation
renders identically to a Spark DataFrame plan and to DuckDB oracle SQL —
gate `glm_irls_step_logit` pins the distributed computation cross-engine at
a fixed literal β.
"""

from __future__ import annotations

import logging
import math
import warnings
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .design import DesignInfo, build_design, standardize_coef_names
from .formula import ParsedFormula, parse_formula, parse_vcov
from .plans.common import agg_select_sql, resolve_source
from .plans.exprs import (
    Agg,
    CaseGE,
    Cast,
    Expr,
    Func,
    Lit,
    Var,
    agg_frame,
    amax,
    amin,
    asum,
    count_star,
    to_spark,
    to_sql,
)
from .guards import is_result_too_large
from .plans.frames import Frame, build_base_frame
from .plans.levels import with_levels
from .plans.meat import MEAT_KIND, ScoreBlock, quad_form, sandwich_meat
from .solve import (
    compute_vcov,
    detect_collinearity,
    gen_coeftable,
    solve_with_fallback,
)
from .stats import norm_ppf

_log = logging.getLogger("dbreg_spark")

FAMILIES = (
    "binomial",
    "poisson",
    "gaussian",
    "quasibinomial",
    "quasipoisson",
    "negbin",
)

_W_EPS = 1e-12  # pearson-residual denominator floor (never used in w·z)

# diagnostics from the last cell-resident k-FE solve: sweep and distributed
# pass counts for the λ alternation and the AP corrections (tests pin the
# one-grouping-sets-pass-per-sweep contract here)
_KFE_PASS_STATS: dict = {}
# scan-pass ledger for the 1-FE profiled path (r9: ONE suffstats scan per
# Newton iteration + one meat scan; tests pin the contract)
_FEPOIS_PASS_STATS: dict = {}


def _d(e: Expr) -> Expr:
    return Cast(e, "double")


def _neg(e: Expr) -> Expr:
    return Lit(-1.0) * e


def _eta_expr(
    beta: np.ndarray,
    x_names: list[str],
    intercept: bool,
    offset: str | None = None,
) -> Expr:
    """η = [offset +] β₀ + Σ βⱼ·xⱼ with β as 17-digit double literals."""
    b = np.asarray(beta, dtype=float).reshape(-1)
    off = 1 if intercept else 0
    e: Expr = Lit(float(b[0])) if intercept else Lit(0.0)
    for j, xn in enumerate(x_names):
        e = e + Lit(float(b[j + off])) * _d(Var(xn))
    if offset is not None:
        e = _d(Var(offset)) + e
    return e


@dataclass(frozen=True)
class _Family:
    """Per-row IRLS expressions for one family, all as IR over η and y.
    ``quasi`` families share their base family's mean/variance structure
    but scale the model-based vcov by the pearson dispersion (R's
    quasibinomial/quasipoisson)."""

    name: str
    link: str
    quasi: bool = False
    # NB2 dispersion: V(mu) = mu + mu^2/theta (negbin family only)
    theta: float | None = None

    @property
    def label(self) -> str:
        lbl = ("quasi" if self.quasi else "") + self.name
        if self.name == "negbin" and self.theta is not None:
            lbl = f"negbin(theta={self.theta!r})"  # repr: lossless round-trip
        return lbl

    def mu(self, eta: Expr) -> Expr:
        if self.name == "binomial":
            return Lit(1.0) / (Lit(1.0) + Func("exp", (_neg(eta),)))
        if self.name in ("poisson", "negbin"):
            return Func("exp", (eta,))
        return eta

    def w(self, eta: Expr, mu: Expr) -> Expr:
        if self.name == "binomial":
            return mu * (Lit(1.0) - mu)
        if self.name == "poisson":
            return mu
        if self.name == "negbin":
            # Fisher weight for log link under V(mu) = mu + mu^2/theta:
            # w = (dmu/deta)^2 / V = mu*theta / (theta + mu)
            th = Lit(float(self.theta))
            return mu * th / (th + mu)
        return Lit(1.0)

    def wz(
        self,
        eta_x: Expr,
        mu: Expr,
        y: Expr,
        w: Expr,
        offset_expr: Expr | None = None,
    ) -> Expr:
        """w·(z−offset) = w·η_x + (y−μ) — the division-free working
        response measured on the Xβ scale (``eta_x`` EXCLUDES the offset;
        μ and w are evaluated at the full η = offset + η_x). Solving
        X'WX β = X'W(z−offset) is the IRLS step with an offset."""
        if self.name == "gaussian":
            return y if offset_expr is None else y - offset_expr
        if self.name == "negbin":
            # w*(z - offset) = w*eta_x + w*(y-mu)*(deta/dmu)
            #                = w*eta_x + theta*(y-mu)/(theta+mu)
            th = Lit(float(self.theta))
            return w * eta_x + th * (y - mu) / (th + mu)
        return w * eta_x + (y - mu)

    def ll(self, eta: Expr, mu: Expr, y: Expr) -> Expr:
        """Per-row log-likelihood contribution (poisson: up to the constant
        −Σ ln y!, which cancels in every deviance/convergence use)."""
        if self.name == "binomial":
            # y·η − softplus(η), overflow-safe:
            # softplus(η) = max(η,0) + ln(1 + exp(−|η|))
            sp = Func("greatest", (eta, Lit(0.0))) + Func(
                "ln",
                (Lit(1.0) + Func("exp", (_neg(Func("abs", (eta,))),)),),
            )
            return y * eta - sp
        if self.name == "poisson":
            return y * eta - mu
        if self.name == "negbin":
            # beta-and-theta-relevant per-row terms of the NB2 loglik:
            # y*ln(mu) - (y+theta)*ln(theta+mu) + theta*ln(theta). The
            # remaining lgamma(y+theta)-lgamma(theta)-lgamma(y+1) constant
            # is added driver-side from the y histogram (it cancels in
            # every deviance/convergence difference).
            th = Lit(float(self.theta))
            return (
                y * eta
                - (y + th) * Func("ln", (th + mu,))
                + Lit(float(self.theta * math.log(self.theta)))
            )
        return _neg((y - eta) * (y - eta)) / Lit(2.0)

    def ll_sat(self, y: Expr) -> Expr:
        """Saturated-model per-row log-likelihood (same constant dropped)."""
        if self.name == "binomial":
            # y·ln(y) + (1−y)·ln(1−y) with 0·ln(0) = 0 — evaluates to 0 for
            # 0/1 outcomes, nonzero for grouped proportions (weights=trials)
            one_my = Lit(1.0) - y
            t1 = CaseGE(y, 0.0, y * Func("ln", (y,)), strict=True)
            t2 = CaseGE(one_my, 0.0, one_my * Func("ln", (one_my,)), strict=True)
            return t1 + t2
        if self.name == "poisson":
            # y>0: y·ln(y) − y; y=0: 0
            return CaseGE(y, 0.0, y * Func("ln", (y,)) - y, strict=True)
        if self.name == "negbin":
            # mu = y: y*ln(y) - (y+theta)*ln(theta+y) + theta*ln(theta)
            # (the y*ln(y) term is 0 at y=0, CASE-guarded like poisson)
            th = Lit(float(self.theta))
            return (
                CaseGE(y, 0.0, y * Func("ln", (y,)), strict=True)
                - (y + th) * Func("ln", (th + y,))
                + Lit(float(self.theta * math.log(self.theta)))
            )
        return Lit(0.0)

    def pearson_sq(self, mu: Expr, y: Expr) -> Expr:
        """(y−μ)² / V(μ) with a floored denominator (diagnostic only)."""
        r2 = (y - mu) * (y - mu)
        if self.name == "binomial":
            v = Func("greatest", (mu * (Lit(1.0) - mu), Lit(_W_EPS)))
            return r2 / v
        if self.name == "poisson":
            return r2 / Func("greatest", (mu, Lit(_W_EPS)))
        if self.name == "negbin":
            th = float(self.theta)
            v = mu + mu * mu / Lit(th)
            return r2 / Func("greatest", (v, Lit(_W_EPS)))
        return r2

    def inverse_link_py(self, eta):
        eta = np.asarray(eta, dtype=float)
        if self.name == "binomial":
            return 1.0 / (1.0 + np.exp(-eta))
        if self.name in ("poisson", "negbin"):
            return np.exp(eta)
        return eta

    def score(self, mu: Expr, y: Expr) -> Expr:
        """Per-row score residual s with score vector s·x (= dl/deta).
        Canonical links: y − μ. negbin's log link is NOT canonical for
        fixed theta: s = theta·(y−μ)/(theta+μ)."""
        if self.name == "negbin":
            th = Lit(float(self.theta))
            return th * (y - mu) / (th + mu)
        return y - mu


def get_family(name: str, theta: float | None = None) -> _Family:
    n = str(name).strip().lower()
    if n in ("negative_binomial", "negativebinomial", "nb", "nb2"):
        n = "negbin"
    if n.startswith("negbin(") and n.endswith(")"):
        # round-trip the fitted label "negbin(theta=X)" (predict/save/load)
        inner = n[len("negbin("):-1].strip()
        if inner.startswith("theta="):
            theta = float(inner[len("theta="):])
        n = "negbin"
    if n not in FAMILIES:
        raise ValueError(f"family must be one of {FAMILIES}, got {name!r}")
    quasi = n.startswith("quasi")
    base = n[5:] if quasi else n
    if base == "negbin":
        if theta is not None and not (float(theta) > 0):
            raise ValueError("negbin theta must be > 0")
        return _Family(
            "negbin", "log",
            theta=float(theta) if theta is not None else None,
        )
    link = {"binomial": "logit", "poisson": "log", "gaussian": "identity"}[base]
    return _Family(base, link, quasi=quasi)


_NEGBIN_HIST_CAP = 100_000


def _negbin_ll_const(frame: Frame, weights: str | None, theta: float) -> float:
    """Sum_i w_i [lgamma(y_i+theta) - lgamma(theta) - lgamma(y_i+1)] via a
    (y -> sum w) histogram: ONE grouped pass whose result is as long as the
    number of DISTINCT outcome values (counts data: tiny), then exact
    driver-side math.lgamma. Capped so an accidentally-continuous outcome
    cannot collect millions of rows."""
    wcol = (
        F.col(weights).cast("double") if weights is not None else F.lit(1.0)
    )
    rows = (
        frame.df.groupBy(F.col(frame.y_col).cast("double").alias("__y"))
        .agg(F.sum(wcol).alias("__w"))
        .limit(_NEGBIN_HIST_CAP + 1)
        .collect()
    )
    if len(rows) > _NEGBIN_HIST_CAP:
        raise ValueError(
            f"dbglm(family='negbin'): the outcome has more than "
            f"{_NEGBIN_HIST_CAP:,} distinct values — this looks like a "
            "continuous column, not counts"
        )
    lg_th = math.lgamma(theta)
    return float(
        sum(
            float(r["__w"])
            * (math.lgamma(float(r["__y"]) + theta) - lg_th
               - math.lgamma(float(r["__y"]) + 1.0))
            for r in rows
        )
    )


def _negbin_profile_theta(
    model, df: DataFrame, weights: str | None, th0: float, hist=None
):
    """Maximize the NB2 profile loglik over theta at the CURRENT mu-hat.

    Each refinement round evaluates a geometric candidate grid around the
    incumbent in ONE pass over the scored frame: the only mu-dependent
    term is S(theta) = sum w (y+theta) ln(theta+mu) — K candidates ride as
    K aggregate columns. The lgamma / theta*ln(theta) terms are exact
    driver arithmetic from the y histogram, which is collected (once,
    then passed back in) from the SAME scored complete-case rows the
    distributed term sums — so the objective is the sample profile
    likelihood even when regressors/offset/weights have NULLs. A round
    whose winner sits on the bracket edge RE-CENTERS at the same span
    instead of shrinking, so the search escapes a bad moment seed instead
    of capping at ~14x of it. Returns (theta, hist)."""
    scored = model.predict(df, type="response")
    w = F.col(weights).cast("double") if weights is not None else F.lit(1.0)
    y = F.col(model.yvar).cast("double")
    mu = F.col("fit").cast("double")
    keep = F.col("fit").isNotNull() & y.isNotNull()
    if weights is not None:
        keep = keep & F.col(weights).isNotNull()
    scored = scored.where(keep)

    if hist is None:
        rows = (
            scored.groupBy(y.alias("__y"))
            .agg(F.sum(w).alias("__w"))
            .limit(_NEGBIN_HIST_CAP + 1)
            .collect()
        )
        if len(rows) > _NEGBIN_HIST_CAP:
            raise ValueError(
                f"dbglm(family='negbin'): the outcome has more than "
                f"{_NEGBIN_HIST_CAP:,} distinct values — this looks like a "
                "continuous column, not counts"
            )
        hist = [(float(r["__y"]), float(r["__w"])) for r in rows]
    n_w = sum(wr for _, wr in hist)

    def driver_const(th: float) -> float:
        lg = math.lgamma(th)
        return (
            sum(
                wr * (math.lgamma(yv + th) - lg - math.lgamma(yv + 1.0))
                for yv, wr in hist
            )
            + n_w * th * math.log(th)
        )

    # theta-free pieces ride the first pass once
    base_aggs = [F.sum(w * y * F.log(mu)).alias("__ylnmu")]
    ylnmu = None

    incumbent = max(float(th0), 1e-6)
    span = 10.0  # initial bracket: [incumbent/10, incumbent*10]
    shrink_rounds = 0
    total_rounds = 0
    while shrink_rounds < 7 and total_rounds < 20:
        total_rounds += 1
        cands = [
            incumbent * span ** (k / 4.0 - 1.0) for k in range(9)
        ]  # 9 geometric points across [inc/span, inc*span]
        aggs = list(base_aggs) if ylnmu is None else []
        for k, th in enumerate(cands):
            aggs.append(
                F.sum(
                    w * (y + F.lit(th)) * F.log(F.lit(th) + mu)
                ).alias(f"__s{k}")
            )
        row = scored.agg(*aggs).collect()[0].asDict()
        if ylnmu is None:
            ylnmu = float(row["__ylnmu"])
        lls = [
            ylnmu - float(row[f"__s{k}"]) + driver_const(th)
            for k, th in enumerate(cands)
        ]
        best = int(np.argmax(lls))
        incumbent = cands[best]
        if best in (0, 8):
            # the optimum is outside the bracket: re-center at the edge
            # and search again at the SAME span (expansion round)
            continue
        shrink_rounds += 1
        # next round brackets the winner's immediate neighbors
        span = (cands[best + 1] / cands[best - 1]) ** 0.5
        span = max(span, 1.00001)
    return incumbent, hist


def _negbin_moment_theta(pois_model, df: DataFrame, weights: str | None) -> float:
    """Cameron-Trivedi NB2 moment step: alpha-hat solves
    Sum w[(y-mu)^2 - mu] = alpha Sum w mu^2 at the poisson mu-hat —
    ONE distributed pass over the scored frame; theta = 1/alpha."""
    scored = pois_model.predict(df, type="response")
    w = F.col(weights).cast("double") if weights is not None else F.lit(1.0)
    mu = F.col("fit").cast("double")
    y = F.col(pois_model.yvar).cast("double")
    row = (
        scored.where(y.isNotNull() & mu.isNotNull())
        .agg(
            F.sum(w * ((y - mu) * (y - mu) - mu)).alias("num"),
            F.sum(w * mu * mu).alias("den"),
        )
        .collect()[0]
    )
    num, den = float(row["num"]), float(row["den"])
    alpha = num / den if den > 0 else float("nan")
    if not (alpha > 1e-12):
        raise ValueError(
            "dbglm(family='negbin'): the two-step overdispersion estimate "
            f"alpha-hat = {alpha:.3g} is not positive — the data show no "
            "Poisson overdispersion. Use family='poisson', or pass a fixed "
            "theta= explicitly."
        )
    return 1.0 / alpha


# --------------------------------------------------------------------------
# One IRLS pass: spec + projection + oracle SQL
# --------------------------------------------------------------------------


def irls_pass_plan(
    frame: Frame,
    family: _Family,
    beta: np.ndarray,
    x_names: list[str],
    intercept: bool = True,
    first: bool = False,
    offset: str | None = None,
    weights: str | None = None,
):
    """Build the single-pass weighted-moment aggregation at literal β.

    Returns (spec, agg_df, sql). ``first=True`` adds the once-per-fit free
    riders (Σωy, Σωy², Σω, min/max of y and ω, a non-binary-y detector, the
    saturated log-likelihood) to the same scan.

    ``offset`` adds a per-row linear-predictor shift (η = offset + Xβ);
    ``weights`` are prior weights ω: the IRLS weight becomes ω·w, the score
    ω·(y−μ), and the log-likelihood/pearson terms are ω-scaled — R's
    ``glm(weights=)`` semantics (for binomial: y = proportion, ω = trials).

    The per-row μ/w/wz/ll expressions are materialized ONCE in a projection
    before the aggregation — inlining η into all p(p+1)/2 product terms
    blows up codegen quadratically (same finding as hc1_meat_plan).
    """
    y = _d(Var(frame.y_col))
    eta_x = _eta_expr(beta, x_names, intercept)  # Xβ part only
    off_e: Expr | None = _d(Var(offset)) if offset is not None else None
    eta = off_e + eta_x if off_e is not None else eta_x
    mu = family.mu(eta)
    w = family.w(eta, mu)
    wz = family.wz(eta_x, mu, y, w, off_e)
    ll = family.ll(eta, mu, y)
    om: Expr | None = _d(Var(weights)) if weights is not None else None
    if om is not None:
        w = om * w
        wz = om * wz
        ll = om * ll

    proj_exprs: list[tuple[str, Expr]] = [
        ("__w", _d(w)),
        ("__wz", _d(wz)),
        ("__ll", _d(ll)),
        # pearson χ² rides every pass (free vs a dedicated scan): the pass
        # that detects convergence is at the final β, so its value is the
        # final-model diagnostic / gaussian dispersion
        ("__p2", _d(
            family.pearson_sq(mu, y) if om is None
            else om * family.pearson_sq(mu, y)
        )),
    ]
    if first:
        llsat = family.ll_sat(y)
        proj_exprs.append(
            ("__llsat", _d(llsat if om is None else om * llsat))
        )
        proj_exprs.append(("__y", y))
        proj_exprs.append(("__wt", om if om is not None else Lit(1.0)))
        if family.name == "binomial":
            # y(1−y) ≠ 0 ⇔ y ∉ {0,1}; Σ|·| > 0 flags a non-binary outcome
            proj_exprs.append(
                ("__ybad", _d(Func("abs", (y * (Lit(1.0) - y),))))
            )

    cols: list[Expr] = ([Lit(1.0)] if intercept else []) + [Var(n) for n in x_names]
    p = len(cols)
    spec: list[tuple[str, Agg]] = [
        ("n_total", count_star()),
        ("ll", asum(Var("__ll"))),
        ("pearson", asum(Var("__p2"))),
    ]
    if first:
        spec += [
            ("ll_sat", asum(Var("__llsat"))),
            ("sum_wt", asum(Var("__wt"))),
            ("wt_min", amin(Var("__wt"))),
            ("sum_y", asum(Var("__wt") * Var("__y"))),
            ("sum_y_sq", asum(Var("__wt") * Var("__y") * Var("__y"))),
            ("y_min", amin(Var("__y"))),
            ("y_max", amax(Var("__y"))),
        ]
        if family.name == "binomial":
            spec.append(("y_bad", asum(Var("__ybad"))))
    wv = Var("__w")
    for i in range(p):
        for j in range(i, p):
            spec.append((f"a_{i}_{j}", asum(wv * _d(cols[i]) * _d(cols[j]))))
    for i in range(p):
        spec.append((f"b_{i}", asum(Var("__wz") * _d(cols[i]))))
    proj = frame.df.select(
        *[to_spark(e).alias(n) for n, e in proj_exprs],
        *[F.col(n) for n in x_names],
    )
    agg_df = agg_frame(proj, spec)

    sql = None
    if frame.sql_cte:
        psel = ",\n    ".join(
            f"CAST({to_sql(e)} AS DOUBLE) AS {n}" for n, e in proj_exprs
        )
        xs = "".join(f",\n    {n}" for n in x_names)
        sql = (
            f"{frame.sql_cte},\nirls AS (\n  SELECT\n    {psel}{xs}"
            f"\n  FROM {frame.cte_name}\n),\nstep AS (\n  SELECT {agg_select_sql(spec)}"
            f"\n  FROM irls\n)\nSELECT * FROM step"
        )
    return spec, agg_df, sql


def _decode_pass(row: dict, p: int) -> tuple[np.ndarray, np.ndarray, float, float]:
    a = np.zeros((p, p))
    b = np.zeros(p)
    for i in range(p):
        b[i] = float(row[f"b_{i}"])
        for j in range(i, p):
            v = float(row[f"a_{i}_{j}"])
            a[i, j] = a[j, i] = v
    return a, b, float(row["ll"]), float(row["n_total"])


# --------------------------------------------------------------------------
# Final-β sandwich meat (score residual y − μ̂)
# --------------------------------------------------------------------------


def glm_block(
    fam: _Family,
    eta: Expr,
    y: Expr,
    x_names: list[str],
    intercept: bool,
    weights: str | None = None,
    info_inv=None,
    kind: str = "hc1",
) -> ScoreBlock:
    """The GLM score block: s = ω·score(μ̂, y) over ``[1] + x`` at the
    linear predictor ``eta``. For ``kind`` hc2/hc3, ``info_inv`` gives the
    IRLS hat-matrix leverage h = ω·w(η)·x̃'(X'WX)⁻¹x̃."""
    mu = fam.mu(eta)
    s = fam.score(mu, y)
    om = _d(Var(weights)) if weights is not None else None
    if om is not None:
        s = om * s
    block = ScoreBlock(s, tuple(x_names), intercept)
    if kind not in ("hc2", "hc3"):
        return block
    w = fam.w(eta, mu)
    if om is not None:
        w = om * w
    h = _d(w) * quad_form(block.cols, np.asarray(info_inv, dtype=float))
    return ScoreBlock(s, block.x, intercept, h, 2 if kind == "hc3" else 1)


def _scores_block(p: int) -> ScoreBlock:
    """The fepois score block: the profiled per-row score ``__s`` over the
    profiled columns ``__xt0..p-1``."""
    return ScoreBlock(Var("__s"), tuple(f"__xt{i}" for i in range(p)))


# --------------------------------------------------------------------------
# Model object
# --------------------------------------------------------------------------


@dataclass
class GlmModel:
    """Fitted GLM. Inference is Wald-z (normal), the MLE convention."""

    coeftable: object
    vcov_: np.ndarray
    coef_names: list[str]
    family: str
    link: str
    yvar: str
    vcov_type: str
    cluster_var: str | None
    nobs: int
    df_residual: float
    loglik: float
    deviance: float
    null_deviance: float
    dispersion: float
    pearson_chi2: float
    n_iter: int
    converged: bool
    collin_vars: list[str]
    n_clusters: int | None
    design_info: DesignInfo
    parsed: ParsedFormula
    query_string: str | None = None
    offset: str | None = None
    weights_col: str | None = None
    fe: list[str] = field(default_factory=list)
    n_fe_levels: int | None = None
    # "z" (fixed-dispersion MLE) or "t" (estimated dispersion: gaussian and
    # quasi families, R's summary.glm convention)
    inference: str = "z"
    _betahat: np.ndarray = field(default=None, repr=False)
    _fe_table: object = field(default=None, repr=False)  # lazy (fe, fixef) DF

    def coef(self):
        import pandas as pd

        return pd.Series(self._betahat, index=self.coef_names)

    def se(self):
        import pandas as pd

        return pd.Series(np.sqrt(np.diag(self.vcov_)), index=self.coef_names)

    def vcov(self):
        import pandas as pd

        return pd.DataFrame(self.vcov_, index=self.coef_names, columns=self.coef_names)

    def confint(self, level: float = 0.95):
        import pandas as pd

        if self.inference == "t":
            from .stats import t_ppf

            z = t_ppf(0.5 + level / 2.0, self.df_residual)
        else:
            z = norm_ppf(0.5 + level / 2.0)
        se = np.sqrt(np.diag(self.vcov_))
        lo = self._betahat - z * se
        hi = self._betahat + z * se
        a = (1 - level) / 2
        return pd.DataFrame(
            {f"{a:.3f}": lo, f"{1 - a:.3f}": hi}, index=self.coef_names
        )

    def tidy(self):
        t = self.coeftable.reset_index().rename(columns={"index": "term"})
        return t

    def glance(self):
        import pandas as pd

        return pd.DataFrame(
            [
                {
                    "family": self.family,
                    "link": self.link,
                    "nobs": self.nobs,
                    "logLik": self.loglik,
                    "deviance": self.deviance,
                    "null.deviance": self.null_deviance,
                    "pseudo.r.squared": (
                        1.0 - self.deviance / self.null_deviance
                        if self.null_deviance > 0
                        else float("nan")
                    ),
                    "dispersion": self.dispersion,
                    "n.iter": self.n_iter,
                    "converged": self.converged,
                }
            ]
        )

    def evaluate(self, data: DataFrame, threshold: float = 0.5, bins: int = 10_000):
        """Score ``data`` and evaluate in-engine: binomial families return
        :func:`operators.evaluate.classifier_metrics` (binned-ROC AUC,
        log-loss, Brier, threshold confusion); everything else returns
        :func:`operators.evaluate.regression_metrics` on the response-scale
        fit — one (bucketed) pass over the scored frame, closing the
        train → apply → evaluate loop without leaving Spark."""
        from .operators.evaluate import classifier_metrics, regression_metrics

        scored = self.predict(data, type="response")
        if self.family in ("binomial", "quasibinomial"):
            return classifier_metrics(
                scored, self.yvar, "fit", threshold=threshold, bins=bins
            )
        return regression_metrics(scored, self.yvar, "fit")

    def overdispersion_test(self, data):
        from .diagnostics import overdispersion_test

        return overdispersion_test(self, data)

    def predict(
        self,
        data: DataFrame,
        type: str = "response",
        se_fit: bool = False,
        interval: str | None = None,
        level: float = 0.95,
    ) -> DataFrame:
        """Attach the fitted value as column ``fit`` (link scale with
        type="link", mean scale with type="response") — a pure column
        expression, fully distributed.

        ``se_fit=True`` adds ``se_fit``: the link-scale delta-method
        standard error sqrt(x'Vx) as a column quadratic form with the
        literal vcov (response scale multiplies by |dmu/deta|).
        ``interval="confidence"`` adds ``lwr``/``upr`` — computed on the
        LINK scale and transformed monotonically, so response CIs stay
        inside the family's range. Refused for absorbed-FE models (V
        does not carry the fixed-effect uncertainty)."""
        if type not in ("response", "link"):
            raise ValueError("type must be 'response' or 'link'")
        if interval not in (None, "none", "confidence"):
            raise ValueError("interval must be None or 'confidence'")
        if interval == "none":
            interval = None
        want_se = se_fit or interval is not None
        if want_se and self.fe:
            raise NotImplementedError(
                "predict(se_fit/interval) for absorbed-FE models: the "
                "stored vcov does not carry the fixed-effect uncertainty; "
                "use point predictions"
            )
        fam = get_family(self.family)
        icpt = "(Intercept)" in self.coef_names
        # design exprs for the KEPT columns, re-derived on newdata
        name_to_expr = dict(zip(
            [standardize_coef_names(n) for n in self.design_info.names],
            self.design_info.exprs,
        ))
        kept = [n for n in self.coef_names if n != "(Intercept)"]
        missing = [n for n in kept if n not in name_to_expr]
        if missing:
            raise ValueError(f"predict: no design expression for {missing}")
        b = self._betahat
        off = 1 if icpt else 0
        eta: Expr = Lit(float(b[0])) if icpt else Lit(0.0)
        for j, n in enumerate(kept):
            eta = eta + Lit(float(b[j + off])) * _d(name_to_expr[n])
        if self.offset is not None:
            if self.offset not in data.columns:
                raise ValueError(
                    f"predict: the model was fit with offset="
                    f"{self.offset!r}, which is missing from the data"
                )
            eta = _d(Var(self.offset)) + eta
        dropcols = []
        if self.fe:
            # FE model: attach the recovered α̂ by joining the fixef table —
            # rows with FE levels unseen at fit time get NULL fit
            missing_fe = [c for c in self.fe if c not in data.columns]
            if missing_fe:
                raise ValueError(
                    f"predict: FE column(s) {missing_fe} missing from data"
                )
            # k-FE long-form layout is exactly {fe_var, level, fixef}; a
            # 1-FE table is (fe-column, fixef) — even when the FE column
            # is literally named "fe_var" it lacks the "level" column
            long_form = set(self._fe_table.columns) == {
                "fe_var", "level", "fixef",
            }
            fx_cols = (
                [f"__fixef_{f}" for f in self.fe] if long_form else ["__fixef"]
            )
            clash = [c for c in fx_cols if c in data.columns]
            if clash:
                raise ValueError(
                    f"predict: column name(s) {clash} are reserved for the "
                    "fixed-effect join; rename those input columns"
                )
            if long_form:
                for f in self.fe:
                    sub = (
                        self._fe_table.where(F.col("fe_var") == f)
                        .select(
                            F.col("level").alias(f"__lvl_{f}"),
                            F.col("fixef").alias(f"__fixef_{f}"),
                        )
                    )
                    data = data.join(
                        sub,
                        data[f].cast("string") == F.col(f"__lvl_{f}"),
                        "left",
                    ).drop(f"__lvl_{f}")
                    eta = _d(Var(f"__fixef_{f}")) + eta
                dropcols = fx_cols
            else:
                eta = _d(Var("__fixef")) + eta
                data = data.join(
                    self._fe_table.withColumnRenamed("fixef", "__fixef"),
                    on=list(self.fe),
                    how="left",
                )
                dropcols = ["__fixef"]
        col = to_spark(eta)
        if type == "response" and self.family != "gaussian":
            col = to_spark(fam.mu(eta))
        out = data.withColumn("fit", col).drop(*dropcols)
        if not want_se:
            return out
        # link-scale var(eta-hat) = x'Vx as a column quadratic form over
        # the KEPT design columns (upper triangle doubled)
        V = np.asarray(self.vcov_, dtype=float)
        xs = ([F.lit(1.0)] if icpt else []) + [
            to_spark(_d(name_to_expr[n])) for n in kept
        ]
        var_eta = F.lit(0.0)
        for i in range(len(xs)):
            for j in range(i, len(xs)):
                c = float(V[i, j] * (1.0 if i == j else 2.0))
                if c != 0.0:
                    var_eta = var_eta + F.lit(c) * xs[i] * xs[j]
        se_eta = F.sqrt(F.greatest(var_eta, F.lit(0.0)))
        eta_col = to_spark(eta)
        if type == "response" and self.link == "logit":
            mu = 1.0 / (1.0 + F.exp(-eta_col))
            dmu = mu * (1.0 - mu)
        elif type == "response" and self.link == "log":
            dmu = F.exp(eta_col)
        else:
            dmu = F.lit(1.0)
        if se_fit:
            out = out.withColumn("se_fit", F.abs(dmu) * se_eta)
        if interval == "confidence":
            from .stats import norm_ppf, t_ppf

            crit = float(
                t_ppf(1 - (1 - level) / 2, self.df_residual)
                if self.inference == "t"
                else norm_ppf(1 - (1 - level) / 2)
            )
            lo = eta_col - F.lit(crit) * se_eta
            hi = eta_col + F.lit(crit) * se_eta
            if type == "response" and self.link == "logit":
                lo, hi = 1.0 / (1.0 + F.exp(-lo)), 1.0 / (1.0 + F.exp(-hi))
            elif type == "response" and self.link == "log":
                lo, hi = F.exp(lo), F.exp(hi)
            out = out.withColumn("lwr", lo).withColumn("upr", hi)
        return out

    def fixef(self):
        """Recovered fixed-effect levels for FE models: a DataFrame
        ``(fe, fixef)`` with α̂_g = ln(λ̂_g) on the link scale. Lazy — the
        plan re-executes against the source on evaluation."""
        if not self.fe or self._fe_table is None:
            raise NotImplementedError(
                "fixef() is only available for models fit with `| fe` "
                "(fe_poisson); this model has no absorbed fixed effects"
            )
        return self._fe_table

    # -- persistence: train once, score in another session -----------------
    def save(self, path: str) -> None:
        """Serialize the fitted model to directory ``path``: a
        ``model.json`` with coefficients/vcov/metadata plus the design
        expressions (the IR serializes losslessly), and, for FE models,
        the recovered fixed-effect table as ``fixef.parquet``. Reload with
        :meth:`GlmModel.load`; the restored model supports
        ``predict``/``coef``/``se``/``confint``/``tidy``/``glance``."""
        import json
        import os

        from .plans.exprs import expr_to_obj

        os.makedirs(path, exist_ok=True)
        obj = {
            "format": "dbreg_spark.glm/1",
            "family": self.family,
            "link": self.link,
            "yvar": self.yvar,
            "vcov_type": self.vcov_type,
            "cluster_var": self.cluster_var,
            "nobs": self.nobs,
            "df_residual": self.df_residual,
            "loglik": self.loglik,
            "deviance": self.deviance,
            "null_deviance": self.null_deviance,
            "dispersion": self.dispersion,
            "pearson_chi2": self.pearson_chi2,
            "n_iter": self.n_iter,
            "converged": self.converged,
            "collin_vars": list(self.collin_vars),
            "n_clusters": self.n_clusters,
            "offset": self.offset,
            "weights_col": self.weights_col,
            "fe": list(self.fe),
            "n_fe_levels": self.n_fe_levels,
            "inference": self.inference,
            "coef_names": list(self.coef_names),
            "beta": [float(v) for v in np.asarray(self._betahat).ravel()],
            "vcov": np.asarray(self.vcov_).tolist(),
            "design": [
                {"name": n, "expr": expr_to_obj(e)}
                for n, e in zip(self.design_info.names, self.design_info.exprs)
            ],
        }
        with open(os.path.join(path, "model.json"), "w") as f:
            json.dump(obj, f, allow_nan=True)
        if self.fe and self._fe_table is not None:
            self._fe_table.write.mode("overwrite").parquet(
                os.path.join(path, "fixef.parquet")
            )

    @classmethod
    def load(cls, path: str, spark: SparkSession | None = None) -> "GlmModel":
        """Restore a model saved by :meth:`save`. FE models need ``spark``
        to read back the fixef table."""
        import json
        import os

        from .plans.exprs import expr_from_obj

        with open(os.path.join(path, "model.json")) as f:
            obj = json.load(f)
        if obj.get("format") != "dbreg_spark.glm/1":
            raise ValueError(f"unrecognized model format in {path}")
        design = DesignInfo(
            names=[d["name"] for d in obj["design"]],
            exprs=[expr_from_obj(d["expr"]) for d in obj["design"]],
            factor_levels={},
            numeric_vars=[],
        )
        fe = list(obj["fe"])
        fe_table = None
        if fe:
            if spark is None:
                spark = SparkSession.getActiveSession()
            if spark is None:
                raise ValueError(
                    "GlmModel.load: a SparkSession is required to restore "
                    "an FE model's fixef table"
                )
            fe_table = spark.read.parquet(os.path.join(path, "fixef.parquet"))
        beta = np.asarray(obj["beta"], dtype=float)
        V = np.asarray(obj["vcov"], dtype=float)
        ct = gen_coeftable(
            beta,
            V,
            obj["df_residual"],
            obj["coef_names"],
            use_z=obj["inference"] == "z",
        )
        return cls(
            coeftable=ct,
            vcov_=V,
            coef_names=list(obj["coef_names"]),
            family=obj["family"],
            link=obj["link"],
            yvar=obj["yvar"],
            vcov_type=obj["vcov_type"],
            cluster_var=obj["cluster_var"],
            nobs=obj["nobs"],
            df_residual=obj["df_residual"],
            loglik=obj["loglik"],
            deviance=obj["deviance"],
            null_deviance=obj["null_deviance"],
            dispersion=obj["dispersion"],
            pearson_chi2=obj["pearson_chi2"],
            n_iter=obj["n_iter"],
            converged=obj["converged"],
            collin_vars=list(obj["collin_vars"]),
            n_clusters=obj["n_clusters"],
            design_info=design,
            parsed=None,
            offset=obj["offset"],
            weights_col=obj["weights_col"],
            fe=fe,
            n_fe_levels=obj["n_fe_levels"],
            inference=obj["inference"],
            _betahat=beta,
            _fe_table=fe_table,
        )

    def __repr__(self):
        lines = [
            f"dbglm(family={self.family}, link={self.link}, "
            f"vcov={self.vcov_type}"
            + (f" ~{self.cluster_var}" if self.cluster_var else "")
            + ")",
            f"nobs: {self.nobs}   iterations: {self.n_iter}"
            + ("" if self.converged else "   (NOT CONVERGED)"),
            f"deviance: {self.deviance:.6g}   logLik: {self.loglik:.6g}",
            str(self.coeftable),
        ]
        return "\n".join(lines)


# --------------------------------------------------------------------------
# dbglm entry point
# --------------------------------------------------------------------------


def _null_deviance(
    fam: _Family,
    icpt_req: bool,
    offset: str | None,
    sum_wt: float,
    sum_y: float,
    sum_y_sq: float,
    ll_sat: float,
) -> float:
    """Null model in closed form from the weighted sums: intercept-only
    (μ̂ = Σωy/Σω) when the model has an intercept, else the zero linear
    predictor (R convention for no-intercept GLMs). With an offset the
    closed form does not exist (the null model must still carry the
    offset) — report NaN rather than a wrong number. Shared by the raw
    IRLS tail and the cells-compressed path (glm_cells.py)."""
    ybar = sum_y / sum_wt if sum_wt > 0 else float("nan")
    if offset is not None:
        return float("nan")
    if fam.name == "binomial":
        if icpt_req:
            # Σω[y·ln(μ̂) + (1−y)·ln(1−μ̂)] from the weighted sums
            null_ll = (
                sum_y * math.log(ybar) + (sum_wt - sum_y) * math.log(1 - ybar)
                if 0.0 < ybar < 1.0
                else 0.0
            )
        else:
            null_ll = -sum_wt * math.log(2.0)  # η=0 ⇒ μ=1/2
        return 2.0 * (ll_sat - null_ll)
    if fam.name == "poisson":
        if icpt_req:
            null_ll = (sum_y * math.log(ybar) - sum_wt * ybar) if ybar > 0 else 0.0
        else:
            null_ll = -sum_wt  # η=0 ⇒ μ=1: Σω(y·0 − 1)
        return 2.0 * (ll_sat - null_ll)
    if fam.name == "negbin":
        th = float(fam.theta)
        # null model mu = ybar (weighted); at mu = 1 without an intercept
        mu0 = ybar if icpt_req else 1.0
        if mu0 > 0:
            null_ll = (
                sum_y * math.log(mu0)
                - (sum_y + th * sum_wt) * math.log(th + mu0)
                + sum_wt * th * math.log(th)
            )
        else:
            null_ll = 0.0
        return 2.0 * (ll_sat - null_ll)
    # gaussian: weighted TSS about ȳ with an intercept, about 0 without
    return sum_y_sq - (sum_y**2 / sum_wt if icpt_req else 0.0)


def dbglm(
    fml: str,
    data=None,
    *,
    spark: SparkSession | None = None,
    table: str | None = None,
    path: str | None = None,
    family: str = "binomial",
    vcov: str | None = "iid",
    cluster=None,
    offset: str | None = None,
    weights: str | None = None,
    l2: float = 0.0,
    hac_lag: int | None = None,
    theta: float | None = None,
    conley_cutoff: float | None = None,
    conley_kernel: str = "uniform",
    conley_distance: str = "haversine",
    max_iter: int = 25,
    tol: float = 1e-8,
    drop_missings: bool = True,
    verbose: bool = False,
    cells_nmax: int = 5_000_000,
    strategy: str = "auto",
    _known_levels: dict | None = None,
) -> GlmModel:
    """Fit a GLM by distributed IRLS. See the module docstring for the
    per-pass computation; the driver holds only the p×p system.

    ``strategy``: "auto"/"irls" runs the distributed IRLS above (one pass
    per iteration). "cells" compresses first — ONE
    groupBy(design columns).agg(...) pass collects per-cell sufficient
    statistics (Σω, Σωy, Σωy², …) and the IRLS iterates driver-side in
    numpy over the ≤ ``cells_nmax`` cells (every family's per-row ll /
    working response is linear in y at fixed η, so the compression is
    lossless — see glm_cells.py). The right choice for ALL-DISCRETE
    designs (bin dummies, factor controls): ~10 corpus scans become 1.
    Falls back to raw IRLS with a warning when the design has more than
    ``cells_nmax`` distinct rows; refuses absorbed ``| fe`` (use fepois).

    ``fml`` is the same formula syntax as :func:`dbreg.dbreg` WITHOUT the
    ``| fe`` part (string/factor regressors expand to dummies; ``y ~ 0 + x``
    suppresses the intercept). ``vcov`` is "iid" (inverse information),
    "hc1", a cluster formula "~ g" / "~ g1 + g2", or Driscoll-Kraay
    "dk ~ t" (per-period score sums with Newey-West weighting across
    ``hac_lag`` lags, plug-in bandwidth by default; works on the plain,
    1-FE profiled and k-FE fepois paths). ``offset`` names a
    column added to the linear predictor (Poisson rate models pass
    log-exposure). ``weights`` names a prior-weight column ω, R's
    ``glm(weights=)`` semantics — for binomial, y may then be a proportion
    in [0, 1] with ω the trial count (grouped/aggregated logit).

    ``l2`` > 0 adds a ridge penalty (λ/2)·‖β‖² on the NON-intercept
    coefficients: the IRLS step solves (X'WX + λI)β = X'Wz and convergence
    tracks the penalized likelihood. This regularizes separable problems
    (a perfectly separating classifier feature no longer diverges) and
    near-collinear designs — collinearity dropping is disabled, the ridge
    handles it. Reported vcov is the penalized sandwich B·A·B (model-based)
    or B·M·B (robust) with B = (X'WX + λI)⁻¹; inference is approximate
    under a penalty, as usual.

    ``family="negbin"`` fits NB2 (variance μ + μ²/θ, log link): pass a
    fixed ``theta=``, or leave it None for the two-step Cameron-Trivedi
    estimator (poisson fit → one-pass moment α̂ → refit at θ̂ = 1/α̂;
    reported SEs condition on θ̂). The reported loglik includes the
    lgamma terms via one y-histogram pass.

    ``vcov="conley ~ lat + lon"`` (+ ``conley_cutoff/kernel/distance``)
    computes Conley spatial HAC SEs from the family score rows with the
    same cell-bucketed pair enumeration as dbreg (plans/conley.py) — on
    the plain path and the 1-FE fepois profiled path. The same work
    guards apply: >150,000 score rows in one grid cell or a 9·Σ(cell
    count)² pair estimate above 2e10 refuses rather than exploding the
    self-join (raise via ``plans.conley.conley_meat(max_cell_rows=,
    max_pair_estimate=)`` directly if that is deliberate).

    ``cells_nmax`` bounds the k-FE Poisson driver-side inner solver: an
    occupied-FE-cell table at most this long collects to the driver (fast
    numpy alternations); a bigger one — or a maxResultSize abort — switches
    the fit to the cell-resident Spark inner solver (same algebra, the
    cells never leave the cluster) with a warning naming the extra
    per-iteration passes."""
    want_ml_theta = isinstance(theta, str)
    if want_ml_theta:
        if theta.strip().lower() != "ml":
            raise ValueError("theta must be a positive float, None, or 'ml'")
        theta = None
    if strategy not in ("auto", "irls", "cells"):
        raise ValueError(
            "dbglm strategy must be 'auto', 'irls', or 'cells'"
        )
    fam = get_family(family, theta=theta)
    if fam.name != "negbin" and (theta is not None or want_ml_theta):
        raise ValueError("theta= applies to family='negbin' only")
    if fam.name == "negbin" and fam.theta is None and want_ml_theta:
        # full profile maximum likelihood for theta (MASS glm.nb / fixest
        # fenegbin equivalent): alternate (a) a fixed-theta IRLS fit and
        # (b) a derivative-free profile search over theta given mu-hat —
        # each search ROUND evaluates a geometric candidate grid in ONE
        # pass over the scored frame (the lgamma terms come driver-side
        # from the y histogram, collected once), so no digamma is needed.
        # The two-step moment estimate seeds the bracket.
        src_df = resolve_source(spark, data=data, table=table, path=path).df
        m = dbglm(
            fml, data=data, spark=spark, table=table, path=path,
            family="negbin", vcov="iid", offset=offset, weights=weights,
            l2=l2, max_iter=max_iter, tol=tol, drop_missings=drop_missings,
            verbose=verbose, cells_nmax=cells_nmax, strategy=strategy,
            _known_levels=_known_levels,
        )
        th = float(m.family[len("negbin(theta="):-1])
        # the y histogram is collected ONCE, from the SAME complete-case
        # sample the fit uses (scored rows with non-null fit/y/weights) —
        # a raw-source histogram would add excluded rows' lgamma terms and
        # bias the profile gradient whenever regressors have NULLs
        hist = None
        for _outer in range(10):
            th_new, hist = _negbin_profile_theta(
                m, src_df, weights, th, hist
            )
            if verbose:
                _log.info(f"[dbglm] negbin ML theta sweep: {th:.6g} -> {th_new:.6g}")
            if abs(th_new - th) <= 1e-6 * max(th, 1.0):
                th = th_new
                break
            th = th_new
            # intermediate refits carry vcov='iid' — only the FINAL refit
            # below pays for the requested (possibly expensive) sandwich
            m = dbglm(
                fml, data=data, spark=spark, table=table, path=path,
                family="negbin", vcov="iid", offset=offset, weights=weights,
                l2=l2, theta=th, max_iter=max_iter, tol=tol,
                drop_missings=drop_missings, verbose=verbose,
                cells_nmax=cells_nmax, strategy=strategy,
                _known_levels=_known_levels,
            )
        return dbglm(
            fml, data=data, spark=spark, table=table, path=path,
            family="negbin", vcov=vcov, cluster=cluster, offset=offset,
            weights=weights, l2=l2, hac_lag=hac_lag, theta=th,
            conley_cutoff=conley_cutoff, conley_kernel=conley_kernel,
            conley_distance=conley_distance,
            max_iter=max_iter, tol=tol, drop_missings=drop_missings,
            verbose=verbose, cells_nmax=cells_nmax, strategy=strategy,
            _known_levels=_known_levels,
        )
    if fam.name == "negbin" and fam.theta is None:
        # two-step NB2 (Cameron-Trivedi 1986): (1) poisson IRLS for mu-hat,
        # (2) the moment estimator alpha-hat = SUM w[(y-mu)^2 - mu] / SUM
        # w mu^2 (one extra distributed pass over the scored frame),
        # (3) refit with theta = 1/alpha-hat FIXED. SEs condition on
        # theta-hat (the standard two-step caveat; pass theta= explicitly
        # for a sensitivity check). A full ML theta profile would add one
        # pass per 1-D Newton step — the moment estimator is one pass and
        # root-n consistent.
        pois = dbglm(
            fml, data=data, spark=spark, table=table, path=path,
            family="poisson", vcov="iid", offset=offset, weights=weights,
            max_iter=max_iter, tol=tol, drop_missings=drop_missings,
            verbose=verbose, cells_nmax=cells_nmax, strategy=strategy,
            _known_levels=_known_levels,
        )
        th = _negbin_moment_theta(
            pois,
            resolve_source(spark, data=data, table=table, path=path).df,
            weights,
        )
        if verbose:
            _log.info(f"[dbglm] negbin two-step theta-hat = {th:.6g}")
        return dbglm(
            fml, data=data, spark=spark, table=table, path=path,
            family="negbin", vcov=vcov, cluster=cluster, offset=offset,
            weights=weights, l2=l2, hac_lag=hac_lag, theta=th,
            conley_cutoff=conley_cutoff, conley_kernel=conley_kernel,
            conley_distance=conley_distance,
            max_iter=max_iter, tol=tol, drop_missings=drop_missings,
            verbose=verbose, cells_nmax=cells_nmax, strategy=strategy,
            _known_levels=_known_levels,
        )
    parsed = parse_formula(fml)
    if parsed.fe and fam.name != "poisson":
        raise NotImplementedError(
            "dbglm supports absorbed `| fe` fixed effects for the poisson "
            "family only (the log link's FE profile is closed-form — the "
            "fepois/PPML estimator). For other families list "
            "low-cardinality group columns as regressors (factors expand "
            "to dummies), or use dbreg() for linear FE models."
        )
    if parsed.fe and fam.quasi:
        raise NotImplementedError(
            "dbglm fe_poisson does not support the quasipoisson "
            "dispersion yet; use vcov='hc1' or a cluster formula for "
            "robust inference"
        )
    vcov_type, cluster_vars = parse_vcov(
        vcov, cluster, valid=("iid", "hc1", "hc2", "hc3")
    )
    if vcov_type in ("hc2", "hc3") and parsed.fe:
        raise NotImplementedError(
            f"dbglm vcov={vcov_type!r} does not cover absorbed FEs (the "
            "profiled-FE hat matrix has no per-row pass here); include "
            "low-cardinality groups as factor regressors, or use hc1"
        )
    conley_opts = None
    if vcov_type == "conley":
        if conley_cutoff is None:
            raise ValueError(
                "vcov='conley ~ lat + lon' needs conley_cutoff= (km for "
                "distance='haversine', coordinate units for 'euclidean')"
            )
        if len(parsed.fe) > 1:
            raise NotImplementedError(
                "dbglm conley vcov supports at most one absorbed FE (the "
                "k-FE cell solver has no per-row score frame); include "
                "further FEs as factor regressors"
            )
        conley_opts = (float(conley_cutoff), conley_kernel, conley_distance)

    source = resolve_source(spark, data=data, table=table, path=path)
    design = build_design(
        source.df, parsed, expand="all", fe_vars=parsed.fe or None,
        known_levels=_known_levels,
    )
    aux_cols = [c for c in (offset, weights) if c is not None]
    frame = build_base_frame(
        source,
        parsed,
        design,
        drop_missings,
        extra_cols=(list(cluster_vars) if cluster_vars else []) + aux_cols or None,
        want_sql=source.sql_from is not None,
    )
    if aux_cols and drop_missings:
        # build_base_frame's null filter covers y/x only; a null offset or
        # weight would poison every aggregate. The SQL mirror is dropped —
        # its CTE does not carry this extra predicate.
        cond = None
        for c in aux_cols:
            cc = F.col(c).isNotNull()
            cond = cc if cond is None else (cond & cc)
        frame.df = frame.df.where(cond)
        frame.sql_cte = None

    if l2 < 0:
        raise ValueError("l2 must be >= 0")
    if strategy == "cells":
        if parsed.fe:
            raise NotImplementedError(
                "dbglm strategy='cells' does not absorb `| fe` parts (the "
                "profiled FE is not a cell function); use the fepois path "
                "(strategy='auto') or list low-cardinality groups as "
                "factor regressors — those compress."
            )
        from .glm_cells import glm_cells_fit

        m = glm_cells_fit(
            frame, parsed, design, fam, vcov_type, cluster_vars, offset,
            weights, l2, hac_lag, conley_opts, max_iter, tol, verbose,
            cells_nmax,
        )
        if m is not None:
            return m
        # cell count exceeded cells_nmax — fall through to raw IRLS
        # (glm_cells_fit already warned)
    if parsed.fe:
        if l2 > 0:
            raise NotImplementedError(
                "l2 regularization is not available with absorbed `| fe` "
                "fixed effects (the profiled system is not the penalized "
                "one); drop l2 or use explicit factor dummies"
            )
        return _fe_poisson(
            frame, parsed, design, fam, vcov_type, cluster_vars,
            offset, weights, max_iter, tol, verbose, cells_nmax, hac_lag,
            conley_opts,
        )

    icpt_req = bool(parsed.intercept)  # "y ~ 0 + x" / "- 1" suppresses it
    names_all = (["(Intercept)"] if icpt_req else []) + [
        standardize_coef_names(n) for n in frame.x_cols
    ]
    x_names = list(frame.x_cols)
    p_all = len(names_all)

    def run_pass(beta_, x_, icpt_, first_=False):
        """(row, sql) for one IRLS pass at literal β."""
        _, agg_df_, sql_ = irls_pass_plan(
            frame, fam, beta_, x_, icpt_, first=first_,
            offset=offset, weights=weights,
        )
        return agg_df_.collect()[0].asDict(), sql_

    # ---- first pass at β = 0: moments + collinearity + y diagnostics ----
    beta = np.zeros(p_all)
    row, sql = run_pass(beta, x_names, icpt_req, first_=True)
    n_total = float(row["n_total"])
    if n_total == 0:
        raise ValueError("dbglm: zero rows after missing-value filtering")
    if weights is not None and float(row["wt_min"]) < 0:
        raise ValueError(
            f"dbglm: weights column {weights} contains negative values"
        )
    if fam.name == "binomial":
        if weights is None and float(row.get("y_bad") or 0.0) > 0:
            raise ValueError(
                f"dbglm(family='binomial') needs a 0/1 outcome; {parsed.yvar} "
                "has values outside {0, 1}"
            )
        if weights is not None and (
            float(row["y_min"]) < 0 or float(row["y_max"]) > 1
        ):
            raise ValueError(
                "dbglm(family='binomial', weights=...) needs a proportion "
                f"outcome in [0, 1]; {parsed.yvar} is outside that range"
            )
    if fam.name in ("poisson", "negbin") and float(row["y_min"]) < 0:
        raise ValueError(
            f"dbglm(family={fam.name!r}) needs a non-negative outcome; "
            f"min({parsed.yvar}) = {row['y_min']}"
        )
    sum_wt = float(row["sum_wt"])  # = n_total when weights is None
    sum_y = float(row["sum_y"])  # Σ ω·y
    sum_y_sq = float(row["sum_y_sq"])  # Σ ω·y²
    ll_sat = float(row["ll_sat"])

    a0, b0, ll0, _ = _decode_pass(row, p_all)
    # at β=0, binomial A = X'X/4 and gaussian A = X'X: pivot detection on
    # the weighted matrix is scale-invariant, so collinear columns drop once.
    # With a ridge penalty the system is always full-rank — keep everything.
    if l2 > 0:
        from .solve import CollinResult

        collin = CollinResult(a0, b0, list(range(p_all)), list(names_all), [], False)
    else:
        collin = detect_collinearity(a0, b0, names_all)
    keep_idx = list(collin.keep_idx)  # positional — immune to name collisions
    names = list(collin.keep_names)
    off0 = 1 if icpt_req else 0
    icpt = icpt_req and 0 in keep_idx
    x_kept = [x_names[i - off0] for i in keep_idx if i >= off0]
    p = len(names)

    def sub(a, b):
        return a[np.ix_(keep_idx, keep_idx)], b[np.asarray(keep_idx)]

    # ridge: λ on the non-intercept diagonal; penalized objective
    # ℓ_pen(β) = ℓ(β) − (λ/2)‖β₋₀‖² drives the step/convergence logic
    penM = np.eye(p) * l2
    if icpt and l2 > 0:
        penM[0, 0] = 0.0

    def pen(b):
        return 0.5 * float(b @ (penM @ b))

    a_k, b_k = sub(a0, b0)
    sol = solve_with_fallback(a_k + penM, b_k)
    beta = sol.betahat
    ll_prev = ll0  # penalized ll at β=0 equals raw ll0 (penalty 0)
    ll_raw = ll0
    beta_prev = np.zeros(p)
    converged = False
    gave_up = False
    n_iter = 1
    halvings = 0
    final_row = row
    final_a = a_k
    accepted_beta = np.zeros(p)  # β of the pass final_row/final_a came from
    last_sql = sql

    if fam.name == "gaussian":
        # identity link: IRLS is exact in one step; run one pass at β̂ for
        # the final log-likelihood / information
        r2, last_sql = run_pass(beta, x_kept, icpt)
        a2, b2, ll2, _ = _decode_pass(r2, p)
        final_a, ll_prev, final_row = a2, ll2, r2
        ll_raw = ll2
        n_iter = 2
        converged = True
    else:
        while n_iter < max_iter:
            rowi, last_sql = run_pass(beta, x_kept, icpt)
            a_i, b_i, ll_i, _ = _decode_pass(rowi, p)
            llp_i = ll_i - pen(beta)
            n_iter += 1
            if not math.isfinite(llp_i) or llp_i < ll_prev - 1e-10 * (
                abs(ll_prev) + 1.0
            ):
                # overshoot (poisson exp blow-up / extreme logit step):
                # halve back toward the last accepted β. 12 halvings shrink
                # the step by 4096× — past that the direction itself is bad
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
            final_row, final_a = rowi, a_i
            accepted_beta = beta
            ll_raw = ll_i
            if verbose:
                _log.info(f"[dbglm] iter {n_iter}: ll = {llp_i:.10g}")
            if abs(llp_i - ll_prev) <= tol * (abs(llp_i) + 0.1):
                ll_prev = llp_i
                converged = True
                break
            sol = solve_with_fallback(a_i + penM, b_i)
            beta_prev, beta = beta, sol.betahat
            ll_prev = llp_i
        if not converged:
            # report the β of the last ACCEPTED pass, so coefficients,
            # information matrix, log-likelihood and pearson all refer to
            # the same point
            beta = accepted_beta
            if not gave_up:
                warnings.warn(
                    f"[dbglm] IRLS did not converge in {max_iter} iterations "
                    f"(family={fam.name}); estimates are the last accepted "
                    "step"
                )

    ll_final = ll_raw
    deviance = 2.0 * (ll_sat - ll_raw)
    if fam.name == "negbin":
        # reported loglik adds the beta-free lgamma(y+theta) terms from ONE
        # y-histogram pass (exact for any y >= 0, weighted); deviance and
        # null_dev difference the constant away, so they stay raw
        ll_final = ll_raw + _negbin_ll_const(
            frame, weights, float(fam.theta)
        )
    null_dev = _null_deviance(
        fam, icpt_req, offset, sum_wt, sum_y, sum_y_sq, ll_sat
    )
    if fam.name == "gaussian":
        deviance = -2.0 * ll_final  # ω-weighted RSS (ll = −Σω(y−η)²/2)

    df_res = max(n_total - p, 1.0)
    # bread: B = (A + λI)⁻¹ (reduces to A⁻¹ at λ=0)
    info_inv = solve_with_fallback(final_a + penM, np.zeros(p)).xtx_inv

    # pearson dispersion rode the final accepted pass (fixed to 1 for
    # binomial/poisson model-based vcov, the R glm convention; estimated
    # for gaussian and the quasi families)
    pearson = float(final_row["pearson"])
    dispersion = (
        pearson / df_res if (fam.name == "gaussian" or fam.quasi) else 1.0
    )

    meat = n_clusters = None
    if vcov_type in MEAT_KIND:
        block = glm_block(
            fam, _eta_expr(beta, x_kept, icpt, offset), _d(Var(frame.y_col)),
            x_kept, icpt, weights, info_inv, vcov_type,
        )
        meat, n_clusters = sandwich_meat(
            frame, [block], MEAT_KIND[vcov_type], cluster_vars or (),
            lag=hac_lag, conley=conley_opts,
        ).one()

    if vcov_type == "iid":
        # λ=0: B·A·B = A⁻¹ (classic); λ>0: the penalized model-based
        # sandwich B·A·B with B = (A+λI)⁻¹
        V = dispersion * (
            info_inv if l2 == 0 else info_inv @ final_a @ info_inv
        )
    else:
        V = compute_vcov(
            vcov_type, info_inv, deviance, df_res, n_total, p, meat, n_clusters
        )

    # estimated dispersion (gaussian / quasi families) ⇒ t inference with
    # df_residual, R's summary.glm convention; fixed dispersion ⇒ Wald-z
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
        query_string=last_sql,
        offset=offset,
        weights_col=weights,
        inference="t" if use_t else "z",
        _betahat=beta,
    )


# --------------------------------------------------------------------------
# FE-Poisson (PPML with absorbed fixed effects — fepois/ppmlhdfe analog)
# --------------------------------------------------------------------------


# the profiled-pass join broadcasts the group table whenever its level
# count is known to be at most this — each row is (p+2) doubles + the key,
# so 500k levels ≈ tens of MB on the driver; beyond that the join stays a
# shuffle join co-partitioned on the FE (AQE may still broadcast at runtime)
FEPOIS_BROADCAST_GMAX = 500_000


def _fepois_exprs(y_col, x_names, beta, offset, weights):
    """Shared per-row IR for the fepois passes: (y, ω, m = e^{o+x'β})."""
    y = _d(Var(y_col))
    om: Expr | None = _d(Var(weights)) if weights is not None else None
    eta_x = _eta_expr(beta, x_names, intercept=False)
    full = _d(Var(offset)) + eta_x if offset is not None else eta_x
    m = Func("exp", (full,))
    return y, om, m


def fepois_group_table(
    df: DataFrame,
    y_col: str,
    x_names: list[str],
    fe: str,
    beta: np.ndarray,
    offset: str | None = None,
    weights: str | None = None,
) -> DataFrame:
    """Pass 1 of the profiled Newton step: per-FE sums W_g = Σωm,
    Y_g = Σωy, T_gj = Σωm·xⱼ at literal β — the weighted group-mean table
    (one (p+2)-vector per group through the shuffle)."""
    y, om, m = _fepois_exprs(y_col, x_names, beta, offset, weights)
    wm = om * m if om is not None else m
    wy = om * y if om is not None else y
    aggs = [
        F.sum(to_spark(_d(wm))).alias("__Wg"),
        F.sum(to_spark(_d(wy))).alias("__Yg"),
    ]
    for j, xn in enumerate(x_names):
        aggs.append(F.sum(to_spark(_d(wm) * _d(Var(xn)))).alias(f"__T{j}"))
    return df.groupBy(fe).agg(*aggs)


def fepois_profiled_rows(
    df: DataFrame,
    gtab: DataFrame,
    y_col: str,
    x_names: list[str],
    fe: str,
    beta: np.ndarray,
    offset: str | None = None,
    weights: str | None = None,
    first: bool = False,
    extra_keys: list[str] | None = None,
    broadcast: bool = False,
    center: np.ndarray | None = None,
) -> DataFrame:
    """Pass 2 projection: join the group table, emit per-row weight
    (ω·μ̂), score (ω(y−μ̂)), log-likelihood, and the profiled regressors
    x̃ⱼ = xⱼ − T_gj/W_g, with μ̂ = (Y_g/W_g)·m. ``broadcast=True`` pins
    the group table to the broadcast side (the caller knows G is small);
    otherwise Catalyst/AQE picks the join strategy.

    ``center``: run in the PRIMED coordinates of a centered
    :func:`fepois_suffstats_table` group table (x → x−c everywhere, so m,
    W_g, T_gj are the primed ones). Every emitted quantity — x̃, μ̂,
    score, ll — is exactly invariant to the centering, but the primed
    evaluation stays finite where raw exp(x'β) overflows (large-mean
    regressors)."""
    y = _d(Var(y_col))
    om: Expr | None = _d(Var(weights)) if weights is not None else None
    if center is None:
        _y2, _om2, m = _fepois_exprs(y_col, x_names, beta, offset, weights)
        eta_x = _eta_expr(beta, x_names, intercept=False)
        xs = [_d(Var(xn)) for xn in x_names]
    else:
        xs = [
            _d(Var(xn)) - Lit(float(cj))
            for xn, cj in zip(x_names, center)
        ]
        eta_x = Lit(0.0)
        for bj, xj in zip(beta, xs):
            eta_x = eta_x + Lit(float(bj)) * xj
        full = _d(Var(offset)) + eta_x if offset is not None else eta_x
        m = Func("exp", (full,))
    lam = Var("__Yg") / Var("__Wg")
    mu = lam * m
    wexpr = om * mu if om is not None else mu  # ω·μ̂
    score = (om if om is not None else Lit(1.0)) * (y - mu)
    # ℓ_i = ω[y·ln μ̂ − μ̂] with y·ln μ̂ expanded in LOG form:
    # y·(ln Y_g − ln W_g + η). Evaluating ln(μ̂) directly would go NULL
    # when m underflows to 0 on a y>0 row (near-separation) — Spark's SUM
    # silently drops NULLs and the step-halving guard would accept a
    # likelihood-destroying step. In log form the term stays a finite
    # large-negative (or −inf on W_g overflow, which correctly trips the
    # non-finite check). y>0 ⇒ Y_g>0, so ln(Y_g) is defined where used.
    full_eta = _d(Var(offset)) + eta_x if offset is not None else eta_x
    lnlam = Func("ln", (Var("__Yg"),)) - Func("ln", (Var("__Wg"),))
    ylnmu = CaseGE(y, 0.0, y * (lnlam + full_eta), strict=True)
    ll = (om if om is not None else Lit(1.0)) * (ylnmu - mu)
    proj_cols = [
        to_spark(_d(wexpr)).alias("__w"),
        to_spark(_d(score)).alias("__s"),
        to_spark(_d(ll)).alias("__ll"),
    ]
    if first:
        llsat = CaseGE(y, 0.0, y * Func("ln", (y,)) - y, strict=True)
        if om is not None:
            llsat = om * llsat
        proj_cols.append(to_spark(_d(llsat)).alias("__llsat"))
        # raw regressors ride the first pass for the absorbed-column check:
        # Σw·x² is the scale Σw·x̃² is compared against
        for j, xn in enumerate(x_names):
            proj_cols.append(to_spark(_d(Var(xn))).alias(f"__xr{j}"))
    for j, xj in enumerate(xs):
        xt = xj - Var(f"__T{j}") / Var("__Wg")
        proj_cols.append(to_spark(xt).alias(f"__xt{j}"))
    gt = F.broadcast(gtab) if broadcast else gtab
    return df.join(gt, fe).select(*(extra_keys or []), *proj_cols)


def fepois_profiled_agg(joined: DataFrame, p: int, first: bool = False) -> DataFrame:
    """Pass 2 aggregation: the profiled Newton system A = X̃'WX̃,
    s = X̃'(ω(y−μ̂)) plus n and the log-likelihood, as ONE row."""
    aggs = [
        F.count(F.lit(1)).alias("n_total"),
        F.sum("__ll").alias("ll"),
    ]
    if first:
        aggs.append(F.sum("__llsat").alias("ll_sat"))
        for i in range(p):
            aggs.append(
                F.sum(F.col("__w") * F.col(f"__xr{i}") * F.col(f"__xr{i}"))
                .alias(f"d_{i}")
            )
    for i in range(p):
        for j in range(i, p):
            aggs.append(
                F.sum(F.col("__w") * F.col(f"__xt{i}") * F.col(f"__xt{j}"))
                .alias(f"a_{i}_{j}")
            )
    for i in range(p):
        aggs.append(F.sum(F.col("__s") * F.col(f"__xt{i}")).alias(f"b_{i}"))
    return joined.agg(*aggs)


def fepois_suffstats_table(
    df: DataFrame,
    y_col: str,
    x_names: list[str],
    fe: str,
    beta: np.ndarray,
    offset: str | None = None,
    weights: str | None = None,
    center: np.ndarray | None = None,
    first: bool = False,
) -> DataFrame:
    """ONE groupBy(fe) pass collecting the per-group sufficient statistics
    of the whole profiled Newton step (r9 optimization; guide §1.2 —
    remove passes at the algorithm level).

    The two-pass shape (:func:`fepois_group_table` then
    :func:`fepois_profiled_rows` + :func:`fepois_profiled_agg`, kept as-is
    for the `glm_fepois_profile_step` gate and the meat pass) scans the
    data twice per Newton iteration. But at fixed β the profiled system is
    a GROUP-LEVEL function of {W_g=Σωm, Y_g=Σωy, T_gj=Σωm·xⱼ, S_gj=Σωy·xⱼ,
    M_gjk=Σωm·xⱼxₖ}: with t_g = T_g/W_g and λ_g = Y_g/W_g,

        A_jk = Σ_g λ_g (M_gjk − T_gj T_gk / W_g)      (= Σ ωμ̂ x̃ⱼx̃ₖ)
        s_j  = Σ_g (S_gj − λ_g T_gj)                   (= Σ ω(y−μ̂) x̃ⱼ)
        ll   = Σ_g ([Y_g ln λ_g]_{Y_g>0} + Σⱼ βⱼS_gj + L_g − Y_g)

    so one grouped pass per iteration suffices; :func:`_fepois_assemble`
    runs the G-row reduction (no data scan).

    ``center``: optional literal offsets cⱼ — every xⱼ enters as xⱼ−cⱼ.
    The profiled system is exactly invariant to centering (x̃, μ̂, ll all
    unchanged: the constant shifts are absorbed into λ_g), but the
    grouped difference M − TT'/W cancels catastrophically when the
    between-group variation dwarfs the within-group variation; centering
    at the global (ω-weighted) means — free from the first pass at β=0 —
    bounds the cancellation by the between/within variance ratio of the
    CENTERED columns. Raw-coordinate {W_g, Y_g, T_gj} for the meat join
    are reconstructed exactly from the centered ones
    (:func:`_fepois_gtab_from_stats`).

    ``first`` additionally collects N_g (row count), the saturated
    log-likelihood pieces, and the RAW second moments D_gj = Σωm·xⱼ²
    (the absorbed-column check scale — same semantics as the two-pass
    shape)."""
    y = _d(Var(y_col))
    om: Expr | None = _d(Var(weights)) if weights is not None else None
    c = center if center is not None else np.zeros(len(x_names))
    xs = [_d(Var(xn)) - Lit(float(cj)) for xn, cj in zip(x_names, c)]
    # η must be built from the SAME centered columns as T/S/M: primed
    # coordinates throughout (m′ = e^{o+(x−c)'β}), so λ′, the system and
    # the ll are mutually consistent — mixing raw η with centered moments
    # shifts the ll by the β-dependent constant (β·c)·ΣY and breaks the
    # step-halving comparisons
    eta_x: Expr = Lit(0.0)
    for bj, xj in zip(beta, xs):
        eta_x = eta_x + Lit(float(bj)) * xj
    full = _d(Var(offset)) + eta_x if offset is not None else eta_x
    m = Func("exp", (full,))
    wm = om * m if om is not None else m
    wy = om * y if om is not None else y
    aggs = [
        F.sum(to_spark(_d(wm))).alias("__Wg"),
        F.sum(to_spark(_d(wy))).alias("__Yg"),
        F.count(F.lit(1)).alias("__Ng"),
    ]
    for j, xj in enumerate(xs):
        aggs.append(F.sum(to_spark(_d(wm * xj))).alias(f"__T{j}"))
        aggs.append(F.sum(to_spark(_d(wy * xj))).alias(f"__S{j}"))
    for j, xj in enumerate(xs):
        for k in range(j, len(xs)):
            aggs.append(
                F.sum(to_spark(_d(wm * xj * xs[k]))).alias(f"__M{j}_{k}")
            )
    if offset is not None:
        aggs.append(
            F.sum(to_spark(_d(wy * _d(Var(offset))))).alias("__Lo")
        )
    if first:
        llsat = CaseGE(y, 0.0, y * Func("ln", (y,)) - y, strict=True)
        if om is not None:
            llsat = om * llsat
        aggs.append(F.sum(to_spark(_d(llsat))).alias("__LS"))
        for j, xn in enumerate(x_names):
            xr = _d(Var(xn))
            aggs.append(F.sum(to_spark(_d(wm * xr * xr))).alias(f"__D{j}"))
    return df.groupBy(fe).agg(*aggs)


def _fepois_assemble(
    stats: DataFrame, p: int, beta: np.ndarray, offset: bool, first: bool
) -> dict:
    """G-row reduction of :func:`fepois_suffstats_table` to the Newton
    system row — same output keys as :func:`fepois_profiled_agg` (plus
    the global ΣW/ΣT sums the centering derives from). Runs as one tiny
    aggregation over the (persisted) group table; never scans the data."""
    lam = "(__Yg / __Wg)"
    aggs = [
        F.sum(F.col("__Ng")).alias("n_total"),
    ]
    bs = " + ".join(
        f"({repr(float(beta[j]))} * __S{j})" for j in range(p)
    ) or "0.0D"
    lo = " + __Lo" if offset else ""
    aggs.append(
        F.sum(
            F.expr(
                f"CASE WHEN __Yg > 0 THEN __Yg * (LN(__Yg) - LN(__Wg)) "
                f"ELSE 0.0D END + {bs}{lo} - __Yg"
            )
        ).alias("ll")
    )
    if first:
        aggs.append(F.sum(F.col("__LS")).alias("ll_sat"))
        for i in range(p):
            aggs.append(
                F.sum(F.expr(f"{lam} * __D{i}")).alias(f"d_{i}")
            )
        # global ω-weighted sums (β=0 first pass ⇒ m=1): the centering
        # means are ΣT/ΣW over these two columns
        aggs.append(F.sum(F.col("__Wg")).alias("w_sum"))
        for i in range(p):
            aggs.append(F.sum(F.col(f"__T{i}")).alias(f"t_sum_{i}"))
    for i in range(p):
        for j in range(i, p):
            aggs.append(
                F.sum(
                    F.expr(f"{lam} * (__M{i}_{j} - __T{i} * __T{j} / __Wg)")
                ).alias(f"a_{i}_{j}")
            )
    for i in range(p):
        aggs.append(
            F.sum(F.expr(f"__S{i} - {lam} * __T{i}")).alias(f"b_{i}")
        )
    return stats.agg(*aggs).collect()[0].asDict()


def _fepois_gtab_from_stats(stats: DataFrame, p: int) -> DataFrame:
    """Group table (__Wg, __Yg, __T0..) projected from a suffstats table —
    no data scan. The columns stay in whatever (possibly centered/primed)
    coordinates the stats were built in; downstream consumers
    (:func:`fepois_profiled_rows` with ``center=``, the fixef column with
    its β·c correction) evaluate in the same coordinates, where
    everything stays finite even when raw exp(x'β) would overflow."""
    first_col = stats.columns[0]
    return stats.select(
        F.col(first_col), F.col("__Wg"), F.col("__Yg"),
        *[F.col(f"__T{j}") for j in range(p)],
    )


def _fe_poisson(
    frame: Frame,
    parsed: ParsedFormula,
    design: DesignInfo,
    fam: _Family,
    vcov_type: str,
    cluster_vars,
    offset: str | None,
    weights: str | None,
    max_iter: int,
    tol: float,
    verbose: bool,
    cells_nmax: int = 5_000_000,
    hac_lag: int | None = None,
    conley_opts=None,
) -> GlmModel:
    """Poisson regression with one absorbed fixed effect, by concentrated
    (profiled) IRLS — the `fepois` / PPML workhorse, at Spark scale.

    With log link the FE profile is CLOSED FORM: writing μ_i = λ_g·m_i,
    m_i = exp(o_i + x_i'β), the per-group first-order condition gives
    λ̂_g = Σ_g ωy / Σ_g ωm. Each Newton step on the profile likelihood is
    then TWO passes, both in the repo's demean-strategy shape:

    1. ``groupBy(fe)``: W_g = Σ ωm, T_gj = Σ ωm·xⱼ, Y_g = Σ ωy — the
       weighted group-mean table (persisted; the shuffle carries one
       (p+2)-vector per group). Because ω·μ ∝ ω·m within a group, the
       μ-weighted group means are T_gj/W_g — λ-free.
    2. join the group table back (broadcast for small G, shuffle-join
       co-partitioned on fe otherwise) and aggregate the profiled system:
       A = X̃'WX̃ and s = X̃'(ω(y−μ̂)) over x̃ = x − T_g/W_g with
       W = diag(ωμ̂), plus the log-likelihood (convergence statistic).

    β⁺ = β + A⁻¹s converges quadratically (Newton), guarded by the same
    step-halving as plain dbglm. Driver state: the p×p system. Groups with
    Σ_g ωy = 0 get λ̂_g = 0 — zero weight, zero score: they drop out of
    the system exactly as ppmlhdfe's separation handling, while remaining
    counted in nobs (α̂_g = −∞ on the link scale).

    vcov: bread = A⁻¹ (the profile information — equivalently the
    FE-partialed sandwich bread); HC1/CR1 meats use scores ω(y−μ̂)x̃ with
    k = p + G in the small-sample factors (the absorbed α's count).

    Binomial/gaussian FE models are refused upstream: no closed-form
    profile exists for logit, and linear FE models belong to dbreg().
    """
    if len(parsed.fe) > 1:
        return _fe_poisson_kfe(
            frame, parsed, design, fam, vcov_type, cluster_vars,
            offset, weights, max_iter, tol, verbose, cells_nmax, hac_lag,
        )
    fe = parsed.fe[0]
    x_names = list(frame.x_cols)
    names = [standardize_coef_names(n) for n in x_names]
    p = len(x_names)
    spark_df = frame.df

    def stats_table(beta, center, first):
        return fepois_suffstats_table(
            spark_df, frame.y_col, x_names, fe, beta, offset, weights,
            center=center, first=first,
        )

    def profiled_pass(beta, gtab, first=False, extra_keys=None, center=None):
        # once the first pass materialized the group table we know G; a
        # small table is pinned broadcast (the demean-strategy convention)
        # so every later iteration joins without shuffling the big side
        joined = fepois_profiled_rows(
            spark_df, gtab, frame.y_col, x_names, fe, beta,
            offset, weights, first=first, extra_keys=extra_keys,
            broadcast=g_levels is not None and g_levels <= FEPOIS_BROADCAST_GMAX,
            center=center,
        )
        if extra_keys is not None:
            return joined  # caller aggregates (cluster scores)
        return (
            fepois_profiled_agg(joined, p, first=first)
            .collect()[0]
            .asDict()
        )

    beta = np.zeros(p)
    beta_prev = np.zeros(p)
    accepted_beta = np.zeros(p)
    ll_prev = -math.inf
    converged = False
    gave_up = False
    halvings = 0
    n_iter = 0
    final_row = None
    final_a = None
    gtab = None  # suffstats table (r9: ONE scan/iteration, see
    # fepois_suffstats_table; the raw-coordinate meat/fixef group table is
    # a zero-scan projection of it)
    gtab_beta = None  # (β, x tuple) the cached group table was built at
    gtab_x = None
    g_levels = None
    center = None  # global-mean x offsets, fixed after the β=0 pass
    gtab_center = None  # the center the cached suffstats were built with
    ll_sat = 0.0
    collin_dropped: list[str] = []
    _FEPOIS_PASS_STATS["scan_passes"] = 0
    _FEPOIS_PASS_STATS["meat_passes"] = 0

    try:
        while n_iter < max_iter:
            new_gtab = stats_table(beta, center, n_iter == 0).persist()
            _FEPOIS_PASS_STATS["scan_passes"] += 1
            # hand over BEFORE the collect so the finally block releases the
            # new table even if this pass's job fails mid-flight
            prev_gtab, gtab = gtab, new_gtab
            gtab_beta, gtab_x = beta.copy(), tuple(x_names)
            gtab_center = None if center is None else center.copy()
            first = n_iter == 0
            rowi = _fepois_assemble(
                gtab, p, beta, offset is not None, first
            )
            if prev_gtab is not None:
                prev_gtab.unpersist()
            if g_levels is None:
                g_levels = gtab.count()  # cheap: gtab just materialized
            if first:
                # center every x at its global ω-weighted mean from this
                # β=0 pass (m=1 ⇒ ΣT/ΣW ARE the plain weighted means):
                # exactly result-invariant, and it bounds the grouped
                # M−TT'/W cancellation by the centered between/within
                # variance ratio (fepois_suffstats_table docstring)
                w_sum = float(rowi["w_sum"] or 0.0)
                if w_sum > 0:
                    center = np.array(
                        [
                            float(rowi[f"t_sum_{i}"] or 0.0) / w_sum
                            for i in range(p)
                        ]
                    )
            n_iter += 1
            if first and float(rowi["n_total"]) == 0:
                raise ValueError(
                    "dbglm: zero rows after missing-value filtering"
                )
            if first:
                ll_sat = float(rowi["ll_sat"])
            a_i = np.zeros((p, p))
            b_i = np.zeros(p)
            for i in range(p):
                b_i[i] = float(rowi[f"b_{i}"] or 0.0)
                for j in range(i, p):
                    v = float(rowi[f"a_{i}_{j}"] or 0.0)
                    a_i[i, j] = a_i[j, i] = v
            ll_i = float(rowi["ll"]) if rowi["ll"] is not None else math.nan
            if not math.isfinite(ll_i) or ll_i < ll_prev - 1e-10 * (
                abs(ll_prev) + 1.0
            ):
                if not math.isfinite(ll_prev):
                    # β=0 start already non-finite: halving cannot help
                    raise ValueError(
                        "dbglm fe_poisson: non-finite likelihood at the "
                        "starting point β=0 — the offset/outcome scale "
                        "overflows exp(); rescale the offset column"
                    )
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
            if first:
                # collinearity in the PROFILED system, two layers:
                # (1) ABSORBED columns — constant within FE groups (the
                #     time-invariant panel variable): x̃ is floating-point
                #     noise, detected by Σw·x̃² ≤ tol·Σw·x² (profiled vs
                #     raw second moment, scale-free);
                # (2) mutual dependence among the surviving profiled
                #     columns — the usual pivoted-Cholesky rank check.
                d_raw = np.array(
                    [float(rowi[f"d_{i}"] or 0.0) for i in range(p)]
                )
                absorbed = [
                    i for i in range(p)
                    if a_i[i, i] <= 1e-10 * max(d_raw[i], 1e-300)
                ]
                survive = [i for i in range(p) if i not in absorbed]
                collin_dropped = [names[i] for i in absorbed]
                sub_a = a_i[np.ix_(survive, survive)]
                sub_b = b_i[np.asarray(survive, dtype=int)] if survive else b_i[:0]
                collin = detect_collinearity(
                    sub_a, sub_b, [names[i] for i in survive]
                )
                if collin_dropped or collin.collinear:
                    collin_dropped = collin_dropped + list(collin.drop_names)
                    keep = [survive[i] for i in collin.keep_idx]
                    x_names = [x_names[i] for i in keep]
                    names = [names[i] for i in keep]
                    p = len(names)
                    a_i = a_i[np.ix_(keep, keep)]
                    b_i = b_i[np.asarray(keep)]
                    beta = beta[np.asarray(keep)]
                    beta_prev = beta_prev[np.asarray(keep)]
                    accepted_beta = accepted_beta[np.asarray(keep)]
                    if center is not None:
                        center = center[np.asarray(keep)]
                    # gtab's __T columns are positionally stale now; the
                    # next build (or the post-loop rebuild) refreshes them
                    gtab_x = None
            final_row, final_a = rowi, a_i
            accepted_beta = beta
            if verbose:
                _log.info(f"[dbglm fepois] iter {n_iter}: ll = {ll_i:.10g}")
            if math.isfinite(ll_prev) and abs(ll_i - ll_prev) <= tol * (
                abs(ll_i) + 0.1
            ):
                ll_prev = ll_i
                converged = True
                break
            if n_iter >= max_iter:
                ll_prev = ll_i
                break
            sol = solve_with_fallback(a_i, b_i)
            beta_prev, beta = beta, beta + sol.betahat
            ll_prev = ll_i
        if not converged:
            beta = accepted_beta
            if not gave_up:
                warnings.warn(
                    f"[dbglm] fe_poisson did not converge in {max_iter} "
                    "iterations; estimates are the last accepted step"
                )
        if final_row is None:
            raise ValueError(
                "dbglm fe_poisson: no likelihood-improving step was ever "
                "accepted; the model could not be fit on this data"
            )
        # the meat pass and fixef table must see the group table OF THE
        # REPORTED β — rebuild if the loop exited holding a rejected-β or
        # stale-column table (give-up / max-iter-mid-halving / collinearity
        # drop on the final pass)
        if (
            gtab_beta is None
            or not np.array_equal(gtab_beta, beta)
            or gtab_x != tuple(x_names)
        ):
            new_gtab = stats_table(beta, center, False).persist()
            _FEPOIS_PASS_STATS["scan_passes"] += 1
            prev_gtab, gtab = gtab, new_gtab
            gtab_center = None if center is None else center.copy()
            if prev_gtab is not None:
                prev_gtab.unpersist()
        # raw-coordinate group table for the meat join and the fixef
        # column — a zero-scan projection over the persisted suffstats
        raw_gtab = _fepois_gtab_from_stats(gtab, p)

        n_total = float(final_row["n_total"])
        ll_final = ll_prev
        deviance = 2.0 * (ll_sat - ll_final)
        k_eff = p + (g_levels or 0)
        df_res = max(n_total - k_eff, 1.0)
        info_inv = solve_with_fallback(final_a, np.zeros(p)).xtx_inv

        meat = n_clusters = None
        if vcov_type in MEAT_KIND:
            keys = list(cluster_vars) if vcov_type != "hc1" else []
            sc = profiled_pass(beta, raw_gtab, extra_keys=keys, center=gtab_center)
            _FEPOIS_PASS_STATS["meat_passes"] += 1
            meat, n_clusters = sandwich_meat(
                sc, [_scores_block(p)], MEAT_KIND[vcov_type], keys,
                lag=hac_lag, conley=conley_opts,
            ).one()

        if vcov_type == "iid":
            V = info_inv
        else:
            V = compute_vcov(
                vcov_type, info_inv, deviance, df_res, n_total, k_eff,
                meat, n_clusters,
            )

        ct = gen_coeftable(beta, V, df_res, names, use_z=True)
        # α̂_g = ln(λ̂_g); Spark's log yields NULL at λ̂=0, which doubles as
        # the marker for perfectly-predicted (all-zero-outcome) groups.
        # With a centered group table λ′ = λ_raw·e^{β·c}, so the raw-scale
        # fixef is ln λ′ − β·c (an exact literal correction — finite even
        # where raw exp(x'β) overflows)
        bc = (
            float(np.dot(beta, gtab_center))
            if gtab_center is not None
            else 0.0
        )
        fixef_df = raw_gtab.select(
            F.col(fe),
            (
                F.log(F.col("__Yg") / F.col("__Wg")) - F.lit(bc)
            ).alias("fixef"),
        )
        # release the cached group table — fixef_df keeps only the logical
        # plan and recomputes (one groupBy) if evaluated later
        gtab.unpersist()
        gtab = None
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
            null_deviance=float("nan"),  # FE-only null needs its own fit
            dispersion=1.0,
            pearson_chi2=float("nan"),
            n_iter=n_iter,
            converged=converged,
            collin_vars=collin_dropped,
            n_clusters=n_clusters,
            design_info=design,
            parsed=parsed,
            query_string=None,
            offset=offset,
            weights_col=weights,
            fe=list(parsed.fe),
            n_fe_levels=int(g_levels) if g_levels is not None else None,
            _betahat=beta,
            _fe_table=fixef_df,
        )
    finally:
        if gtab is not None:  # error path: release the cached group table
            gtab.unpersist()


# --------------------------------------------------------------------------
# k-FE Poisson via the occupied-cell formulation (compress-strategy PPML)
# --------------------------------------------------------------------------


def _kfe_solve_cells(cells, fes, p, verbose=False):
    """Driver-side inner problem on the occupied-cell table.

    ``cells``: pandas frame with one row per occupied FE cell carrying
    C = Σ_cell ωm, Y = Σ_cell ωy, X_j = Σ_cell ωm·xⱼ at the current β
    (m = e^{o+x'β} — per-row, so these are true sums, not counts).

    1. λ alternation (the FE profile): the update for FE k only needs
       per-level sums of C·φ/λ_k — vectorized bincounts; iterate
       Gauss-Seidel to machine stationarity (cost: microseconds per sweep,
       the data never moves).
    2. Weighted-mean corrections (the within transform): find per-level
       vectors c_k[g, j] with Σ_g ωμ·(xⱼ − Σ_k c_k) = 0 for every level of
       every FE — alternating projections on the cell sums (weights
       W = C·φ = Σ_cell ωμ; the ωμ-weighted x sums are φ·X_j: within a
       cell m is the only row-level weight, so φ factors out).

    Returns (lnphi_cell array, a_cell (n_cells × p) corrections,
    lnl per-FE level arrays, level codes per FE). Raises on cross-FE
    separation (a level with Σωy > 0 forced to zero mean by other FEs'
    dead groups).
    """
    n_cells = len(cells)
    C = cells["__C"].to_numpy(dtype=float)
    Y = cells["__Y"].to_numpy(dtype=float)
    X = np.column_stack(
        [cells[f"__X{j}"].to_numpy(dtype=float) for j in range(p)]
    ) if p else np.zeros((n_cells, 0))

    idx = {}
    lvls = {}
    Yk = {}
    for f in fes:
        codes, uniques = pd.factorize(cells[f], use_na_sentinel=False)
        idx[f] = codes
        lvls[f] = uniques
        Yk[f] = np.bincount(codes, weights=Y, minlength=len(uniques))

    lnl = {f: np.zeros(len(lvls[f])) for f in fes}
    # dead levels (Σωy = 0): λ = 0 from the first update; keep −inf
    with np.errstate(divide="ignore"):
        lnY = {f: np.log(Yk[f]) for f in fes}  # −inf at 0

    def _lnphi():
        # recomputed as a fresh SUM of per-FE terms — never by subtracting
        # one FE's contribution from a running total, which turns
        # -inf − (-inf) into NaN the moment any level is dead
        s = np.zeros(n_cells)
        for f2 in fes:
            s = s + lnl[f2][idx[f2]]
        return s

    for sweep in range(500):
        worst = 0.0
        for f in fes:
            # contribution of all OTHER FEs (−inf where another FE is
            # dead ⇒ exp = 0, the cell correctly contributes nothing)
            other = np.zeros(n_cells)
            for f2 in fes:
                if f2 != f:
                    other = other + lnl[f2][idx[f2]]
            with np.errstate(over="ignore"):
                denom = np.bincount(
                    idx[f], weights=C * np.exp(other), minlength=len(lvls[f])
                )
            sep = (Yk[f] > 0) & (denom <= 0)
            if sep.any():
                raise ValueError(
                    "dbglm fe_poisson: separated observations — "
                    f"{int(sep.sum())} level(s) of {f} have positive "
                    "outcomes but are forced to zero mean by another FE's "
                    "all-zero groups. Drop the separated rows "
                    "(ppmlhdfe-style) and refit."
                )
            with np.errstate(divide="ignore", invalid="ignore"):
                new = lnY[f] - np.log(denom)
            new[Yk[f] <= 0] = -np.inf
            live = np.isfinite(new) & np.isfinite(lnl[f])
            if live.any():
                worst = max(worst, float(np.max(np.abs(new[live] - lnl[f][live]))))
            elif np.isfinite(new).any() != np.isfinite(lnl[f]).any():
                worst = max(worst, 1.0)  # liveness flipped: not stationary
            lnl[f] = new
        if worst <= 1e-13:
            break
    else:
        warnings.warn(
            "[dbglm] fe_poisson k-FE: the λ alternation hit its sweep cap "
            f"(last change {worst:.3g}) — the FE profile is not fully "
            "stationary; check the FE graph's connectivity / "
            "near-separation. Coefficients may be slightly biased."
        )
    if verbose:
        _log.info(f"[dbglm kfe] lambda alternation: {sweep + 1} sweeps")
    lnphi = _lnphi()

    # corrections: weights W = C·φ (dead cells: 0), x-sums φ·X_j
    with np.errstate(over="ignore"):
        phi = np.exp(lnphi)
    W = C * phi
    XW = X * phi[:, None]
    a = np.zeros((n_cells, p))
    Dk = {
        f: np.bincount(idx[f], weights=W, minlength=len(lvls[f])) for f in fes
    }
    for sweep in range(1000):
        worst = 0.0
        for f in fes:
            resid = XW - W[:, None] * a  # Σ_cell ωμ·x̃ per cell, per j
            num = np.zeros((len(lvls[f]), p))
            for j in range(p):
                num[:, j] = np.bincount(
                    idx[f], weights=resid[:, j], minlength=len(lvls[f])
                )
            with np.errstate(divide="ignore", invalid="ignore"):
                step = np.where(Dk[f][:, None] > 0, num / Dk[f][:, None], 0.0)
            a += step[idx[f], :]
            if step.size:
                worst = max(worst, float(np.max(np.abs(step))))
        if worst <= 1e-12:
            break
    else:
        warnings.warn(
            "[dbglm] fe_poisson k-FE: the within-transform projections hit "
            f"their sweep cap (last change {worst:.3g}) — standard errors "
            "may be slightly off; check the FE graph's connectivity."
        )
    if verbose:
        _log.info(f"[dbglm kfe] AP corrections: {sweep + 1} sweeps")
    return lnphi, a, lnl, lvls


def _kfe_solve_cells_spark(
    cdf: DataFrame,
    fes: list[str],
    p: int,
    verbose: bool = False,
    warm: tuple[dict, dict] | None = None,
    warm_has_a: bool = False,
):
    """Cell-RESIDENT twin of :func:`_kfe_solve_cells` for occupied-cell
    tables past the driver cap.

    The driver cap that matters is the CELL table (5M × (p+2) doubles by
    default); the per-LEVEL state is far smaller (Σ_f G_f doubles — a
    500M-cell buyer×seller panel has ~10M levels ≈ 80 MB). This tier
    therefore keeps the cells in Spark — checkpointed exactly twice, so
    every pass has a constant, shallow plan — and runs the SAME numpy
    alternation fixed points as the driver solver on per-level arrays,
    with each SWEEP realized as ONE Spark job: attach every FE's per-level
    values by level id (plan literals, or a broadcast table past
    ``plans.levels.INLINE_VALUES`` values), aggregate ALL k per-FE level tables from
    a single GROUPING SETS pass over the cells, collect the level-sized
    sums out. Simultaneity makes the updates damped-Jacobi (1/k) rather
    than Gauss-Seidel — same fixed point, monotone ascent, Aitken-
    accelerated tail (see the sweep-loop comments). Nothing
    cell-proportional ever reaches the driver.

    Level ids are assigned once per call by a DETERMINISTIC sort of each
    FE's level values (nulls last), attached to the cells by null-safe
    level lookups — so warm-start arrays from the previous Newton
    iteration (cell occupancy is β-independent) align positionally, and
    null FE levels behave exactly as the driver tier's
    ``factorize(use_na_sentinel=False)``.

    Identical algebra and edge handling to :func:`_kfe_solve_cells`:
    dead levels (Σωy = 0) get lnλ = −inf and drop out of the weighted
    system (the level values clamp −inf to −1e308; Spark's exp of that is
    exactly 0.0); separation raises with the same diagnosis; convergence
    compares mutually-finite levels and treats a liveness flip as
    non-stationary.

    Returns ``(helper_df, fixef_df, level_counts, state)``: the
    cell-keyed (FE tuple, __lnphi, __a0..p-1) helper ready to join back
    to the rows, the long-form (fe_var, level, fixef) table, per-FE
    level counts, and the (lnλ, corrections) arrays for warm-starting
    the next call (``warm_has_a`` reuses the corrections only while the
    regressor tuple is unchanged).
    """
    spark = cdf.sparkSession
    warm_l, warm_c = warm if warm is not None else (None, None)

    # -- per-FE level catalogs: deterministic ids + static outcome sums -----
    lvl_pdf: dict = {}
    Yk: dict = {}
    lid_col = {f: f"__lid_{f}" for f in fes}
    w = cdf
    for f in fes:
        t = (
            cdf.groupBy(f).agg(F.sum("__Y").alias("__yk")).toPandas()
            .sort_values(f, na_position="last", kind="mergesort")
            .reset_index(drop=True)
        )
        lvl_pdf[f] = t
        Yk[f] = t["__yk"].to_numpy(dtype=float)
        # null-safe so a NULL level keys its own group, exactly
        # factorize(use_na_sentinel=False)
        w = with_levels(
            w, f, t[f].tolist(),
            {lid_col[f]: np.arange(len(t), dtype=np.int64)}, null_safe=True,
        )
    base = w.select(
        *fes, *[lid_col[f] for f in fes], "__C", "__Y",
        *[f"__X{j}" for j in range(p)],
    ).localCheckpoint()

    def _with_levels(df, f, cols):
        """``df`` with FE ``f``'s per-level arrays attached as columns
        (``cols``: name -> finite values indexed by level id). As plan
        literals a sweep costs one Spark job; a level table would add a
        broadcast job per FE per sweep."""
        return with_levels(df, lid_col[f], range(len(Yk[f])), cols)

    def _lnl_cols(f):
        # Spark exp(-1e308) == 0.0 exactly: dead levels (lnλ = −inf) vanish
        return {f"__lnl_{f}": np.where(np.isfinite(lnl[f]), lnl[f], -1.0e308)}

    def _aligned(t, f, col, fill=0.0):
        arr = np.full(len(Yk[f]), fill)
        arr[t[lid_col[f]].to_numpy(dtype=np.int64)] = t[col].to_numpy(
            dtype=float
        )
        return arr

    # -- λ alternation: numpy state, one Spark job per update ---------------
    lnl = {}
    for f in fes:
        if warm_l is not None and f in warm_l and len(warm_l[f]) == len(Yk[f]):
            lnl[f] = warm_l[f].copy()
        else:
            lnl[f] = np.zeros(len(Yk[f]))
    with np.errstate(divide="ignore"):
        lnY = {f: np.log(Yk[f]) for f in fes}  # −inf at 0

    # One GROUPING SETS pass per sweep computes EVERY FE's per-level
    # denominator table at the current profile (the frames.py one-scan-means
    # trick): separate per-FE groupBys would scan the checkpointed cells k
    # times per sweep. The price of simultaneity: updates become
    # damped-Jacobi instead of Gauss-Seidel — undamped parallel updates
    # oscillate on directions shared between FE spans (every FE absorbs the
    # full grand-mean shift at once ⇒ k× overshoot), while the 1/k-damped
    # step is a convex combination of per-coordinate maximizers of the
    # concave profile likelihood, hence a monotone ascent step. The damping
    # ADAPTS (grow 1.3× after 4 monotone-decreasing sweeps up to 0.95,
    # halve back to the 1/k floor on any increase) and the Aitken jump
    # below erases most of the rate penalty on slow geometric tails —
    # measured on a strongly-dependent 2-FE fixture this lands near the
    # Gauss-Seidel TOTAL pass count while paying k× fewer cell scans.
    lids = [lid_col[f] for f in fes]
    damp_floor = 1.0 / len(fes)
    damp = damp_floor
    mono = 0
    sweep_cap = 500 * len(fes)  # same total-pass budget as k-passes-per-sweep
    worst = math.inf
    last_worst = None
    last_accel = -10
    prev_r = None  # previous sweep's contraction ratio (Aitken stability)
    _KFE_PASS_STATS["lambda_passes"] = 0
    for sweep in range(sweep_cap):
        joined = base
        for f2 in fes:
            joined = _with_levels(joined, f2, _lnl_cols(f2))
        aggs = []
        for f in fes:
            other = F.lit(0.0)
            for f2 in fes:
                if f2 != f:
                    other = other + F.col(f"__lnl_{f2}")
            aggs.append(
                F.sum(F.col("__C") * F.exp(other)).alias(f"__den_{f}")
            )
        gsp = (
            joined.groupingSets([[l] for l in lids], *lids)
            .agg(*aggs)
            .toPandas()
        )
        _KFE_PASS_STATS["lambda_passes"] += 1
        worst = 0.0
        steps = {}
        news = {}
        for f in fes:
            t = gsp[gsp[lid_col[f]].notna()]
            denom = _aligned(t, f, f"__den_{f}")
            sep = (Yk[f] > 0) & (denom <= 0)
            if sep.any():
                raise ValueError(
                    "dbglm fe_poisson: separated observations — "
                    f"{int(sep.sum())} level(s) of {f} have positive "
                    "outcomes but are forced to zero mean by another FE's "
                    "all-zero groups. Drop the separated rows "
                    "(ppmlhdfe-style) and refit."
                )
            with np.errstate(divide="ignore", invalid="ignore"):
                new = lnY[f] - np.log(denom)
            new[Yk[f] <= 0] = -np.inf
            news[f] = new
            live = np.isfinite(new) & np.isfinite(lnl[f])
            if live.any():
                worst = max(
                    worst, float(np.max(np.abs(new[live] - lnl[f][live])))
                )
            if (np.isfinite(new) != np.isfinite(lnl[f])).any():
                worst = max(worst, 1.0)  # liveness flipped: not stationary
        for f in fes:
            new = news[f]
            live = np.isfinite(new) & np.isfinite(lnl[f])
            with np.errstate(invalid="ignore"):  # −inf − −inf on dead lvls
                steps[f] = np.where(live, damp * (new - lnl[f]), 0.0)
            lnl[f] = np.where(live, lnl[f] + steps[f], new)
        # 1e-11 (vs the driver tier's free 1e-13): fixest/ppmlhdfe demean
        # at 1e-6..1e-8 by default; 1e-11 keeps ~1e-8 coefficient
        # agreement while saving tail sweeps that cost a cells pass each
        if worst <= 1e-11:
            break
        # adaptive damping + Aitken extrapolation on the geometric tail:
        # each sweep of a linear fixed-point iteration contracts the error
        # by the dominant ratio r — when r is measured stable, jumping
        # x += r/(1−r)·step lands near the fixed point, and the plain
        # sweeps that follow wash out the non-dominant modes. Sweeps here
        # cost a cells pass each, so this cuts the tail by ~3-5x; the
        # driver tier doesn't bother (its sweeps are microseconds).
        if last_worst is not None:
            if worst < last_worst:
                mono += 1
                if mono >= 4 and damp < 0.95:
                    damp = min(0.95, damp * 1.3)
                    mono = 0
            else:
                damp = max(damp_floor, damp * 0.5)
                mono = 0
            r = worst / last_worst if 0.0 < worst < last_worst else None
            # jump only on a ratio measured STABLE across two consecutive
            # sweeps (within 10%) — a single noisy r near 1 would boost up
            # to ~199x a step and badly overshoot; and cap the boost at 50
            # so even an agreeing-but-wrong tail ratio stays recoverable
            if (
                r is not None
                and sweep - last_accel >= 3
                and 0.05 < r < 0.995
                and prev_r is not None
                and abs(r - prev_r) <= 0.1 * r
            ):
                boost = min(r / (1.0 - r), 50.0)
                for f in fes:
                    lnl[f] = np.where(
                        np.isfinite(lnl[f]),
                        lnl[f] + boost * steps[f],
                        lnl[f],
                    )
                last_accel = sweep
                prev_r = None  # post-jump ratios are distorted; re-measure
            else:
                prev_r = r
        last_worst = worst
    else:
        warnings.warn(
            "[dbglm] fe_poisson k-FE: the λ alternation hit its sweep cap "
            f"(last change {worst:.3g}) — the FE profile is not fully "
            "stationary; check the FE graph's connectivity / "
            "near-separation. Coefficients may be slightly biased."
        )
    _KFE_PASS_STATS["lambda_sweeps"] = sweep + 1
    if verbose:
        _log.info(f"[dbglm kfe/spark] lambda alternation: {sweep + 1} sweeps")

    # cells with the converged profile attached — the SECOND and last
    # checkpoint; every corrections pass and the final helper read it
    w2 = base
    lnphi = F.lit(0.0)
    for f in fes:
        w2 = _with_levels(w2, f, _lnl_cols(f))
        lnphi = lnphi + F.col(f"__lnl_{f}")
    w2 = w2.withColumn("__lnphi", lnphi).withColumn(
        "__W", F.col("__C") * F.exp(F.col("__lnphi"))
    )
    for j in range(p):
        w2 = w2.withColumn(
            f"__xw{j}", F.col(f"__X{j}") * F.exp(F.col("__lnphi"))
        )
    w2 = w2.select(
        *fes, *[lid_col[f] for f in fes], "__lnphi", "__W",
        *[f"__xw{j}" for j in range(p)],
    ).localCheckpoint()

    # -- weighted within-transform corrections ------------------------------
    corr: dict = {}
    if p:
        # per-level denominators, all FEs in one grouping-sets pass
        dk = {}
        gs = (
            w2.groupingSets(
                [[lid_col[f]] for f in fes], *[lid_col[f] for f in fes]
            )
            .agg(F.sum("__W").alias("__dk"))
            .toPandas()
        )
        for f in fes:
            sub = gs[gs[lid_col[f]].notna()]
            dk[f] = _aligned(sub, f, "__dk")
        for f in fes:
            if (
                warm_has_a
                and warm_c is not None
                and f in warm_c
                and warm_c[f].shape == (len(Yk[f]), p)
            ):
                corr[f] = warm_c[f].copy()
            else:
                corr[f] = np.zeros((len(Yk[f]), p))

        def _c_joined():
            out = w2
            for f2 in fes:
                out = _with_levels(
                    out,
                    f2,
                    {
                        f"__c{j}_{f2}": np.where(
                            np.isfinite(corr[f2][:, j]), corr[f2][:, j], 0.0
                        )
                        for j in range(p)
                    },
                )
            return out

        # same one-pass-per-sweep shape as the λ loop: the per-level numerator
        # expressions are IDENTICAL across FEs (only the grouping key
        # differs), so one grouping-sets aggregation feeds every FE's
        # damped-Jacobi step (1/k damping for the same shared-direction
        # overshoot reason; worst tracks the UNdamped residual so the
        # stationarity tolerance keeps its meaning)
        worst = math.inf
        last_worst = None
        last_accel = -10
        prev_r = None
        damp = damp_floor  # reset: the λ loop may have grown it
        mono = 0
        _KFE_PASS_STATS["corr_passes"] = 0
        for sweep in range(sweep_cap):
            joined = _c_joined()
            aggs = []
            for j in range(p):
                a_j = F.lit(0.0)
                for f2 in fes:
                    a_j = a_j + F.col(f"__c{j}_{f2}")
                aggs.append(
                    F.sum(
                        F.col(f"__xw{j}") - F.col("__W") * a_j
                    ).alias(f"__num{j}")
                )
            gsp = (
                joined.groupingSets([[l] for l in lids], *lids)
                .agg(*aggs)
                .toPandas()
            )
            _KFE_PASS_STATS["corr_passes"] += 1
            worst = 0.0
            csteps = {}
            for f in fes:
                t = gsp[gsp[lid_col[f]].notna()]
                num = np.column_stack(
                    [_aligned(t, f, f"__num{j}") for j in range(p)]
                )
                with np.errstate(divide="ignore", invalid="ignore"):
                    full = np.where(
                        dk[f][:, None] > 0, num / dk[f][:, None], 0.0
                    )
                step = damp * full
                corr[f] = corr[f] + step
                csteps[f] = step
                if step.size:
                    worst = max(worst, float(np.max(np.abs(full))))
            if worst <= 1e-11:  # same reasoning as the λ tolerance
                break
            # same adaptive damping + Aitken jump as the λ loop (linear AP)
            if last_worst is not None:
                if worst < last_worst:
                    mono += 1
                    if mono >= 4 and damp < 0.95:
                        damp = min(0.95, damp * 1.3)
                        mono = 0
                else:
                    damp = max(damp_floor, damp * 0.5)
                    mono = 0
                r = (
                    worst / last_worst if 0.0 < worst < last_worst else None
                )
                # same stability gate + boost cap as the λ loop
                if (
                    r is not None
                    and sweep - last_accel >= 3
                    and 0.05 < r < 0.995
                    and prev_r is not None
                    and abs(r - prev_r) <= 0.1 * r
                ):
                    boost = min(r / (1.0 - r), 50.0)
                    for f in fes:
                        corr[f] = corr[f] + boost * csteps[f]
                    last_accel = sweep
                    prev_r = None
                else:
                    prev_r = r
            last_worst = worst
        else:
            warnings.warn(
                "[dbglm] fe_poisson k-FE: the within-transform "
                f"projections hit their sweep cap (last change "
                f"{worst:.3g}) — standard errors may be slightly off; "
                "check the FE graph's connectivity."
            )
        _KFE_PASS_STATS["corr_sweeps"] = sweep + 1
        if verbose:
            _log.info(f"[dbglm kfe/spark] AP corrections: {sweep + 1} sweeps")

    helper = w2
    if p:
        helper = _c_joined()
        a_cols = []
        for j in range(p):
            a_j = F.lit(0.0)
            for f2 in fes:
                a_j = a_j + F.col(f"__c{j}_{f2}")
            a_cols.append(a_j.alias(f"__a{j}"))
        helper = helper.select(*fes, "__lnphi", *a_cols)
    else:
        helper = w2.select(*fes, "__lnphi")

    parts = []
    level_counts = {}
    for f in fes:
        level_counts[f] = len(Yk[f])
        fx = pd.DataFrame(
            {
                "fe_var": f,
                "level": lvl_pdf[f][f].astype(str),
                "fixef": [
                    float(v) if math.isfinite(v) else None for v in lnl[f]
                ],
            }
        )
        parts.append(fx)
    fixef_df = spark.createDataFrame(
        pd.concat(parts, ignore_index=True)[["fe_var", "level", "fixef"]]
    )
    state = (dict(lnl), dict(corr))
    return helper, fixef_df, level_counts, state


def _fe_poisson_kfe(
    frame: Frame,
    parsed: ParsedFormula,
    design: DesignInfo,
    fam: _Family,
    vcov_type: str,
    cluster_vars,
    offset: str | None,
    weights: str | None,
    max_iter: int,
    tol: float,
    verbose: bool,
    cells_nmax: int = 5_000_000,
    hac_lag: int | None = None,
) -> GlmModel:
    """Poisson regression with k ≥ 2 absorbed fixed effects — the
    ppmlhdfe/gravity estimator (exporter × importer × year FEs) in the
    COMPRESS-strategy shape.

    Everything the concentrated Newton step needs from the data reduces to
    the OCCUPIED FE-cell table at the current β: per cell (g₁…g_k),
    C = Σωm, Y = Σωy, X_j = Σωm·xⱼ with m = e^{o+x'β}. The FE profile
    (alternating closed-form λ updates) and the weighted within-transform
    corrections both run driver-side in numpy on that table — the inner
    iterations cost microseconds and touch no data. Each outer Newton
    iteration is therefore exactly TWO distributed passes:

    1. the cell aggregation (groupBy over the FE tuple; the shuffle
       carries one (p+2)-vector per occupied cell, map-side combined),
    2. the system aggregation: one broadcast join of the cell-keyed
       (lnφ, corrections) helper table back to the rows, then the
       single-row profiled Newton system A = X̃'WX̃, s = X̃'ω(y−μ̂), ll.

    Two inner-solver tiers, chosen automatically: below ``cells_nmax``
    (default 5M cells) the cell table collects to the driver and the
    alternations run in vectorized numpy (microseconds per sweep); past
    the cap — or when Spark's maxResultSize aborts the transfer — the SAME
    algebra runs cell-resident (:func:`_kfe_solve_cells_spark`): per-level
    λ/correction state carried as cell columns, refreshed by level-keyed
    joins, one groupBy + join per (FE, sweep), localCheckpoint per sweep.
    The switch is sticky for the fit and emits a warning naming the cost
    (sweeps × k extra cell-table passes per Newton iteration). Driver
    state in that tier: per-sweep convergence scalars and the p×p system —
    nothing cell- or level-proportional.

    Separation (Σωy > 0 level forced to zero mean by another FE's dead
    groups) raises with diagnosis instead of silently diverging; all-zero
    groups get λ̂ = 0 and drop out exactly as in the 1-FE path.
    """
    fes = list(parsed.fe)
    x_names = list(frame.x_cols)
    names = [standardize_coef_names(n) for n in x_names]
    p = len(x_names)
    df = frame.df
    y = _d(Var(frame.y_col))
    om: Expr | None = _d(Var(weights)) if weights is not None else None
    wy = om * y if om is not None else y
    spark = df.sparkSession

    from pyspark.sql import types as T

    ok_fe_types = (
        T.StringType, T.IntegerType, T.LongType, T.ShortType,
        T.ByteType, T.BooleanType,
    )
    for f in fes:
        dt = df.schema[f].dataType
        if not isinstance(dt, ok_fe_types):
            # the long-form fixef/predict path renders levels as strings;
            # float/date/timestamp Python reprs diverge from Spark's
            # string cast, which would silently break the predict join
            raise ValueError(
                f"dbglm fe_poisson: FE column {f} has type "
                f"{dt.simpleString()} — absorbed FEs must be "
                "string/integer/boolean. Cast the column (e.g. "
                "date_format(...) or CAST AS STRING) before fitting."
            )

    use_spark_cells = False  # sticky: once over-cap, stay cell-resident

    def cell_pass(beta, x_list):
        """Occupied-cell table at β: pandas below the driver cap, else a
        PERSISTED Spark DataFrame for the cell-resident solver."""
        nonlocal use_spark_cells
        eta_x = _eta_expr(beta, x_list, intercept=False)
        lnm = _d(Var(offset)) + eta_x if offset is not None else eta_x
        m = Func("exp", (lnm,))
        wm = om * m if om is not None else m
        aggs = [
            F.sum(to_spark(_d(wm))).alias("__C"),
            F.sum(to_spark(_d(wy))).alias("__Y"),
        ]
        for j, xn in enumerate(x_list):
            aggs.append(F.sum(to_spark(_d(wm) * _d(Var(xn)))).alias(f"__X{j}"))
        cdf = df.groupBy(*fes).agg(*aggs)
        if not use_spark_cells:
            try:
                pdf_cells = cdf.limit(cells_nmax + 1).toPandas()
                if len(pdf_cells) <= cells_nmax:
                    return pdf_cells
            except Exception as exc:
                if not is_result_too_large(exc):
                    raise
            use_spark_cells = True
            warnings.warn(
                f"[dbglm] fe_poisson: more than {cells_nmax} occupied FE "
                "cells (or the transfer exceeded maxResultSize) — "
                "switching to the cell-resident inner solver for this "
                "fit. Each Newton iteration now costs sweeps × k extra "
                "cell-table passes instead of a driver-side solve; raise "
                "cells_nmax if the driver has memory to spare."
            )
        return cdf.persist()

    def system_pass(beta, x_list, helper, first=False, rows_only=False):
        """Join the cell-keyed helper (lnφ, a_j) and aggregate the system.
        A pandas helper (driver tier) broadcasts; a Spark helper (cell-
        resident tier, potentially bigger than the driver) joins
        co-partitioned on the FE tuple."""
        pl = len(x_list)
        if isinstance(helper, pd.DataFrame):
            hdf = F.broadcast(spark.createDataFrame(helper))
        else:
            hdf = helper
        joined = df.join(hdf, on=fes, how="inner")
        eta_x = _eta_expr(beta, x_list, intercept=False)
        lnm = _d(Var(offset)) + eta_x if offset is not None else eta_x
        omc = to_spark(_d(om)) if om is not None else F.lit(1.0)
        lnmu = F.col("__lnphi") + to_spark(_d(lnm))
        mu = F.exp(lnmu)
        w_col = omc * mu
        s_col = omc * (to_spark(y) - mu)
        ll_col = omc * (
            F.when(to_spark(y) > 0, to_spark(y) * lnmu).otherwise(F.lit(0.0))
            - mu
        )
        proj = [
            w_col.alias("__w"),
            s_col.alias("__s"),
            ll_col.alias("__ll"),
        ]
        if first:
            llsat = CaseGE(y, 0.0, y * Func("ln", (y,)) - y, strict=True)
            if om is not None:
                llsat = om * llsat
            proj.append(to_spark(_d(llsat)).alias("__llsat"))
        for j, xn in enumerate(x_list):
            proj.append(
                (to_spark(_d(Var(xn))) - F.col(f"__a{j}")).alias(f"__xt{j}")
            )
            if first:
                proj.append(to_spark(_d(Var(xn))).alias(f"__xr{j}"))
        keys = list(cluster_vars) if (rows_only and cluster_vars) else []
        out = joined.select(*keys, *proj)
        if rows_only:
            return out
        aggs = [
            F.count(F.lit(1)).alias("n_total"),
            F.sum("__ll").alias("ll"),
        ]
        if first:
            aggs.append(F.sum("__llsat").alias("ll_sat"))
            for i in range(pl):
                aggs.append(
                    F.sum(F.col("__w") * F.col(f"__xr{i}") * F.col(f"__xr{i}"))
                    .alias(f"d_{i}")
                )
        for i in range(pl):
            for j in range(i, pl):
                aggs.append(
                    F.sum(F.col("__w") * F.col(f"__xt{i}") * F.col(f"__xt{j}"))
                    .alias(f"a_{i}_{j}")
                )
        for i in range(pl):
            aggs.append(F.sum(F.col("__s") * F.col(f"__xt{i}")).alias(f"b_{i}"))
        return out.agg(*aggs).collect()[0].asDict()

    warm_state = None  # cell-resident tier: previous iteration's (lnλ, a)
    warm_x: tuple | None = None

    def solve_cells(cells, x_list):
        """Inner solve on either tier. Returns (helper, fix) where
        ``helper`` is pandas (driver tier) or a Spark DataFrame, and
        ``fix`` carries what the fixef table needs:
        ("driver", lnl, lvls) or ("spark", fixef_df, level_counts)."""
        nonlocal warm_state, warm_x
        if isinstance(cells, pd.DataFrame):
            lnphi, a_corr, lnl, lvls = _kfe_solve_cells(
                cells, fes, len(x_list), verbose=verbose
            )
            helper = cells[fes].copy()
            # -inf breaks some Arrow paths; Spark exp(-1e308) == 0.0 exactly
            helper["__lnphi"] = np.where(np.isfinite(lnphi), lnphi, -1.0e308)
            for j in range(len(x_list)):
                helper[f"__a{j}"] = a_corr[:, j]
            return helper, ("driver", lnl, lvls)
        helper, fixef_df, level_counts, state = _kfe_solve_cells_spark(
            cells, fes, len(x_list), verbose=verbose,
            warm=warm_state,
            # correction warm-start is valid only while the regressor
            # tuple is unchanged (a collinearity drop shifts the indices)
            warm_has_a=warm_state is not None and warm_x == tuple(x_list),
        )
        warm_state, warm_x = state, tuple(x_list)
        # the solver's final localCheckpoint holds the helper materialized;
        # the raw cell aggregation cache is no longer needed
        cells.unpersist()
        return helper, ("spark", fixef_df, level_counts)

    def evaluate(beta, x_list, first=False):
        """cells → inner solve (driver or cell-resident) → system row.
        Returns (row, helper, fix)."""
        cells = cell_pass(beta, x_list)
        if first and isinstance(cells, pd.DataFrame) and len(cells) == 0:
            raise ValueError("dbglm: zero rows after missing-value filtering")
        helper, fix = solve_cells(cells, x_list)
        row = system_pass(beta, x_list, helper, first=first)
        return row, helper, fix

    # ll_sat and n_total are β-independent free riders on the FIRST system
    # pass (no dedicated scan)
    ll_sat = 0.0
    n_total = 0

    beta = np.zeros(p)
    beta_prev = np.zeros(p)
    accepted_beta = np.zeros(p)
    ll_prev = -math.inf
    converged = False
    gave_up = False
    halvings = 0
    n_iter = 0
    final_a = None
    final_helper = None
    final_fix = None
    collin_dropped: list[str] = []
    helper_beta = None

    while n_iter < max_iter:
        rowi, helper, fix = evaluate(beta, x_names, first=n_iter == 0)
        evaluated_beta = beta
        n_iter += 1
        if n_iter == 1:
            n_total = int(rowi["n_total"])
            if n_total == 0:
                raise ValueError(
                    "dbglm: zero rows after missing-value filtering"
                )
            ll_sat = float(rowi["ll_sat"] or 0.0)
        a_i = np.zeros((p, p))
        b_i = np.zeros(p)
        for i in range(p):
            b_i[i] = float(rowi[f"b_{i}"] or 0.0)
            for j in range(i, p):
                v = float(rowi[f"a_{i}_{j}"] or 0.0)
                a_i[i, j] = a_i[j, i] = v
        ll_i = float(rowi["ll"]) if rowi["ll"] is not None else math.nan
        if not math.isfinite(ll_i) or ll_i < ll_prev - 1e-10 * (
            abs(ll_prev) + 1.0
        ):
            if not math.isfinite(ll_prev):
                raise ValueError(
                    "dbglm fe_poisson: non-finite likelihood at the "
                    "starting point β=0 — check the offset/outcome scale"
                )
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
        if n_iter == 1 and p:
            # two-layer collinearity, same as the 1-FE path: (1) ABSORBED
            # columns (profiled diag ≈ 0 vs the raw weighted second
            # moment); (2) mutual dependence among the survivors
            # (pivoted-Cholesky rank check)
            absorbed = [
                i for i in range(p)
                if float(rowi[f"a_{i}_{i}"] or 0.0)
                <= 1e-10 * max(float(rowi[f"d_{i}"] or 0.0), 1e-300)
            ]
            pre_survive = [i for i in range(p) if i not in absorbed]
            collin = detect_collinearity(
                a_i[np.ix_(pre_survive, pre_survive)],
                b_i[np.asarray(pre_survive, dtype=int)]
                if pre_survive else b_i[:0],
                [names[i] for i in pre_survive],
            )
            if absorbed or collin.collinear:
                survive = [pre_survive[i] for i in collin.keep_idx]
                collin_dropped = [names[i] for i in absorbed] + list(
                    collin.drop_names
                )
                x_names = [x_names[i] for i in survive]
                names = [names[i] for i in survive]
                p = len(names)
                sv = np.asarray(survive, dtype=int)
                a_i = a_i[np.ix_(survive, survive)]
                b_i = b_i[sv]
                beta, beta_prev = beta[sv], beta_prev[sv]
                accepted_beta = accepted_beta[sv]
                helper = None  # stale __a layout — rebuild when needed
        final_a = a_i
        final_helper, final_fix = helper, fix
        helper_beta = evaluated_beta if helper is not None else None
        accepted_beta = beta
        if verbose:
            _log.info(f"[dbglm kfe] iter {n_iter}: ll = {ll_i:.10g}")
        if math.isfinite(ll_prev) and abs(ll_i - ll_prev) <= tol * (
            abs(ll_i) + 0.1
        ):
            ll_prev = ll_i
            converged = True
            break
        if n_iter >= max_iter:
            ll_prev = ll_i
            break
        sol = solve_with_fallback(a_i, b_i)
        beta_prev, beta = beta, beta + sol.betahat
        ll_prev = ll_i
    if not converged:
        beta = accepted_beta
        if not gave_up:
            warnings.warn(
                f"[dbglm] fe_poisson k-FE did not converge in {max_iter} "
                "iterations; estimates are the last accepted step"
            )
    if final_a is None:
        raise ValueError(
            "dbglm fe_poisson: no likelihood-improving step was ever "
            "accepted; the model could not be fit on this data"
        )
    # the helper (λ/corrections) must correspond to the REPORTED β
    if (
        final_helper is None
        or helper_beta is None
        or len(helper_beta) != len(beta)
        or not np.array_equal(helper_beta, beta)
    ):
        final_helper, final_fix = solve_cells(cell_pass(beta, x_names), x_names)

    ll_final = ll_prev
    deviance = 2.0 * (ll_sat - ll_final)
    if final_fix[0] == "driver":
        _, final_lnl, final_lvls = final_fix
        g_total = sum(len(final_lvls[f]) for f in fes)
    else:
        _, spark_fixef_df, level_counts = final_fix
        g_total = sum(level_counts.values())
    k_eff = p + g_total - (len(fes) - 1)
    df_res = max(n_total - k_eff, 1.0)
    info_inv = solve_with_fallback(final_a, np.zeros(p)).xtx_inv

    meat = n_clusters = None
    if vcov_type in ("hc1", "cluster", "dk"):
        sc = system_pass(beta, x_names, final_helper, rows_only=True)
        meat, n_clusters = sandwich_meat(
            sc, [_scores_block(p)], MEAT_KIND[vcov_type], cluster_vars or (),
            lag=hac_lag,
        ).one()

    if vcov_type == "iid":
        V = info_inv
    else:
        V = compute_vcov(
            vcov_type, info_inv, deviance, df_res, float(n_total), k_eff,
            meat, n_clusters,
        )

    ct = gen_coeftable(beta, V, df_res, names, use_z=True)
    # fixef: long form (fe_var, level, fixef); NULL = dead (λ=0) group.
    # Levels are identified up to k−1 additive constants, the usual FE
    # normalization caveat.
    if final_fix[0] == "driver":
        fix_rows = []
        for f in fes:
            for lv, v in zip(final_lvls[f], final_lnl[f]):
                fix_rows.append(
                    (f, str(lv), float(v) if math.isfinite(v) else None)
                )
        fixef_df = spark.createDataFrame(
            pd.DataFrame(fix_rows, columns=["fe_var", "level", "fixef"])
        )
    else:
        fixef_df = spark_fixef_df
    return GlmModel(
        coeftable=ct,
        vcov_=V,
        coef_names=names,
        family=fam.label,
        link=fam.link,
        yvar=parsed.yvar,
        vcov_type=vcov_type,
        cluster_var="+".join(cluster_vars) if cluster_vars else None,
        nobs=n_total,
        df_residual=df_res,
        loglik=ll_final,
        deviance=deviance,
        null_deviance=float("nan"),
        dispersion=1.0,
        pearson_chi2=float("nan"),
        n_iter=n_iter,
        converged=converged,
        collin_vars=collin_dropped,
        n_clusters=n_clusters,
        design_info=design,
        parsed=parsed,
        query_string=None,
        offset=offset,
        weights_col=weights,
        fe=fes,
        n_fe_levels=int(g_total),
        _betahat=beta,
        _fe_table=fixef_df,
    )
