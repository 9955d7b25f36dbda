"""Second-pass sandwich "meat" aggregations for HC1 and cluster-robust SEs.

Mirrors the reference's residual-with-embedded-β second pass
(R/dbreg.R:1807-2000): the fitted coefficients are baked into a residual
column expression as double literals and a single aggregation computes either

- HC1:      meat[i,j] = Σ e²·xᵢ·xⱼ   (one row out), or
- cluster:  per-cluster scores s_g[j] = Σ_g e·xⱼ, then M = Σ_g s_g s_gᵀ.

The cluster outer-product sum is computed *distributively* as one more
aggregation over the score table (Σ s_i·s_j per pair), so the driver never
loops over clusters — an upgrade over the reference's R-side loop
(R/dbreg.R:1991-1995, SURVEY §7.4).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from .common import agg_select_sql, run_agg
from .exprs import Agg, Cast, Expr, Lit, Var, agg_to_spark, agg_to_sql, asum, to_sql
from .frames import Frame


def _resid_expr(frame: Frame, betahat: np.ndarray, x_names: list[str], intercept: bool) -> Expr:
    """(y − b₀ − Σ βⱼ·xⱼ) with β as exact double literals
    (reference: R/dbreg.R:1822-1836)."""
    b = np.asarray(betahat, dtype=float).reshape(-1)
    off = 1 if intercept else 0
    e: Expr = Var(frame.y_col)
    if intercept:
        e = e - Lit(float(b[0]))
    for j, xn in enumerate(x_names):
        e = e - (Lit(float(b[j + off])) * Var(xn))
    return e


def _d(e: Expr) -> Expr:
    return Cast(e, "double")


def hc1_meat_plan(
    frame: Frame,
    betahat: np.ndarray,
    x_names: list[str],
    intercept: bool,
    score_names: list[str] | None = None,
    score_intercept: bool | None = None,
    weight_col: str | None = None,
):
    """Lazy HC1 meat aggregation: (spec, agg_df, sql).

    The residual column is materialized ONCE in a projection before the
    aggregation — inlining it into all p(p+1)/2 product terms blows up the
    generated code quadratically (observed 6× wall-clock on a 20-dummy
    binscatter fit).

    ``score_names`` decouples the score columns from the residual columns:
    the residual is always y − x'β over ``x_names``, but the outer products
    run over ``score_names`` instead (IV/2SLS needs Σe²·zᵢ·zⱼ with the
    structural residual; OLS keeps the default score = regressor)."""
    from .exprs import agg_to_spark, to_spark, to_sql

    s_names = x_names if score_names is None else score_names
    s_icpt = intercept if score_intercept is None else score_intercept
    r = _resid_expr(frame, betahat, x_names, intercept)
    if weight_col is not None:
        # WLS score: s = w·u·x, so __e carries w·u — the squared form below
        # is then exactly the weighted HC1 meat Σ w²u²·xᵢxⱼ
        r = _d(Var(weight_col)) * r
    proj = frame.df.select(
        to_spark(Cast(r, "double")).alias("__e"),
        *[F.col(n) for n in dict.fromkeys(s_names)],
    )
    cols: list[Expr] = ([Lit(1.0)] if s_icpt else []) + [Var(n) for n in s_names]
    e = Var("__e")
    spec: list[tuple[str, Agg]] = []
    p = len(cols)
    for i in range(p):
        for j in range(i, p):
            spec.append((f"meat_{i}_{j}", asum(e * e * _d(cols[i]) * _d(cols[j]))))
    agg_df = proj.agg(*[agg_to_spark(a).alias(n) for n, a in spec])
    sql = None
    if frame.sql_cte:
        xs = "".join(f", {n}" for n in dict.fromkeys(s_names))
        sql = (
            f"{frame.sql_cte},\nresid AS (\n  SELECT CAST({to_sql(r)} AS DOUBLE) AS __e{xs}"
            f"\n  FROM {frame.cte_name}\n),\nmeat AS (\n  SELECT {agg_select_sql(spec)}"
            f"\n  FROM resid\n)\nSELECT * FROM meat"
        )
    return spec, agg_df, sql


def hc1_meat(
    frame: Frame,
    betahat: np.ndarray,
    x_names: list[str],
    intercept: bool,
    score_names: list[str] | None = None,
    score_intercept: bool | None = None,
    weight_col: str | None = None,
) -> tuple[np.ndarray, str | None]:
    """Return the (p×p) HC1 meat matrix and its oracle SQL (if emittable).
    ``score_names`` switches the outer products to a different column set
    (see :func:`hc1_meat_plan`) — the returned matrix is then sized to it."""
    spec, agg_df, sql = hc1_meat_plan(
        frame, betahat, x_names, intercept, score_names, score_intercept,
        weight_col,
    )
    s_icpt = intercept if score_intercept is None else score_intercept
    p = (1 if s_icpt else 0) + len(
        x_names if score_names is None else score_names
    )
    row = agg_df.collect()[0].asDict()
    meat = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            meat[i, j] = meat[j, i] = float(row[f"meat_{i}_{j}"])
    return meat, sql


def cluster_meat(
    frame: Frame,
    betahat: np.ndarray,
    x_names: list[str],
    intercept: bool,
    cluster_col: str | list[str],
    score_names: list[str] | None = None,
    score_intercept: bool | None = None,
    weight_col: str | None = None,
) -> tuple[np.ndarray, int, str | None]:
    """Return (meat matrix, n_clusters, oracle SQL for the score table).

    Stage 1: groupBy(cluster cols).agg(score_j = Σ e·xⱼ) — shuffle is only
    the per-partition partial score rows. Multiple columns cluster on their
    interaction (the CGM intersection components).
    Stage 2: one more single-row agg of score products Σ s_i·s_j plus
    COUNT(*) for G. Nothing proportional to G ever reaches the driver.
    """
    scores, _sql = cluster_scores_plan(
        frame, betahat, x_names, intercept, cluster_col, score_names,
        score_intercept, weight_col,
    )
    s_icpt = intercept if score_intercept is None else score_intercept
    p = (1 if s_icpt else 0) + len(
        x_names if score_names is None else score_names
    )

    outer_spec: list[tuple[str, Agg]] = [("n_clusters", Agg("count_star", None, "long"))]
    for i in range(p):
        for j in range(i, p):
            outer_spec.append(
                (f"m_{i}_{j}", asum(Var(f"score_{i}") * Var(f"score_{j}")))
            )
    row = run_agg(scores, outer_spec)
    g = int(row["n_clusters"])
    meat = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            meat[i, j] = meat[j, i] = float(row[f"m_{i}_{j}"])

    return meat, g, _sql


def cluster_scores_plan(
    frame: Frame,
    betahat: np.ndarray,
    x_names: list[str],
    intercept: bool,
    cluster_col: str | list[str],
    score_names: list[str] | None = None,
    score_intercept: bool | None = None,
    weight_col: str | None = None,
):
    """Lazy per-cluster score aggregation: (scores_df, sql). The residual is
    materialized once (see hc1_meat_plan). ``score_names`` swaps the score
    columns away from the residual columns (IV: s_g = Σ_g e·z)."""
    from .exprs import to_spark, to_sql

    s_names = x_names if score_names is None else score_names
    s_icpt = intercept if score_intercept is None else score_intercept
    ccols = [cluster_col] if isinstance(cluster_col, str) else list(cluster_col)
    r = _resid_expr(frame, betahat, x_names, intercept)
    if weight_col is not None:
        r = _d(Var(weight_col)) * r  # per-row WLS score s = w·u·x
    proj = frame.df.select(
        *[F.col(c) for c in ccols],
        to_spark(Cast(r, "double")).alias("__e"),
        *[F.col(n) for n in dict.fromkeys(s_names)],
    )
    cols: list[Expr] = ([Lit(1.0)] if s_icpt else []) + [Var(n) for n in s_names]
    e = Var("__e")
    score_aggs = [
        agg_to_spark(asum(e * _d(c))).alias(f"score_{j}") for j, c in enumerate(cols)
    ]
    scores = proj.groupBy(*ccols).agg(*score_aggs)
    sql = None
    if frame.sql_cte:
        clist = ", ".join(ccols)
        xs = "".join(f", {n}" for n in dict.fromkeys(s_names))
        score_sql = ", ".join(
            f"{agg_to_sql(asum(e * _d(c)))} AS score_{j}" for j, c in enumerate(cols)
        )
        sql = (
            f"{frame.sql_cte},\nresid AS (\n  SELECT {clist}, "
            f"CAST({to_sql(r)} AS DOUBLE) AS __e{xs}\n  FROM {frame.cte_name}\n),\n"
            f"cluster_scores AS (\n  SELECT {clist}, {score_sql}"
            f"\n  FROM resid\n  GROUP BY {clist}\n)\n"
            "SELECT * FROM cluster_scores"
        )
    return scores, sql


def count_nested_fe_levels(frame_df, fe: list[str], cluster_col: str) -> int:
    """ssc="nested": count levels of FEs fully nested within the cluster
    variable (reference: R/dbreg.R:1724-1752)."""
    if not fe or cluster_col is None:
        return 0
    nested = 0
    for f in fe:
        spans = (
            frame_df.groupBy(f)
            .agg(F.countDistinct(cluster_col).alias("g"))
            .where(F.col("g") > 1)
            .limit(1)
            .count()
        )
        if spans == 0:
            nested += frame_df.select(f).distinct().count()
    return nested


def dk_meat(
    frame,
    betahat,
    x_names: list[str],
    intercept: bool,
    time_col: str,
    lag: int | None = None,
    score_names: list[str] | None = None,
    score_intercept: bool | None = None,
    weight_col: str | None = None,
) -> tuple[np.ndarray, int, int, str | None]:
    """Driscoll-Kraay HAC meat: per-PERIOD score sums from one grouped pass
    (the same plan as cluster scores with the time column as the key), then
    Newey-West Bartlett weighting across periods driver-side.

        S = Γ₀ + Σ_{l=1..L} (1 − l/(L+1)) (Γ_l + Γ_l'),
        Γ_l = Σ_t s_t s_{t−l}'

    with s_t the period-t score sum (u·x, or w·u·x under weights) and
    periods ordered by the time column's natural sort. ``lag=None`` uses
    the Newey-West plug-in L = floor(4·(T/100)^(2/9)). Lag 0 reproduces
    clustering by the time variable exactly. Returns (meat, T, lag_used,
    oracle SQL of the score table). Only the T×p score matrix reaches the
    driver — at any data scale, T is the number of time periods.
    """
    scores_df, sql = cluster_scores_plan(
        frame, betahat, x_names, intercept, time_col, score_names,
        score_intercept, weight_col,
    )
    cap = 100_000  # periods; a near-continuous timestamp is user error
    rows = scores_df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"Driscoll-Kraay time variable {time_col!r} has more than "
            f"{cap:,} distinct periods — pass a period column (e.g. a "
            "date truncated to day/month), not a raw timestamp"
        )
    rows.sort(key=lambda r: (r[time_col] is None, r[time_col]))
    s_icpt = intercept if score_intercept is None else score_intercept
    p = (1 if s_icpt else 0) + len(
        dict.fromkeys(x_names if score_names is None else score_names)
    )
    S = np.array(
        [[float(r[f"score_{j}"] or 0.0) for j in range(p)] for r in rows]
    )
    meat, T, lag = nw_combine(S, lag)
    return meat, T, lag, sql


def nw_combine(S: np.ndarray, lag: int | None = None):
    """Newey-West Bartlett combination of time-ordered per-period score
    sums (T × p): returns (meat, T, lag_used). ``lag=None`` uses the
    plug-in L = floor(4·(T/100)^(2/9)). Shared by :func:`dk_meat` and the
    split-sample per-level DK assembly."""
    S = np.asarray(S, dtype=float)
    T = S.shape[0]
    if lag is None:
        lag = int(np.floor(4.0 * (T / 100.0) ** (2.0 / 9.0))) if T > 1 else 0
    lag = min(int(lag), max(T - 1, 0))
    meat = S.T @ S
    for ell in range(1, lag + 1):
        w = 1.0 - ell / (lag + 1.0)
        G = S[ell:].T @ S[:-ell]
        meat = meat + w * (G + G.T)
    return meat, T, lag


def hck_meat(
    frame: Frame,
    betahat: np.ndarray,
    x_names: list[str],
    intercept: bool,
    xtx_inv: np.ndarray,
    kind: str = "hc2",
    weight_col: str | None = None,
    fe_col: str | None = None,
) -> np.ndarray:
    """HC2/HC3 leverage-corrected meat, fully distributed.

    The leverage h_i = w_i · x̃ᵢ'(X'WX)⁻¹x̃ᵢ is a COLUMN quadratic form
    with the literal inverse-Gram — no per-row driver work, one
    projection + one aggregation like HC1. meat = Σ (wᵢuᵢ)²/(1−hᵢ)^k ·
    xᵢxⱼ with k = 1 (HC2) or 2 (HC3).

    ``fe_col``: ONE absorbed fixed effect. The LSDV hat matrix decomposes
    orthogonally (in the W metric) as P_D + P_{M_D X}, so the full-design
    leverage is EXACTLY w_i/W_g(i) + h̃_i with h̃ from the demeaned
    columns — a tiny groupBy(fe) weight-sum table broadcast back. k ≥ 2
    absorbed FEs have no such closed decomposition (callers refuse)."""
    if kind not in ("hc2", "hc3"):
        raise ValueError("kind must be 'hc2' or 'hc3'")
    r = _resid_expr(frame, betahat, x_names, intercept)
    w = _d(Var(weight_col)) if weight_col is not None else None
    if w is not None:
        r = w * r  # WLS score factor w·u (matching hc1_meat)
    cols: list[Expr] = ([Lit(1.0)] if intercept else []) + [
        Var(n) for n in x_names
    ]
    Minv = np.asarray(xtx_inv, dtype=float)
    p = len(cols)
    assert Minv.shape == (p, p), "xtx_inv must match the kept layout"
    h: Expr = Lit(0.0)
    for a in range(p):
        for b in range(a, p):
            coef = float(Minv[a, b] * (1.0 if a == b else 2.0))
            if coef != 0.0:
                h = h + Lit(coef) * _d(cols[a]) * _d(cols[b])
    if w is not None:
        h = w * h

    df = frame.df
    if fe_col is not None:
        wsum = (
            F.sum(F.col(weight_col).cast("double"))
            if weight_col is not None
            else F.count(F.lit(1)).cast("double")
        )
        gtab = df.groupBy(fe_col).agg(wsum.alias("__Wg"))
        df = df.join(F.broadcast(gtab), on=fe_col)
        wg = (
            F.col(weight_col).cast("double")
            if weight_col is not None
            else F.lit(1.0)
        )
        h_fe = wg / F.col("__Wg")
    else:
        h_fe = F.lit(0.0)

    from .exprs import to_spark

    proj = df.select(
        to_spark(_d(r)).alias("__e"),
        (to_spark(_d(h)) + h_fe).alias("__h"),
        *[F.col(n) for n in dict.fromkeys(x_names)],
    )
    k = 1 if kind == "hc2" else 2
    # guard: numerically-degenerate leverage (h -> 1 for a row that is a
    # whole group / pins a coefficient) would blow the correction up;
    # cap like sandwich::vcovHC's behavior is to let it grow — we floor
    # the denominator at 1e-12 only against exact-1 fp noise
    denom = F.greatest(F.lit(1.0) - F.col("__h"), F.lit(1e-12))
    psi2 = (F.col("__e") * F.col("__e")) / denom**k

    def col_of(idx: int):
        if intercept and idx == 0:
            return F.lit(1.0)
        return F.col(x_names[idx - (1 if intercept else 0)]).cast("double")

    aggs = []
    for i in range(p):
        for j in range(i, p):
            aggs.append(
                F.sum(psi2 * col_of(i) * col_of(j)).alias(f"meat_{i}_{j}")
            )
    row = proj.agg(*aggs).collect()[0].asDict()
    meat = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            meat[i, j] = meat[j, i] = float(row[f"meat_{i}_{j}"])
    return meat
