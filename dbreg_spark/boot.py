"""Wild cluster bootstrap inference — boottest-style few-cluster
hypothesis tests (:func:`wild_cluster_bootstrap`).

With few clusters (G ≲ 40) the CR1 sandwich over-rejects badly; the wild
cluster bootstrap-t (Cameron, Gelbach & Miller 2008; Roodman et al. 2019's
``boottest``) is the standard fix. The whole procedure reduces to ONE
grouped pass over the data: per cluster g collect the Gram block
A_g = X_g'X_g (p(p+1)/2 doubles) and the moment vector b_g = X_g'y — the
global solve, the restricted (null-imposed) solve, every bootstrap
replication's coefficient AND its re-estimated CR1 variance are then exact
driver-side algebra on those G small blocks:

    restricted:  β̃ = β̂ − (X'X)⁻¹R'(R(X'X)⁻¹R')⁻¹(Rβ̂ − r)
    scores:      s̃_g = b_g − A_g β̃          (ũ-scores; û-scores for WCU)
    draw w ∈ {±1}^G (Rademacher; Webb 6-point for tiny G; Mammen):
        β*_w = β̃ + (X'X)⁻¹ Σ_g w_g s̃_g
        X_g'û*_g = w_g s̃_g − A_g (β*_w − β̃)
        t*_w = R(β*_w − β̃) / se_CR1(meat*_w)
    p = #{|t*| ≥ |t̂|} / B                   (symmetric, boottest WCR-31)

No per-replication data pass: B = 9,999 replications are a numpy einsum
over a (G × p) score matrix and (G × p × p) blocks. When 2^G ≤ B the
Rademacher draws are ENUMERATED (deterministic — exactly what boottest
does for tiny G); otherwise seeded sampling.

Beyond the reference (no bootstrap there); semantics follow the WCR/WCU
"x1" variants of Roodman et al. (2019, "Fast and wild"). Fixed effects
(1-2) are absorbed by demeaning, which is EXACT for the bootstrap when
every FE level is nested inside one cluster (the wild weight is then
constant within the level, so re-demeaning the bootstrap outcome commutes
with the draw) — probed per FE; an FE that spans clusters (or the second
FE of a weighted model, where 2-FE demeaning is itself inexact)
automatically rides as EXPLICIT factor dummies instead — exact for
arbitrary regressors — while its level count is at most
``MAX_DUMMY_LEVELS`` (the Gram stays p x p driver-side); only past that
cap does the refusal fire. Absorbed dof counts toward the CR1 small-
sample correction (k = p + G₁ [+ G₂ − 1]); dummied levels count inside p.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .design import build_design, standardize_coef_names
from .formula import parse_formula, parse_weights
from .model import _parse_hypothesis
from .plans.common import resolve_source
from .plans.frames import build_base_frame
from .solve import detect_collinearity, solve_with_fallback

MAX_CLUSTERS = 100_000  # per-cluster blocks collected to the driver
MAX_DUMMY_LEVELS = 200  # non-nested-FE dummy fallback cap (p stays tiny)


def cluster_gram_frame(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    cluster: str,
    weight_col: str | None = None,
    intercept: bool = True,
) -> DataFrame:
    """The bootstrap's single distributed pass: per-cluster Gram blocks
    A_g = X_g'X_g (upper triangle, intercept included unless demeaned) and
    moment vectors b_g = X_g'y, plus n_g and Σy² — map-side combined, the
    shuffle carries one O(p²) row per cluster."""
    cols = ([F.lit(1.0)] if intercept else []) + [
        F.col(c).cast("double") for c in x_cols
    ]
    p_all = len(cols)
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    y = F.col(y_col).cast("double")
    aggs = [F.sum(w).alias("n_g"), F.sum(w * y * y).alias("yy_g")]
    for i in range(p_all):
        for k2 in range(i, p_all):
            aggs.append(F.sum(w * cols[i] * cols[k2]).alias(f"a_{i}_{k2}"))
    for i in range(p_all):
        aggs.append(F.sum(w * cols[i] * y).alias(f"b_{i}"))
    return df.groupBy(cluster).agg(*aggs)


def cluster_gram_sql(
    from_clause: str,
    y_col: str,
    x_cols: list[str],
    cluster: str,
) -> str:
    """ANSI twin of :func:`cluster_gram_frame` (unweighted) for the
    correctness gate."""
    cols = ["1.0"] + [f"CAST({c} AS DOUBLE)" for c in x_cols]
    p_all = len(cols)
    terms = [
        "CAST(COUNT(*) AS DOUBLE) AS n_g",
        f"SUM(CAST({y_col} AS DOUBLE) * CAST({y_col} AS DOUBLE)) AS yy_g",
    ]
    for i in range(p_all):
        for k2 in range(i, p_all):
            terms.append(f"SUM({cols[i]} * {cols[k2]}) AS a_{i}_{k2}")
    for i in range(p_all):
        terms.append(f"SUM({cols[i]} * CAST({y_col} AS DOUBLE)) AS b_{i}")
    return (
        f"SELECT {cluster}, " + ",\n  ".join(terms) +
        f"\n{from_clause}\nGROUP BY {cluster}"
    )


def cr3_vcov(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    intercept: bool,
    cluster: str,
    weight_col: str | None,
    beta: np.ndarray,
) -> tuple[np.ndarray, int]:
    """MacKinnon-Nielsen-Webb cluster jackknife (CV3): leave-one-cluster-
    out refits, V = (G-1)/G * sum_g (b_{-g} - b)(b_{-g} - b)'.

    ONE grouped pass collects the per-cluster Gram blocks (the same
    :func:`cluster_gram_frame` the wild bootstrap uses); each leave-out
    estimate is then the driver-side solve (A - A_g)^{-1}(b - b_g) — no
    G extra data passes. Recommended over CR1 for few clusters
    (MacKinnon, Nielsen & Webb 2022); a cluster whose removal makes the
    design singular (it alone carries a regressor's variation) raises a
    clear error naming the cluster."""
    gf = cluster_gram_frame(
        df, y_col, x_cols, cluster, weight_col=weight_col,
        intercept=intercept,
    )
    rows = gf.limit(MAX_CLUSTERS + 1).collect()
    if len(rows) > MAX_CLUSTERS:
        raise ValueError(
            f"cr3 supports at most {MAX_CLUSTERS:,} clusters (each "
            "collects an O(p^2) Gram block); use '~cluster' CR1 instead"
        )
    G = len(rows)
    if G < 2:
        raise ValueError("cr3 needs >= 2 clusters")
    p = (1 if intercept else 0) + len(x_cols)
    A_g = np.zeros((G, p, p))
    b_g = np.zeros((G, p))
    keys = []
    for gi, r in enumerate(rows):
        keys.append(r[cluster])
        for i in range(p):
            b_g[gi, i] = float(r[f"b_{i}"] or 0.0)
            for k2 in range(i, p):
                v = float(r[f"a_{i}_{k2}"] or 0.0)
                A_g[gi, i, k2] = A_g[gi, k2, i] = v
    A = A_g.sum(axis=0)
    b = b_g.sum(axis=0)
    D = np.zeros((G, p))
    for gi in range(G):
        try:
            D[gi] = np.linalg.solve(A - A_g[gi], b - b_g[gi]) - beta
        except np.linalg.LinAlgError:
            raise ValueError(
                f"cr3: leaving out cluster {keys[gi]!r} makes the design "
                "singular (that cluster alone identifies a coefficient); "
                "CV3 is undefined here — use '~cluster' CR1 or the wild "
                "bootstrap"
            ) from None
    V = ((G - 1) / G) * (D.T @ D)
    return V, G


def _weight_matrix(kind: str, G: int, B: int, seed: int):
    """(B × G) bootstrap weight draws. Rademacher enumerates all 2^G sign
    vectors when that is ≤ B (deterministic, seed-free — the exact null
    distribution); otherwise seeded iid draws."""
    rng = np.random.default_rng(seed)
    if kind == "rademacher":
        if 2**G <= B:
            ks = np.arange(2**G, dtype=np.uint64)
            bits = (ks[:, None] >> np.arange(G, dtype=np.uint64)) & 1
            return bits.astype(float) * 2.0 - 1.0, True
        return rng.choice([-1.0, 1.0], size=(B, G)), False
    if kind == "webb":
        vals = np.array([-np.sqrt(1.5), -1.0, -np.sqrt(0.5),
                         np.sqrt(0.5), 1.0, np.sqrt(1.5)])
        return rng.choice(vals, size=(B, G)), False
    if kind == "mammen":
        phi = (1.0 + np.sqrt(5.0)) / 2.0
        p_neg = phi / np.sqrt(5.0)
        draws = rng.random((B, G))
        return np.where(draws < p_neg, 1.0 - phi, phi), False
    raise ValueError(
        f"unknown bootstrap weights {kind!r}; use 'rademacher', 'webb' or "
        "'mammen'"
    )


def wild_cluster_bootstrap(
    fml: str,
    data=None,
    *,
    cluster: str,
    param: str,
    B: int = 9_999,
    weights: str = "rademacher",
    impose_null: bool = True,
    seed: int = 12345,
    level: float = 0.95,
    spark: SparkSession | None = None,
    table: str | None = None,
    path: str | None = None,
    obs_weights: str | None = None,
) -> dict:
    """Wild cluster bootstrap-t test of a linear hypothesis.

    ``param`` is a coefficient name (tests = 0) or an equation string
    (``"x1 = 1"``, ``"x1 - x2 = 0"`` — the same syntax as
    :meth:`DbregModel.wald`). ``impose_null=True`` is the restricted (WCR)
    variant — boottest's default and the one with the good small-G size
    properties; ``False`` gives WCU. Returns a dict with the CR1 point
    t-statistic, the bootstrap p-value, and a percentile-t confidence
    interval ``estimate ± q_{1−α}(|t*|)·se``.

    One distributed pass total (see module docstring); everything after is
    numpy on G per-cluster blocks.
    """
    if B < 99:
        raise ValueError("B must be at least 99")
    parsed = parse_formula(fml)
    if parsed.yvar is None:
        raise ValueError("Formula needs an outcome variable.")
    weight_col = parse_weights(obs_weights)
    if parsed.fe and len(parsed.fe) > 2:
        raise NotImplementedError(
            "wild_cluster_bootstrap absorbs at most 2 fixed effects; "
            "include further FEs as explicit factor regressors"
        )
    if spark is None and isinstance(data, DataFrame):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)
    design = build_design(
        source.df, parsed, expand="all", fe_vars=parsed.fe or None
    )
    base = build_base_frame(
        source, parsed, design, drop_missings=True,
        extra_cols=[cluster], want_sql=False, weight_col=weight_col,
    )
    intercept = not parsed.fe
    df_fe = 0.0
    frame = base
    if parsed.fe:
        # The demeaned-space bootstrap algebra is EXACT only when every FE
        # level sits inside a single cluster (then the wild weight is
        # constant within each level, so re-demeaning the bootstrap outcome
        # commutes with the draw). An FE that fails that probe — or the
        # second FE of a weighted model, where 2-FE demeaning itself is
        # inexact — rides as EXPLICIT factor dummies instead (exact for
        # arbitrary regressors) while it has at most MAX_DUMMY_LEVELS
        # levels; the refusal now only fires past that cap.
        dummy_fes: list[str] = []
        absorb_fes: list[str] = []
        for f in parsed.fe:
            spans = (
                base.df.groupBy(f)
                .agg(F.countDistinct(cluster).alias("__spans"))
                .where(F.col("__spans") > 1)
                .limit(1)
                .count()
            )
            (dummy_fes if spans else absorb_fes).append(f)
        if weight_col is not None and len(absorb_fes) > 1:
            dummy_fes.append(absorb_fes.pop())
        for f in dummy_fes:
            lv_rows = (
                base.df.select(f).distinct()
                .limit(MAX_DUMMY_LEVELS + 1).collect()
            )
            if len(lv_rows) > MAX_DUMMY_LEVELS:
                raise NotImplementedError(
                    f"wild_cluster_bootstrap: FE {f!r} is not nested "
                    f"inside {cluster!r} clusters (or needs the weighted "
                    f"2-FE dummy fallback) and has more than "
                    f"{MAX_DUMMY_LEVELS} levels — too many to carry as "
                    "explicit dummies (the Gram is p x p driver-side); "
                    "coarsen the FE or use the analytic CR1 vcov"
                )
            levels = sorted(
                (r[f] for r in lv_rows), key=lambda v: (v is None, str(v))
            )
            for lv in levels:
                cname = f"{f}{lv}"
                base.df = base.df.withColumn(
                    cname, F.col(f).eqNullSafe(F.lit(lv)).cast("double")
                )
                base.x_cols = list(base.x_cols) + [cname]
        if absorb_fes:
            from .plans.frames import build_demeaned_frame

            counts = base.df.agg(
                *[
                    F.countDistinct(f).alias(f"g_{i}")
                    for i, f in enumerate(absorb_fes)
                ]
            ).collect()[0]
            g_fe = [int(counts[f"g_{i}"]) for i in range(len(absorb_fes))]
            df_fe = float(
                g_fe[0] + (g_fe[1] - 1 if len(absorb_fes) == 2 else 0)
            )
            frame = build_demeaned_frame(
                base, absorb_fes, weight_col=weight_col, carry=[cluster]
            )
        else:
            frame = base
    x_cols = list(frame.x_cols)
    names_all = (["(Intercept)"] if intercept else []) + [
        standardize_coef_names(n) for n in x_cols
    ]
    p_all = len(names_all)

    # ---- ONE grouped pass: per-cluster Gram blocks + moment vectors ------
    try:
        rows = (
            cluster_gram_frame(
                frame.df, frame.y_col, x_cols, cluster, weight_col,
                intercept=intercept,
            )
            .limit(MAX_CLUSTERS + 1)
            .collect()
        )
    finally:
        frame.cleanup()
    if len(rows) > MAX_CLUSTERS:
        raise ValueError(
            f"cluster variable {cluster!r} has more than {MAX_CLUSTERS:,} "
            "levels — the wild cluster bootstrap targets FEW clusters; "
            "use the analytic CR1 vcov instead"
        )
    G = len(rows)
    if G < 2:
        raise ValueError("need at least 2 clusters")
    A_g = np.zeros((G, p_all, p_all))
    b_g = np.zeros((G, p_all))
    n_total = 0.0
    for gi, r in enumerate(rows):
        for i in range(p_all):
            for k2 in range(i, p_all):
                v = float(r[f"a_{i}_{k2}"] or 0.0)
                A_g[gi, i, k2] = A_g[gi, k2, i] = v
            b_g[gi, i] = float(r[f"b_{i}"] or 0.0)
        n_total += float(r["n_g"] or 0.0)

    A = A_g.sum(axis=0)
    bvec = b_g.sum(axis=0)
    collin = detect_collinearity(A, bvec, names_all)
    keep = np.asarray(collin.keep_idx, dtype=int)
    names = list(collin.keep_names)
    A_g = A_g[:, keep[:, None], keep[None, :]]
    b_g = b_g[:, keep]
    A = A[np.ix_(keep, keep)]
    bvec = bvec[keep]
    sol = solve_with_fallback(A, bvec)
    beta = sol.betahat
    Ainv = sol.xtx_inv
    p = len(names)

    R, r_rhs = _parse_hypothesis(param, names)

    k_par = p + df_fe  # absorbed-FE dof counts toward the CR1 correction

    def _cr1(meat):
        # CR1 small-sample factor follows this package's compute_vcov
        # (solve.py: G/(G−1) · n/(n−k)) so the reported analytic se/t
        # matches dbreg(vcov='~g') exactly. Stata/boottest use
        # (n−1)/(n−k) instead; the bootstrap p-value is identical either
        # way because the factor cancels between t̂ and every t*.
        scale = (G / (G - 1)) * (n_total / (n_total - k_par))
        return scale * (Ainv @ meat @ Ainv)

    def _t(bta, ref, scores_w):
        # scores_w: (B?, G, p) bootstrap scores; returns t* per draw
        num = (bta - ref) @ R
        Xu = scores_w - np.einsum("gij,bj->bgi", A_g, bta - ref)
        meat = np.einsum("bgi,bgj->bij", Xu, Xu)
        V = np.einsum("ij,bjk,kl->bil", Ainv, meat, Ainv)
        V = (G / (G - 1)) * (n_total / (n_total - k_par)) * V
        se = np.sqrt(np.maximum(np.einsum("i,bij,j->b", R, V, R), 0.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(se > 0, num / se, np.inf)

    # point estimate & analytic CR1 t
    s_hat = b_g - A_g @ beta
    meat_hat = np.einsum("gi,gj->ij", s_hat, s_hat)
    V_hat = _cr1(meat_hat)
    se_hat = float(np.sqrt(max(R @ V_hat @ R, 0.0)))
    est = float(R @ beta)
    t_hat = (est - r_rhs) / se_hat if se_hat > 0 else np.inf

    # center: restricted β̃ (WCR) or β̂ (WCU)
    if impose_null:
        RA = Ainv @ R
        beta_c = beta - RA * ((R @ beta - r_rhs) / (R @ RA))
    else:
        beta_c = beta
    s_c = b_g - A_g @ beta_c  # (G, p) centered scores

    W, enumerated = _weight_matrix(weights, G, B, seed)
    B_used = W.shape[0]
    # all draws are driver-side numpy; chunk over replications so the
    # (b × G × p) score tensor stays bounded at large G
    chunk = max(1, int(2e7 // max(G * p, 1)))
    t_parts = []
    for lo in range(0, B_used, chunk):
        Wc = W[lo : lo + chunk]
        beta_star = beta_c[None, :] + (Wc @ s_c) @ Ainv.T
        scores_w = Wc[:, :, None] * s_c[None, :, :]
        t_parts.append(_t(beta_star, beta_c[None, :], scores_w))
    t_star = np.concatenate(t_parts)

    t_abs = abs(t_hat)
    p_val = float(np.mean(np.abs(t_star) >= t_abs - 1e-12))
    alpha = 1.0 - level
    q = float(np.quantile(np.abs(t_star), 1.0 - alpha))
    return {
        "param": param,
        "estimate": est,
        "se": se_hat,
        "t": float(t_hat),
        "p_value": p_val,
        "conf_low": est - q * se_hat,
        "conf_high": est + q * se_hat,
        "level": level,
        "B": int(B_used),
        "G": int(G),
        "weights": weights,
        "impose_null": bool(impose_null),
        "enumerated": bool(enumerated),
        "coef_names": names,
        "fe": list(parsed.fe),
        "seed": int(seed),
        # the full bootstrap t* distribution (a tuple: hashable, exact
        # dict equality) so p/CI re-derive from a saved result without
        # re-running the grouped pass
        "t_star": tuple(float(v) for v in t_star),
    }


def save_bootstrap(res: dict, path: str) -> None:
    """Serialize a wild-cluster-bootstrap result to ``path/boot.json``.
    json floats round-trip bit-exactly (repr), so the reloaded t*
    distribution re-derives the identical p-value and percentile-t CI."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "boot.json"), "w") as f:
        json.dump(
            {"format": "dbreg_spark.boot/1", "result": dict(res)},
            f,
            allow_nan=True,
        )


def load_bootstrap(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "boot.json")) as f:
        obj = json.load(f)
    if obj.get("format") != "dbreg_spark.boot/1":
        raise ValueError(f"unrecognized bootstrap format in {path}")
    res = obj["result"]
    res["coef_names"] = list(res["coef_names"])
    res["fe"] = list(res["fe"])
    res["t_star"] = tuple(float(v) for v in res["t_star"])
    return res


# --------------------------------------------------------------------------
# wild SCORE bootstrap for GLMs (Kline & Santos 2012)
# --------------------------------------------------------------------------


def glm_score_gram_frame(
    df: DataFrame,
    fam,
    beta: np.ndarray,
    y_col: str,
    x_names: list[str],
    intercept: bool,
    cluster: str,
    offset: str | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """The score bootstrap's single distributed pass: per-cluster GLM
    score vectors s_g = sum w(y - mu) x and information blocks
    A_g = sum w V x x' at a literal beta — one O(p^2) row per cluster."""
    from .glm import _d, _eta_expr
    from .plans.exprs import Lit, Var, agg_to_spark, asum, to_spark

    y = _d(Var(y_col))
    eta = _eta_expr(np.asarray(beta, dtype=float), x_names, intercept, offset)
    mu = fam.mu(eta)
    wirls = fam.w(eta, mu)
    sc = y - mu
    if weight_col is not None:
        om = _d(Var(weight_col))
        sc = om * sc
        wirls = om * wirls
    cols = ([Lit(1.0)] if intercept else []) + [Var(n) for n in x_names]
    p = len(cols)
    proj = df.select(
        F.col(cluster),
        to_spark(_d(sc)).alias("__s"),
        to_spark(_d(wirls)).alias("__w"),
        *[F.col(n) for n in x_names],
    )
    aggs = [
        agg_to_spark(asum(Var("__s") * _d(c))).alias(f"s_{i}")
        for i, c in enumerate(cols)
    ]
    for i in range(p):
        for k2 in range(i, p):
            aggs.append(
                agg_to_spark(
                    asum(Var("__w") * _d(cols[i]) * _d(cols[k2]))
                ).alias(f"a_{i}_{k2}")
            )
    return proj.groupBy(cluster).agg(*aggs)


def wild_score_bootstrap(
    fml: str,
    data=None,
    *,
    cluster: str,
    param: str,
    family: str = "binomial",
    B: int = 9_999,
    weights: str = "rademacher",
    seed: int = 12345,
    level: float = 0.95,
    spark: SparkSession | None = None,
    table: str | None = None,
    path: str | None = None,
    obs_weights: str | None = None,
    offset: str | None = None,
) -> dict:
    """Wild cluster SCORE bootstrap for GLMs (Kline & Santos 2012) — the
    few-cluster inference companion to :func:`wild_cluster_bootstrap` for
    nonlinear models, where re-solving per draw is not a block subtraction.

    ``param`` is a raw RHS variable name (tests = 0) or ``"x = c"``. The
    procedure: (1) fit the RESTRICTED model (the tested regressor removed;
    its null value rides the offset for c != 0); (2) ONE grouped pass
    collects, per cluster, the FULL model's score vector
    s_g = sum w(y - mu(eta_tilde)) x and its information block
    A_g = sum w V(eta_tilde) x x' at the restricted estimate; (3) the
    efficient score st_g = (R A^-1 s_g) makes the studentized LM statistic
    T = (sum st_g) / sqrt(sum st_g^2), and each wild draw replaces st_g by
    w_g st_g — every replication is exact driver-side arithmetic (no
    refits, so the numpy oracle reproduces t* to machine precision).
    Symmetric p-value, boottest's ``scoretest`` analog. Fixed effects are
    refused (the restricted profile would change the concentrated scores);
    include group columns as factor regressors instead.
    """
    import pandas as pd  # noqa: F401  (parity with module conventions)

    from .formula import parse_formula
    from .glm import _d, _eta_expr, get_family
    from .plans.exprs import Lit, Var, agg_to_spark, asum, to_spark

    if B < 99:
        raise ValueError("B must be at least 99")
    fam = get_family(family)
    if fam.name == "negbin":
        raise NotImplementedError(
            "wild_score_bootstrap does not support family='negbin' (its "
            "scores/information assume a canonical link; negbin's log link "
            "is non-canonical for fixed theta)"
        )
    parsed = parse_formula(fml)
    if parsed.yvar is None:
        raise ValueError("Formula needs an outcome variable.")
    if parsed.fe:
        raise NotImplementedError(
            "wild_score_bootstrap does not absorb fixed effects; include "
            "them as factor regressors"
        )
    weight_col = parse_weights(obs_weights)

    # ---- hypothesis: a raw RHS variable, optional "= c" ------------------
    pname, _, rhs = param.partition("=")
    pname = pname.strip()
    c_null = float(rhs) if rhs.strip() else 0.0
    xvars = list(parsed.xvars)
    if pname not in xvars:
        raise ValueError(
            f"param {pname!r} must be a raw RHS variable of {fml!r} "
            f"(got RHS {xvars})"
        )
    others = [v for v in xvars if v != pname]

    if spark is None and isinstance(data, DataFrame):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)
    df = source.df
    r_offset = offset
    if c_null != 0.0:
        # the null value of the tested coefficient rides the offset
        df = df.withColumn(
            "__ks_off",
            (F.coalesce(F.col(offset), F.lit(0.0)) if offset else F.lit(0.0))
            + F.lit(c_null) * F.col(pname).cast("double"),
        )
        r_offset = "__ks_off"

    # ---- the analysis frame FIRST: the restricted fit must see exactly
    # the rows the score pass sees (the full model's missing filter spans
    # the tested regressor too) ------------------------------------------
    design = build_design(df, parsed, expand="all", fe_vars=None)
    frame = build_base_frame(
        source.__class__(df=df, sql_from=None), parsed, design,
        drop_missings=True,
        extra_cols=[cluster]
        + ([offset] if offset else [])
        + ([r_offset] if r_offset and r_offset != offset else []),
        want_sql=False, weight_col=weight_col,
    )
    x_names = list(frame.x_cols)
    icpt = bool(parsed.intercept)
    names_full = ([("(Intercept)")] if icpt else []) + [
        standardize_coef_names(n) for n in x_names
    ]

    # ---- 1. restricted MLE (the tested regressor dropped) ----------------
    from .glm import dbglm

    beta_t = np.zeros(len(names_full))
    if others:
        fml_r = f"{parsed.yvar} ~ " + " + ".join(others) + (
            "" if icpt else " - 1"
        )
        m_r = dbglm(
            fml_r, frame.df, family=family, offset=r_offset,
            weights=obs_weights,
        )
        r_coef = {
            n: float(b)
            for n, b in zip(m_r.coef_names, m_r.coef().to_numpy())
        }
    elif icpt:
        # intercept-only restricted model: 1-parameter canonical-link
        # Newton, initialized at link(weighted mean). Without an offset
        # this converges immediately (the link-mean IS the MLE); with one
        # (the "x = c" null rides there) a few one-row aggregation passes
        # finish it.
        wcol = (
            F.col(weight_col).cast("double")
            if weight_col is not None
            else F.lit(1.0)
        )
        row = frame.df.agg(
            F.sum(wcol * F.col(frame.y_col).cast("double")).alias("sy"),
            F.sum(wcol).alias("sw"),
        ).collect()[0]
        ybar = float(row["sy"]) / float(row["sw"])
        if fam.name == "binomial":
            a0 = math.log(ybar / (1.0 - ybar)) if 0.0 < ybar < 1.0 else 0.0
        elif fam.name == "poisson":
            a0 = math.log(ybar) if ybar > 0 else 0.0
        else:
            a0 = ybar
        for _ in range(50 if r_offset is not None else 1):
            eta0 = _eta_expr(np.array([a0]), [], True, r_offset)
            mu0 = fam.mu(eta0)
            w0 = fam.w(eta0, mu0)
            s0 = _d(Var(frame.y_col)) - mu0
            if weight_col is not None:
                s0 = _d(Var(weight_col)) * s0
                w0 = _d(Var(weight_col)) * w0
            r0 = frame.df.agg(
                F.sum(to_spark(_d(s0))).alias("S"),
                F.sum(to_spark(_d(w0))).alias("W"),
            ).collect()[0]
            step = float(r0["S"]) / float(r0["W"])
            a0 += step
            if abs(step) <= 1e-12 * (abs(a0) + 1.0):
                break
        r_coef = {"(Intercept)": a0}
    else:
        raise NotImplementedError(
            "wild_score_bootstrap: the restricted model has no free "
            "parameters (single regressor, no intercept); add a control "
            "variable or the intercept"
        )
    for nm, b in r_coef.items():
        if nm in names_full:
            beta_t[names_full.index(nm)] = b
    beta_t[names_full.index(standardize_coef_names(pname))] = c_null

    # ---- 2. ONE grouped pass: per-cluster s_g and A_g at beta_tilde ------
    p = (1 if icpt else 0) + len(x_names)
    # the FULL model's eta at the restricted estimate: the tested
    # coefficient's null value sits in beta_t[j] — the ORIGINAL offset
    # only here (r_offset carries c*x solely for the restricted fit,
    # where the tested regressor is absent)
    rows = (
        glm_score_gram_frame(
            frame.df, fam, beta_t, frame.y_col, x_names, icpt, cluster,
            offset=offset, weight_col=weight_col,
        )
        .limit(MAX_CLUSTERS + 1)
        .collect()
    )
    if len(rows) > MAX_CLUSTERS:
        raise ValueError(
            f"cluster variable {cluster!r} has more than {MAX_CLUSTERS:,} "
            "levels — the score bootstrap targets FEW clusters"
        )
    G = len(rows)
    if G < 2:
        raise ValueError("need at least 2 clusters")
    s_g = np.zeros((G, p))
    A = np.zeros((p, p))
    for gi, r in enumerate(rows):
        for i in range(p):
            s_g[gi, i] = float(r[f"s_{i}"] or 0.0)
            for k2 in range(i, p):
                v = float(r[f"a_{i}_{k2}"] or 0.0)
                A[i, k2] += v
                if k2 != i:
                    A[k2, i] += v

    # ---- 3. efficient score + wild draws, all driver numpy ---------------
    j_idx = names_full.index(standardize_coef_names(pname))
    R = np.zeros(p)
    R[j_idx] = 1.0
    st_g = s_g @ np.linalg.solve(A, R)  # R A^-1 s_g per cluster
    T = float(st_g.sum() / np.sqrt((st_g**2).sum()))
    W, enumerated = _weight_matrix(weights, G, B, seed)
    num = W @ st_g
    den = np.sqrt((W**2) @ (st_g**2))
    with np.errstate(divide="ignore", invalid="ignore"):
        t_star = np.where(den > 0, num / den, np.inf)
    p_val = float(np.mean(np.abs(t_star) >= abs(T) - 1e-12))
    return {
        "param": param,
        "statistic": T,
        "p_value": p_val,
        "level": level,
        "B": int(W.shape[0]),
        "G": int(G),
        "weights": weights,
        "enumerated": bool(enumerated),
        "family": fam.label,
        "restricted_coef": dict(r_coef),
        "t_star": tuple(float(v) for v in t_star),
    }
