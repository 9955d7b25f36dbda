"""Instrumental-variables / two-stage-least-squares regression at Spark
scale — :func:`dbiv`.

Beyond the reference (grantmcdermott/dbreg has no IV estimator; the formula
syntax and inference conventions follow fixest's ``feols(y ~ x | fe |
endo ~ inst)``), but built from the SAME sufficient-statistics design as
the reference's moments path (R/dbreg.R:724-804): everything the 2SLS
solve needs is one full cross-moment (Gram) pass over W = [1?, exog,
endog, inst] plus y —

    A = W'W,  b = W'y,  n,  Σy²                       (ONE data scan)

and the driver (p_w × p_w doubles, p_w tiny) assembles

    β̂ = (X'P_Z X)⁻¹ X'P_Z y
       = (Azx' Azz⁻¹ Azx)⁻¹ (Azx' Azz⁻¹ Azy)

with X = [1?, exog, endog], Z = [1?, exog, inst] index subsets of W.
Robust/clustered sandwiches use the existing second-pass meat machinery
(plans/meat.py) with the STRUCTURAL residual u = y − X β̂ (β̂ as double
literals) and scores over Z — Γ = Azz⁻¹Azx maps the z-space meat into
coefficient space: V = B (Γ'SΓ) B with B = (X'P_Z X)⁻¹. Fixed effects are
absorbed by the same demeaning frames the OLS path uses (y, X and Z all
demeaned — FWL applies to 2SLS exactly as to OLS).

Scale shape: two full-data passes total (Gram + meat; iid needs only one),
no shuffle of the fact table (demeaning joins broadcast tiny per-FE mean
tables), nothing but the p_w×p_w moment row ever reaches the driver.

First-stage relevance is diagnosed for free: the per-endogenous-regressor
excluded-instrument F statistics fall out of the same Gram blocks (no
extra pass) and are reported on the model (``first_stage_F``).
"""

from __future__ import annotations

import logging
import warnings
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .design import (
    DesignInfo,
    classify_columns,
    expand_term,
    factor_levels,
    standardize_coef_names,
)
from .formula import (
    ParsedFormula,
    Term,
    _split_top,
    _TOKEN,
    parse_formula,
    parse_vcov,
    parse_weights,
)
from .model import DbregModel
from .plans.common import (
    agg_select_sql,
    assemble_normal_eqs,
    moment_spec,
    resolve_source,
    run_agg,
)
from .plans.exprs import Var
from .plans.frames import (
    build_base_frame,
    build_demeaned_frame,
    build_demeaned_frame_iterative,
)
from .solve import (
    detect_collinearity,
    gen_coeftable,
    rss_from_moments,
    solve_with_fallback,
    tss_from_moments,
)

_log = logging.getLogger("dbreg_spark")


# --------------------------------------------------------------------------
# formula
# --------------------------------------------------------------------------


@dataclass
class IvFormula:
    yvar: str
    exog_terms: list[Term]
    endog_terms: list[Term]
    inst_terms: list[Term]
    fe: list[str]
    intercept: bool

    @property
    def all_vars(self) -> list[str]:
        seen: dict[str, None] = {}
        for t in self.exog_terms + self.endog_terms + self.inst_terms:
            for v in t.vars:
                seen[v] = None
        return list(seen)


def parse_iv_formula(fml: str) -> IvFormula:
    """``y ~ exog | fe | endog ~ inst`` (fixest), FE part optional:
    ``y ~ exog | endog ~ inst``; ``y ~ 1 | endog ~ inst`` for no exogenous
    controls. The LAST ``|``-part must contain the second ``~``."""
    segs = [s.strip() for s in _split_top(fml.strip(), "|")]
    if len(segs) < 2 or "~" not in segs[-1]:
        raise ValueError(
            "dbiv formula needs an instrument part: "
            "'y ~ exog | [fe |] endog ~ inst'"
        )
    if len(segs) > 3:
        raise ValueError("too many '|' parts (max: exog | fe | endog ~ inst)")
    main, iv_seg = segs[0], segs[-1]
    fe_seg = segs[1] if len(segs) == 3 else None

    if "~" not in main:
        raise ValueError(f"not a formula: {fml!r}")
    lhs, exog_rhs = (s.strip() for s in main.split("~", 1))
    if not _TOKEN.match(lhs):
        raise ValueError(f"invalid outcome variable {lhs!r}")

    if exog_rhs in ("", "1"):
        exog_terms: list[Term] = []
        intercept = True
    elif exog_rhs == "0":
        exog_terms = []
        intercept = False
    else:
        p_main = parse_formula(f"~ {exog_rhs}")
        exog_terms, intercept = p_main.terms, p_main.intercept

    fe: list[str] = []
    if fe_seg:
        fe = [v.strip() for v in _split_top(fe_seg, "+") if v.strip()]
        for v in fe:
            if not _TOKEN.match(v):
                raise ValueError(f"invalid fixed-effect variable {v!r}")

    endog_lhs, inst_rhs = (s.strip() for s in iv_seg.split("~", 1))
    if not endog_lhs or not inst_rhs:
        raise ValueError("instrument part must be 'endog ~ inst'")
    endog_terms = parse_formula(f"~ {endog_lhs}").terms
    p_inst = parse_formula(f"~ {inst_rhs}")
    inst_terms = p_inst.terms

    ek = {t.sorted_key for t in endog_terms}
    xk = {t.sorted_key for t in exog_terms}
    zk = {t.sorted_key for t in inst_terms}
    if ek & xk:
        raise ValueError(
            "endogenous regressors cannot also appear as exogenous controls"
        )
    if ek & zk:
        raise ValueError(
            "an endogenous regressor cannot instrument itself; list it only "
            "on the left of the instrument part"
        )
    if xk & zk:
        raise ValueError(
            "exogenous controls are included instruments automatically — do "
            "not list them on the right of the instrument part"
        )
    fe_set = set(fe)
    for t in endog_terms:
        if set(t.vars) & fe_set:
            raise ValueError("a fixed-effect variable cannot be endogenous")
    return IvFormula(
        yvar=lhs,
        exog_terms=exog_terms,
        endog_terms=endog_terms,
        inst_terms=inst_terms,
        fe=fe,
        intercept=intercept,
    )


def _grouped_design(
    df: DataFrame, ivf: IvFormula
) -> tuple[DesignInfo, list[str], list[str], list[str]]:
    """Design expansion for all three groups with ONE shared factor-level
    probe (mirrors design.build_design; the drop-reference bookkeeping sees
    the union of terms so contrast rules match a joint expansion)."""
    all_terms = ivf.exog_terms + ivf.endog_terms + ivf.inst_terms
    vars_ = ivf.all_vars
    types = classify_columns(df, vars_)
    fvars = [v for v in vars_ if types[v] == "factor"]
    levels = factor_levels(df, fvars) if fvars else {}
    all_term_keys = {t.sorted_key for t in all_terms}
    for v in ivf.fe:
        all_term_keys.add((v,))

    def expand(terms: list[Term]) -> list[tuple[str, object]]:
        out = []
        for t in terms:
            out.extend(expand_term(t, types, levels, "all", all_term_keys, ivf.fe))
        return out

    exog = expand(ivf.exog_terms)
    endog = expand(ivf.endog_terms)
    inst = expand(ivf.inst_terms)
    names = [n for n, _ in exog + endog + inst]
    if len(set(names)) != len(names):
        raise ValueError("duplicate design columns across IV formula parts")
    design = DesignInfo(
        names=names,
        exprs=[e for _, e in exog + endog + inst],
        factor_levels=levels,
        numeric_vars=[v for v in vars_ if types[v] == "numeric"],
    )
    return (
        design,
        [n for n, _ in exog],
        [n for n, _ in endog],
        [n for n, _ in inst],
    )


# --------------------------------------------------------------------------
# model object
# --------------------------------------------------------------------------


@dataclass
class IvModel(DbregModel):
    """2SLS fit. Inherits the full dbreg post-estimation surface —
    coef/se/vcov/confint/tidy/glance and the distributed ``predict``
    (``strategy`` is "moments"/"demean" so scoring reuses those paths; the
    structural fit is X β̂ over exog+endog, which is exactly what
    ``design_info`` carries)."""

    endog: list[str] = field(default_factory=list)
    instruments: list[str] = field(default_factory=list)
    first_stage_F: dict = field(default_factory=dict)
    # Sargan over-identification J: (stat, df, p) — None when just-identified
    sargan: tuple | None = None
    # Wu-Hausman endogeneity F: (stat, df1, df2, p)
    wu_hausman: tuple | None = None
    # {endog: first-stage coeftable over the kept Z columns} — free from
    # the Gram blocks (iid SEs; fixest's summary(stage = 1) analog)
    first_stage_tables: dict = field(default_factory=dict)

    def first_stage(self, endog: str | None = None):
        """First-stage coefficient table(s): regress each endogenous
        column on the kept instruments+controls — assembled from the same
        Gram pass as the 2SLS solve (zero extra scans), iid inference."""
        if not self.first_stage_tables:
            raise ValueError("no first-stage tables on this model")
        if endog is not None:
            if endog not in self.first_stage_tables:
                raise ValueError(
                    f"unknown endogenous regressor {endog!r}; have "
                    f"{sorted(self.first_stage_tables)}"
                )
            return self.first_stage_tables[endog]
        return dict(self.first_stage_tables)

    def __repr__(self) -> str:
        base = super().__repr__().replace(
            f"strategy={self.strategy}", f"estimator=2SLS({self.strategy})", 1
        )
        fs = "  ".join(
            f"{k}: {v:.4g}" for k, v in self.first_stage_F.items()
        )
        lines = [base]
        if fs:
            lines.append(f"first-stage F (excluded instruments)  {fs}")
        diag = []
        if self.wu_hausman is not None:
            s, d1, d2, p = self.wu_hausman
            diag.append(f"Wu-Hausman F({d1:.0f},{d2:.0f}) = {s:.4g} (p = {p:.4g})")
        if self.sargan is not None:
            s, d, p = self.sargan
            diag.append(f"Sargan chi2({d:.0f}) = {s:.4g} (p = {p:.4g})")
        if diag:
            lines.append("  ".join(diag))
        return "\n".join(lines)


# --------------------------------------------------------------------------
# estimator
# --------------------------------------------------------------------------


def dbiv(
    fml: str,
    data=None,
    *,
    spark: SparkSession | None = None,
    table: str | None = None,
    path: str | None = None,
    vcov="iid",
    cluster=None,
    weights: str | None = None,
    hac_lag: int | None = None,
    conley_cutoff: float | None = None,
    conley_kernel: str = "uniform",
    conley_distance: str = "haversine",
    drop_missings: bool = True,
    sql_only: bool = False,
    data_only: bool = False,
    verbose: bool = False,
    broadcast_means: bool = True,
) -> IvModel:
    """Fit a 2SLS/IV regression on a Spark-resident table.

    ``fml`` is fixest-style: ``"y ~ exog | fe1 + fe2 | endog ~ inst"`` (FE
    part optional, ``exog`` may be ``1``). ``vcov``: "iid", "hc1", or a
    cluster formula ``"~g"`` / ``"~g1 + g2"`` (multiway CGM).

    ``weights``: strictly positive observation weights (fixest semantics —
    see :func:`dbreg`); weighted 2SLS is 2SLS on √w-scaled data, so every
    Gram block, rank layer, first-stage F, and diagnostic below flows from
    the w-weighted cross-moment pass unchanged. nobs/dof keep raw counts;
    sandwiches use the WLS scores w·u·z. Weighted 2-FE absorbs via
    iterated demeaning (the double-demean identity fails under weights).

    ``sql_only`` returns the DuckDB-executable SQL of the Gram pass;
    ``data_only`` returns the collected Gram row as a one-row pandas frame
    (both mirror :func:`dbreg`'s contract — the 2SLS solve itself is
    driver-side numpy on that row, identical across engines).
    """
    vcov_type, cluster_vars = parse_vcov(vcov, cluster)
    conley_opts = None
    if vcov_type == "conley":
        if conley_cutoff is None:
            raise ValueError(
                "vcov='conley ~ lat + lon' needs conley_cutoff= (km for "
                "distance='haversine', coordinate units for 'euclidean')"
            )
        conley_opts = (float(conley_cutoff), conley_kernel, conley_distance)
    ivf = parse_iv_formula(fml)
    weight_col = parse_weights(weights)
    if spark is None and isinstance(data, DataFrame):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)

    design, exog_names, endog_names, inst_names = _grouped_design(source.df, ivf)
    if not inst_names:
        raise ValueError("no instruments given")

    # the frame carries y + ALL design columns (exog, endog, inst); the
    # missing filter spans every variable so X and Z see the same rows
    parsed_all = ParsedFormula(
        yvar=ivf.yvar,
        terms=ivf.exog_terms + ivf.endog_terms + ivf.inst_terms,
        fe=ivf.fe,
        intercept=ivf.intercept,
    )
    frame = base = build_base_frame(
        source,
        parsed_all,
        design,
        drop_missings,
        extra_cols=cluster_vars if cluster_vars else None,
        want_sql=source.sql_from is not None,
        weight_col=weight_col,
    )
    icpt = ivf.intercept and not ivf.fe  # FE absorb the constant
    if vcov_type == "cr3":
        # CV3 leave-one-cluster-out 2SLS refits are Gram-block
        # subtractions; with ONE absorbed FE that is exact iff every FE
        # level nests inside one cluster (same precondition as dbreg's
        # cr3 — dropping a cluster then removes whole FE groups, leaving
        # the remaining rows' demeaned values unchanged)
        if len(ivf.fe) > 1:
            raise NotImplementedError(
                "dbiv vcov='cr3 ~ g' absorbs at most ONE fixed effect "
                "(the 2-FE double-demean grand mean changes when a "
                "cluster leaves)"
            )
        if ivf.fe:
            spans = (
                base.df.groupBy(ivf.fe[0])
                .agg(F.countDistinct(cluster_vars[0]).alias("__spans"))
                .where(F.col("__spans") > 1)
                .limit(1)
                .count()
            )
            if spans:
                raise NotImplementedError(
                    f"dbiv vcov='cr3 ~ {cluster_vars[0]}' requires each "
                    f"{ivf.fe[0]!r} level nested inside one "
                    f"{cluster_vars[0]!r} cluster"
                )
    if ivf.fe:
        # weighted k≥2: the one-scan double-demean identity fails under
        # weights — absorb via (weighted) alternating projections instead
        if len(ivf.fe) <= 2 and not (weight_col and len(ivf.fe) == 2):
            frame = build_demeaned_frame(
                base, ivf.fe, broadcast_means, weight_col=weight_col,
                carry=cluster_vars,
            )
        else:
            # iterated demeaning carries cluster keys in base.key_cols
            frame = build_demeaned_frame_iterative(
                base, ivf.fe, broadcast_means, weight_col=weight_col
            )

    w_names = list(frame.x_cols)  # exog + endog + inst, frame order
    n_fe_exprs = [Var(f) for f in ivf.fe] if ivf.fe else None
    spec = moment_spec(
        Var(frame.y_col),
        [Var(n) for n in w_names],
        intercept=icpt,
        n_fe_exprs=n_fe_exprs,
        weight=Var(weight_col) if weight_col else None,
    )
    sql = None
    if frame.sql_cte:
        sql = (
            f"{frame.sql_cte},\nmoments AS (\n  SELECT {agg_select_sql(spec)}"
            f"\n  FROM {frame.cte_name}\n)\nSELECT * FROM moments"
        )
    if sql_only:
        frame.cleanup()
        return sql if sql is not None else f"SELECT {agg_select_sql(spec)} FROM base"
    try:
        row = run_agg(frame.df, spec, fe_cols=ivf.fe or None)
        if data_only:
            return pd.DataFrame([row])
        from .api import _check_weights_valid

        _check_weights_valid(row, weight_col)
        return _solve_2sls(
            row, frame, ivf, design, exog_names, endog_names, inst_names,
            icpt, vcov_type, cluster_vars, sql, verbose, weight_col, hac_lag,
            conley_opts,
        )
    finally:
        frame.cleanup()


def _solve_2sls(
    row, frame, ivf, design, exog_names, endog_names, inst_names,
    icpt, vcov_type, cluster_vars, sql, verbose, weight_col=None,
    hac_lag=None,
    conley_opts=None,
):
    from .api import _cluster_label, _linear_meat

    w_names = list(frame.x_cols)
    A, b, n_total, sum_y, sum_y_sq = assemble_normal_eqs(
        row, len(w_names), intercept=icpt
    )
    off = 1 if icpt else 0
    pos = {n: off + i for i, n in enumerate(w_names)}
    x_cols = exog_names + endog_names
    z_cols = exog_names + inst_names
    x_idx = ([0] if icpt else []) + [pos[n] for n in x_cols]
    z_idx = ([0] if icpt else []) + [pos[n] for n in z_cols]
    names_x = (["(Intercept)"] if icpt else []) + [
        standardize_coef_names(n) for n in x_cols
    ]
    names_z = (["(Intercept)"] if icpt else []) + [
        standardize_coef_names(n) for n in z_cols
    ]

    # --- Z-side rank: drop collinear instruments/controls from Z ---------
    Azz = A[np.ix_(z_idx, z_idx)]
    cz = detect_collinearity(Azz, b[z_idx], names_z)
    if cz.collinear and verbose:
        _log.info(f"[dbiv] dropped from Z (collinear): {cz.drop_names}")
    zk = [z_idx[i] for i in cz.keep_idx]
    zk_names = cz.keep_names
    Azz_k = A[np.ix_(zk, zk)]

    excl_kept = [n for n in zk_names if n in
                 {standardize_coef_names(m) for m in inst_names}]
    if len(excl_kept) < len(endog_names):
        raise ValueError(
            f"under-identified: {len(endog_names)} endogenous regressor(s) "
            f"but only {len(excl_kept)} (non-collinear) excluded "
            f"instrument(s)"
        )

    # --- 2SLS normal equations in coefficient space -----------------------
    Azx = A[np.ix_(zk, x_idx)]
    Azy = b[zk]
    Azz_inv = np.linalg.pinv(Azz_k)
    M = Azx.T @ Azz_inv @ Azx  # X'P_Z X
    m = Azx.T @ Azz_inv @ Azy  # X'P_Z y
    cx = detect_collinearity(M, m, names_x)
    sol = solve_with_fallback(cx.xtx, cx.xty)
    xk_idx = [x_idx[i] for i in cx.keep_idx]
    icpt_x = "(Intercept)" in cx.keep_names

    # structural residual uses the ORIGINAL X (2SLS convention), so rss
    # comes from the X-block of the same Gram
    Axx_k = A[np.ix_(xk_idx, xk_idx)]
    bx_k = b[xk_idx]
    rss = rss_from_moments(sum_y_sq, sol.betahat, Axx_k, bx_k)
    if icpt:
        # weighted TSS centers on the weighted mean (denominator Σw)
        tss_n = float(row["sum_w"]) if weight_col else n_total
        tss = tss_from_moments(sum_y_sq, sum_y, tss_n)
    else:
        tss = sum_y_sq  # within-TSS under absorbed FE, as the demean path

    n_fe = [int(row.get(f"n_fe{k + 1}", 1)) for k in range(len(ivf.fe))]
    df_fe = (n_fe[0] + sum(g - 1 for g in n_fe[1:])) if ivf.fe else 0
    p_kept = len(cx.keep_names)
    df_res = max(n_total - p_kept - df_fe, 1)

    if (
        len(ivf.fe) == 2
        and weight_col is None  # weighted 2-FE routed to exact iteration
        and row.get("__n_cells") is not None
    ):
        balanced = row["__cell_min"] == row["__cell_max"] and int(
            row["__n_cells"]
        ) == n_fe[0] * n_fe[1]
        if not balanced:
            warnings.warn(
                "[dbiv] Panel appears unbalanced. Double demeaning may yield "
                "different coefficients than exact two-way FE-IV."
            )

    # --- sandwiches -------------------------------------------------------
    kept_x_cols = [n for n in x_cols if standardize_coef_names(n) in cx.keep_names]
    kept_z_cols = [n for n in z_cols if standardize_coef_names(n) in zk_names]
    icpt_z = "(Intercept)" in zk_names
    # Γ = Azz⁻¹ Azx maps z-space scores into coefficient space; row order is
    # kept-Z (intercept first, matching the meat layout), columns kept-X
    Gamma = Azz_inv @ A[np.ix_(zk, xk_idx)]

    n_params_cluster = p_kept + df_fe
    # the 2SLS meat: Z scores with the structural residual, mapped into
    # coefficient space by Gamma
    S, n_clusters = _linear_meat(
        frame, vcov_type, sol.betahat, kept_x_cols, icpt_x, cluster_vars,
        weight_col, hac_lag, conley_opts, score_names=kept_z_cols,
        score_intercept=icpt_z,
    )
    meat = None if S is None else Gamma.T @ S @ Gamma

    from .solve import compute_vcov

    if vcov_type == "cr3":
        # CV3 for 2SLS (MacKinnon-Nielsen-Webb): every leave-one-cluster-
        # out 2SLS estimate re-solved from block-subtracted Gram moments,
        # in the FULL-SAMPLE kept column layout — one grouped pass total
        from .boot import MAX_CLUSTERS, cluster_gram_frame

        gf = cluster_gram_frame(
            frame.df, frame.y_col, w_names, cluster_vars[0],
            weight_col=weight_col, intercept=icpt,
        )
        grows = gf.limit(MAX_CLUSTERS + 1).collect()
        if len(grows) > MAX_CLUSTERS:
            raise ValueError(
                f"cr3 supports at most {MAX_CLUSTERS:,} clusters; use "
                "'~cluster' CR1 instead"
            )
        G = len(grows)
        if G < 2:
            raise ValueError("cr3 needs >= 2 clusters")
        p_w = (1 if icpt else 0) + len(w_names)
        devs = np.zeros((G, len(sol.betahat)))
        for gi, r in enumerate(grows):
            A_l = A.copy()
            b_l = b.copy()
            for i in range(p_w):
                b_l[i] -= float(r[f"b_{i}"] or 0.0)
                for k2 in range(i, p_w):
                    v = float(r[f"a_{i}_{k2}"] or 0.0)
                    A_l[i, k2] -= v
                    if k2 != i:
                        A_l[k2, i] -= v
            Azz_l = A_l[np.ix_(zk, zk)]
            Azx_l = A_l[np.ix_(zk, xk_idx)]
            Azy_l = b_l[zk]
            Azz_inv_l = np.linalg.pinv(Azz_l)
            M_l = Azx_l.T @ Azz_inv_l @ Azx_l
            m_l = Azx_l.T @ Azz_inv_l @ Azy_l
            try:
                devs[gi] = np.linalg.solve(M_l, m_l) - sol.betahat
            except np.linalg.LinAlgError:
                raise ValueError(
                    f"cr3: leaving out cluster "
                    f"{r[cluster_vars[0]]!r} makes the 2SLS system "
                    "singular; CV3 is undefined here — use '~cluster' CR1"
                ) from None
        V = ((G - 1) / G) * (devs.T @ devs)
        n_clusters = G
    else:
        V = compute_vcov(
            vcov_type, sol.xtx_inv, rss, df_res, n_total, n_params_cluster,
            meat, n_clusters,
        )
    ct = gen_coeftable(sol.betahat, V, df_res, cx.keep_names)

    # --- first-stage excluded-instrument F, per endogenous column ---------
    # all from Gram blocks: regress e on kept Z (unrestricted) vs on the
    # included-only columns of kept Z (restricted); zero extra passes
    fsF: dict[str, float] = {}
    fs_gamma: dict[str, np.ndarray] = {}
    fs_tables: dict[str, object] = {}
    incl = [i for i, n in enumerate(zk_names) if n not in set(excl_kept)]
    q = len(excl_kept)
    dof2 = max(n_total - len(zk_names) - df_fe, 1)
    for en in endog_names:
        e_i = pos[en]
        Aze = A[np.ix_(zk, [e_i])][:, 0]
        ee = A[e_i, e_i]
        g_u = Azz_inv @ Aze
        fs_gamma[en] = g_u
        rss_u = max(ee - g_u @ Aze, 0.0)
        # first-stage coeftable, free from the Gram: V = σ̂² (Z'Z)⁻¹
        fs_tables[standardize_coef_names(en)] = gen_coeftable(
            g_u, (rss_u / dof2) * Azz_inv, dof2, zk_names
        )
        if incl:
            Arr = Azz_k[np.ix_(incl, incl)]
            Are = Aze[incl]
            g_r = np.linalg.pinv(Arr) @ Are
            rss_r = max(ee - g_r @ Are, 0.0)
        else:
            rss_r = ee
        denom = rss_u / dof2
        fsF[standardize_coef_names(en)] = (
            float(((rss_r - rss_u) / q) / denom) if denom > 0 and q > 0
            else float("inf")
        )
        if verbose:
            _log.info(f"[dbiv] first-stage F[{en}] = {fsF[standardize_coef_names(en)]:.4g}")
    weak = [k for k, v in fsF.items() if np.isfinite(v) and v < 10.0]
    if weak:
        warnings.warn(
            f"[dbiv] weak instruments: first-stage F < 10 for {weak} — 2SLS "
            "point estimates and inference are unreliable under weak "
            "identification"
        )

    # --- specification diagnostics, free from the same Gram blocks --------
    # Sargan over-identification J = n · u'P_Z u / u'u with u = y − Xβ̂:
    # u'Z = Azy − Azx β̂ in kept layouts; classical (homoskedastic) form
    from . import stats as _tstats

    sargan = None
    kept_endog = [
        en for en in endog_names if standardize_coef_names(en) in cx.keep_names
    ]
    Azx_kk = A[np.ix_(zk, xk_idx)]
    df_sargan = len(excl_kept) - len(kept_endog)
    if df_sargan > 0 and rss > 0:
        uZ = Azy - Azx_kk @ sol.betahat
        J = float(n_total * (uZ @ Azz_inv @ uZ) / rss)
        sargan = (J, float(df_sargan), _tstats.chi2_sf(J, df_sargan))

    # Wu-Hausman endogeneity: augmented OLS of y on [X, v̂] with v̂ the
    # first-stage residuals (v̂ = e − Zγ̂); F-test on the v̂ block. All
    # augmented Gram blocks reduce to A-blocks minus γ̂-projections.
    wu_hausman = None
    if kept_endog:
        qh = len(kept_endog)
        e_idx = [pos[en] for en in kept_endog]
        gam = np.column_stack([fs_gamma[en] for en in kept_endog])
        Axz = A[np.ix_(xk_idx, zk)]
        Axe = A[np.ix_(xk_idx, e_idx)]
        Aze_m = A[np.ix_(zk, e_idx)]
        Aee = A[np.ix_(e_idx, e_idx)]
        Axv = Axe - Axz @ gam
        Avv = Aee - Aze_m.T @ gam
        Avv = 0.5 * (Avv + Avv.T)
        bv = b[e_idx] - gam.T @ Azy
        kx = len(xk_idx)
        G_aug = np.block([[Axx_k, Axv], [Axv.T, Avv]])
        g_aug = np.concatenate([bx_k, bv])
        sol_aug = solve_with_fallback(G_aug, g_aug)
        rss_aug = rss_from_moments(sum_y_sq, sol_aug.betahat, G_aug, g_aug)
        sol_r = solve_with_fallback(Axx_k, bx_k)
        rss_r = rss_from_moments(sum_y_sq, sol_r.betahat, Axx_k, bx_k)
        dof_h = max(n_total - (kx + qh) - df_fe, 1)
        if rss_aug > 0:
            Fh = float(max(rss_r - rss_aug, 0.0) / qh / (rss_aug / dof_h))
            wu_hausman = (
                Fh, float(qh), float(dof_h), _tstats.f_sf(Fh, qh, dof_h)
            )

    # predict() scores the STRUCTURAL fit X β̂ — restrict design info to X
    design_x = DesignInfo(
        names=x_cols,
        exprs=[design.exprs[design.names.index(n)] for n in x_cols],
        factor_levels=design.factor_levels,
        numeric_vars=design.numeric_vars,
    )
    parsed_x = ParsedFormula(
        yvar=ivf.yvar,
        terms=ivf.exog_terms + ivf.endog_terms,
        fe=ivf.fe,
        intercept=ivf.intercept,
    )
    return IvModel(
        coeftable=ct,
        vcov_=V,
        coef_names=cx.keep_names,
        yvar=ivf.yvar,
        xvars=[standardize_coef_names(n) for n in x_cols],
        fe=ivf.fe,
        strategy="demean" if ivf.fe else "moments",
        vcov_type=vcov_type,
        cluster_var=_cluster_label(cluster_vars) if cluster_vars else None,
        nobs=1,
        nobs_orig=int(n_total),
        df_residual=df_res,
        rss=rss,
        tss=tss,
        n_fe1=n_fe[0] if ivf.fe else 1,
        n_fe2=n_fe[1] if len(ivf.fe) > 1 else 1,
        n_clusters=n_clusters,
        collin_vars=cx.drop_names + [n for n in cz.drop_names if n not in cx.drop_names],
        query_string=sql,
        design_info=design_x,
        parsed=parsed_x,
        intercept=icpt,
        endog=[standardize_coef_names(n) for n in endog_names],
        instruments=[standardize_coef_names(n) for n in inst_names],
        first_stage_F=fsF,
        first_stage_tables=fs_tables,
        sargan=sargan,
        wu_hausman=wu_hausman,
        weight_col=weight_col,
        demean_iterated=(frame.cte_name == "demeaned_iter"),
    )


# --------------------------------------------------------------------------
# persistence — same directory scheme as DbregModel/GlmModel
# --------------------------------------------------------------------------


def save_iv_model(m: IvModel, path: str) -> None:
    """Serialize a fitted 2SLS model: the base dbreg payload (coefs/vcov/
    design IR/retained cells) plus the IV extras (endog/instruments,
    first-stage F and tables, Sargan, Wu-Hausman). Reload with
    :func:`load_iv_model` / ``IvModel.load``."""
    import json
    import os

    from .model import _json_default, _model_to_obj

    obj = _model_to_obj(m)
    obj["format"] = "dbreg_spark.iv/1"
    obj["endog"] = list(m.endog)
    obj["instruments"] = list(m.instruments)
    obj["first_stage_F"] = {k: float(v) for k, v in m.first_stage_F.items()}
    obj["sargan"] = list(m.sargan) if m.sargan is not None else None
    obj["wu_hausman"] = (
        list(m.wu_hausman) if m.wu_hausman is not None else None
    )
    # hand-rolled split layout: python json round-trips float reprs exactly,
    # pandas to_json caps at 15 significant digits
    obj["first_stage_tables"] = {
        k: {
            "index": list(map(str, v.index)),
            "columns": list(map(str, v.columns)),
            "data": [[float(x) for x in row] for row in v.to_numpy()],
        }
        for k, v in m.first_stage_tables.items()
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "model.json"), "w") as f:
        json.dump(obj, f, allow_nan=True, default=_json_default)
    if m.cells is not None:
        m.cells.to_parquet(os.path.join(path, "cells.parquet"))


def load_iv_model(path: str, spark=None) -> IvModel:
    """Restore a model saved by :func:`save_iv_model` — bit-exact
    coef/vcov/predict plus the IV diagnostics."""
    import json
    import os
    from dataclasses import fields as dc_fields

    from .model import DbregModel, _obj_to_model

    with open(os.path.join(path, "model.json")) as f:
        obj = json.load(f)
    if obj.get("format") != "dbreg_spark.iv/1":
        raise ValueError(f"unrecognized model format in {path}")
    base = _obj_to_model(obj, path, spark)
    kw = {f.name: getattr(base, f.name) for f in dc_fields(DbregModel)}
    return IvModel(
        **kw,
        endog=list(obj["endog"]),
        instruments=list(obj["instruments"]),
        first_stage_F={k: float(v) for k, v in obj["first_stage_F"].items()},
        sargan=tuple(obj["sargan"]) if obj.get("sargan") is not None else None,
        wu_hausman=(
            tuple(obj["wu_hausman"])
            if obj.get("wu_hausman") is not None
            else None
        ),
        first_stage_tables={
            k: pd.DataFrame(
                v["data"], index=v["index"], columns=v["columns"]
            )
            for k, v in obj.get("first_stage_tables", {}).items()
        },
    )


IvModel.save = lambda self, path: save_iv_model(self, path)
IvModel.load = staticmethod(load_iv_model)
