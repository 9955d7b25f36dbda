"""`dbreg` — OLS / fixed-effects regression executed inside Spark.

The public entry point mirroring the reference's ``dbreg()``
(R/dbreg.R:302-380): four acceleration strategies (compress / moments /
demean / mundlak), an auto chooser driven by cardinality probes, iid/HC1/
cluster-robust SEs, and ``sql_only`` / ``data_only`` escape hatches.

Execution model (idiomatic Spark, no UDFs anywhere on the data path):
every strategy compiles to a DataFrame DAG that ends in ONE single-row
aggregation (plus one more for HC1/cluster); only O(p²) sufficient
statistics ever reach the driver, where numpy solves the normal equations.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .design import DesignInfo, build_design, standardize_coef_names
from .formula import ParsedFormula, parse_formula, parse_vcov, parse_weights
from .guards import is_result_too_large
from .model import DbregModel
from .plans.common import (
    Source,
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
    build_mundlak_frame,
)
from .plans.meat import (
    MEAT_KIND,
    cgm_combine,
    check_groups,
    count_nested_fe_levels,
    fe_leverage,
    ols_block,
    sandwich_meat,
)
from .solve import (
    compute_vcov,
    detect_collinearity,
    gen_coeftable,
    rss_from_moments,
    solve_with_fallback,
    tss_from_moments,
)

_log = logging.getLogger("dbreg_spark")


def dbreg(
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
    ssc: str = "full",
    strategy: str = "auto",
    compress_ratio: float | None = None,
    compress_nmax: int = 1_000_000,
    drop_missings: bool = True,
    sql_only: bool = False,
    data_only: bool = False,
    verbose: bool = False,
    broadcast_means: bool = True,
):
    """Fit an OLS/FE regression on a Spark-resident table.

    Parameters mirror the reference (R/dbreg.R:302-380). ``data`` may be a
    Spark DataFrame or a pandas DataFrame; ``table`` a catalog/temp-view
    name; ``path`` a parquet path/glob.

    ``strategy``: "auto" (probe-driven chooser), "compress" (group-by cells
    + driver WLS, distributed-Gram fallback past ``compress_nmax``),
    "moments" (one-pass sufficient statistics, no FE), "demean"/"within"
    (1-2 FEs absorbed by group-mean subtraction; single-pass double
    demeaning assumes a balanced panel for 2 FEs and warns otherwise),
    "demean_iter" (iterated demeaning — exact TWFE-k for ANY number of FEs
    and any balance; auto routes here for unbalanced 2-FE panels past the
    compression limits and for k>2), or "mundlak" (CRE with group-mean
    regressors).

    ``vcov="dk ~ t"`` requests Driscoll-Kraay HAC standard errors over
    the time column ``t`` (per-period score sums, Bartlett-weighted across
    ``hac_lag`` lags — the Newey-West plug-in bandwidth when None; lag 0
    equals clustering by ``t``). Supported on moments/demean/mundlak.

    ``vcov="conley ~ lat + lon"`` requests Conley (1999) spatial HAC SEs:
    the meat sums K(d_ij)·s_i·s_j' over every observation pair within
    ``conley_cutoff`` of each other (``conley_kernel`` "uniform" or
    "bartlett" distance decay; ``conley_distance`` "haversine" — degrees
    in, cutoff in km — or "euclidean" for projected coordinates).
    Computed exactly with a grid-cell-bucketed score self-join (shuffle =
    10x the slim score rows, never all-pairs; see plans/conley.py).
    Supported on moments/demean; cutoff→0 degenerates to HC1.
    Work guards: the pair pass refuses when any single grid cell holds
    more than 150,000 score rows or when the 9·Σ(cell count)² pair
    estimate exceeds 2e10 — dense grids at a large cutoff would otherwise
    explode the self-join. Both are plan-level defaults
    (``plans.conley.conley_meat(max_cell_rows=, max_pair_estimate=)``);
    call that directly to raise them deliberately.

    ``weights``: a column name (or ``"~w"`` formula string) of strictly
    positive observation weights — WLS minimizing Σ wᵢ(yᵢ − xᵢ'β)², the
    semantics of fixest's ``weights=`` (nobs and dof keep the raw row
    count; iid/HC1/CR1 sandwiches use the WLS scores w·u·x). Supported on
    every strategy; weighted 2-FE demeaning routes to the iterated path
    (the single-pass double-demean identity does not hold under weights).
    """
    vcov_type, cluster_var = parse_vcov(
        vcov, cluster, valid=("iid", "hc1", "hc2", "hc3")
    )
    parsed = parse_formula(fml)
    if parsed.yvar is None:
        raise ValueError("Formula needs an outcome variable.")
    weight_col = parse_weights(weights)
    if spark is None and isinstance(data, DataFrame):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)
    _require_columns(
        source.df,
        [parsed.yvar] + parsed.xvars + parsed.fe + (cluster_var or [])
        + ([weight_col] if weight_col else []),
    )

    if ssc not in ("full", "nested"):
        raise ValueError("ssc must be 'full' or 'nested'")
    valid = (
        "auto", "compress", "moments", "demean", "demean_iter", "within",
        "mundlak",
    )
    if strategy not in valid:
        raise ValueError(f"strategy must be one of {valid}")
    if strategy == "within":
        strategy = "demean"

    if compress_ratio is None:
        compress_ratio = 0.6 if len(parsed.fe) in (1, 2) else 0.01
    elif not (0.0 <= compress_ratio <= 1.0):
        raise ValueError("compress_ratio must be in [0, 1]")

    chosen, cr_est = _choose_strategy(
        source, parsed, strategy, compress_ratio, compress_nmax, verbose
    )
    if vcov_type == "dk" and chosen == "compress" and strategy == "auto":
        # DK needs a per-period score pass; cells drop the time dimension
        chosen = "demean" if parsed.fe else "moments"
    if not parsed.intercept and chosen in ("compress", "mundlak"):
        raise NotImplementedError(
            "no-intercept formulas (`y ~ 0 + x`) run on the moments/demean "
            "strategies; compress and mundlak build the intercept into "
            "their cell/group-mean designs"
        )
    if vcov_type in ("hc2", "hc3"):
        # leverage needs row-level quadratic forms: cells (compress) drop
        # rows; mundlak's design leverage is not the LSDV leverage; the
        # 1-FE LSDV hat matrix decomposes exactly (plans/meat.py:fe_leverage)
        # but k >= 2 absorbed FEs have no closed decomposition
        if len(parsed.fe) > 1:
            raise NotImplementedError(
                f"vcov={vcov_type!r} absorbs at most ONE fixed effect (the "
                "k-FE LSDV leverage has no closed per-row decomposition); "
                "use hc1 or cluster-robust SEs, or include further FEs as "
                "factor regressors"
            )
        if strategy not in ("auto", "moments", "demean", "within"):
            raise NotImplementedError(
                f"vcov={vcov_type!r} needs row-level leverage; use strategy "
                "moments/demean"
            )
        if chosen in ("compress", "mundlak"):
            chosen = "demean" if parsed.fe else "moments"
    if vcov_type == "conley":
        if conley_cutoff is None:
            raise ValueError(
                "vcov='conley ~ lat + lon' needs conley_cutoff= (km for "
                "distance='haversine', coordinate units for 'euclidean')"
            )
        if strategy not in ("auto", "moments", "demean", "demean_iter", "within"):
            raise NotImplementedError(
                "conley vcov needs row-level scores; use strategy "
                "moments/demean (cells drop the coordinates)"
            )
        if chosen in ("compress", "mundlak"):
            chosen = "demean" if parsed.fe else "moments"
    if vcov_type == "cr3":
        # CV3 jackknife refits need leave-one-cluster-out estimates as
        # Gram-block subtractions. Exact on the moments strategy always;
        # with ONE absorbed FE exact iff every FE level nests inside one
        # cluster (dropping a cluster then removes whole FE groups, so the
        # remaining rows' demeaned values are unchanged — probed inside
        # the demean executor). 2-FE double-demeaning shifts the grand
        # mean when a cluster leaves, so k>=2 FEs are refused.
        if len(parsed.fe) > 1:
            raise NotImplementedError(
                "vcov='cr3 ~ g' absorbs at most ONE fixed effect (the "
                "2-FE double-demean grand mean changes when a cluster "
                "leaves); include further FEs as factor regressors, or "
                "use '~g' CR1 / wild_cluster_bootstrap"
            )
        if strategy not in ("auto", "moments", "demean", "within"):
            raise NotImplementedError(
                "vcov='cr3 ~ g' supports strategy='moments' (no FE) or "
                "'demean' (one nested FE)"
            )
        chosen = "demean" if parsed.fe else "moments"

    kwargs = dict(
        source=source,
        parsed=parsed,
        vcov_type=vcov_type,
        cluster_var=cluster_var,
        ssc=ssc,
        drop_missings=drop_missings,
        sql_only=sql_only,
        data_only=data_only,
        verbose=verbose,
        broadcast_means=broadcast_means,
        compression_ratio_est=cr_est,
        compress_nmax=compress_nmax,
        weight_col=weight_col,
        hac_lag=hac_lag,
        conley_opts=(
            (conley_cutoff, conley_kernel, conley_distance)
            if vcov_type == "conley"
            else None
        ),
    )
    if chosen == "moments":
        return _execute_moments(**kwargs)
    if chosen in ("demean", "demean_iter"):
        return _execute_demean(
            # weighted double demeaning isn't exact — absorb via sweeps
            force_iter=(chosen == "demean_iter")
            or (weight_col is not None and len(parsed.fe) >= 2),
            # user-selected 2-FE demean runs the balanced-panel identity;
            # the balance diagnostic rides the moment aggregation for free
            # and warns post-fit (reference: R/dbreg.R:685-692). Weighted
            # fits never run that identity (always iterated), so no warning
            warn_unbalanced=(
                strategy == "demean"
                and len(parsed.fe) == 2
                and weight_col is None
            ),
            **kwargs,
        )
    if chosen == "mundlak":
        return _execute_mundlak(**kwargs)
    return _execute_compress(**kwargs)


def _require_columns(df: DataFrame, cols: list[str]) -> None:
    """Clean ValueError for unknown model variables (instead of a raw
    AnalysisException out of the first aggregation; reference validates the
    same way, R/utils.R)."""
    have = set(df.columns)
    missing = [c for c in cols if c not in have]
    if missing:
        raise ValueError(
            f"column(s) not found in input: {missing}; available: "
            f"{sorted(have)}"
        )


# --------------------------------------------------------------------------
# auto strategy chooser (reference: R/dbreg.R:496-701)
# --------------------------------------------------------------------------


def _combined_probe(source: Source, parsed: ParsedFormula, drop_missings=True):
    """All auto-chooser statistics from one aggregation pass:
    (any_continuous, compression_ratio, compressed_size).

    The compression ratio = distinct(x, fe tuples)/rows (reference:
    R/dbreg.R:509-575, paid there as an exact DISTINCT scan) and the
    continuous-regressor heuristic (R/dbreg.R:420-441) both reduce to
    cardinality sketches, so they share a single scan; approx is fine —
    the thresholds are heuristics and the compress executor recomputes
    exact cells anyway."""
    from pyspark.sql import types as T

    from .plans.common import filter_missing

    key_cols = parsed.xvars + parsed.fe
    df = source.df
    if drop_missings:
        df = filter_missing(df, [parsed.yvar] + parsed.xvars + parsed.fe)

    schema = {f.name: f.dataType for f in df.schema.fields}
    float_vars = [
        v
        for v in parsed.xvars
        if isinstance(schema.get(v), (T.DoubleType, T.FloatType, T.DecimalType))
    ]
    if not key_cols:
        return False, 1.0, None

    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.approx_count_distinct(F.struct(*key_cols)).alias("__g"),
    ] + [F.approx_count_distinct(v).alias(f"__c_{v}") for v in float_vars]
    row = df.agg(*aggs).collect()[0]
    total_n, n_groups = row["__n"], row["__g"]
    any_continuous = any(
        row[f"__c_{v}"] > min(50, 0.2 * total_n) for v in float_vars
    )
    return any_continuous, n_groups / max(total_n, 1), n_groups


def _cluster_label(cluster_vars):
    return "+".join(cluster_vars) if cluster_vars else None


def _linear_meat(
    frame, vcov_type, betahat, x, icpt, keys, weight_col=None, hac_lag=None,
    conley_opts=None, xtx_inv=None, fe_col=None, score_names=None,
    score_intercept=None,
):
    """(meat, G or T) of a linear fit from the sandwich kernel, or (None,
    None) when the vcov needs no meat. The score is w·(y − x'β̂) over the
    kept columns (``score_names``: the Z columns of 2SLS). HC2/HC3 add the
    leverage from ``xtx_inv``, plus the exact one-FE term for ``fe_col``."""
    kind = MEAT_KIND.get(vcov_type)
    if kind is None:
        return None, None
    src, h_extra = frame, None
    if vcov_type in ("hc2", "hc3") and fe_col is not None:
        src, h_extra = fe_leverage(frame.df, fe_col, weight_col)
    block = ols_block(
        frame.y_col, betahat, x, icpt, weight_col, score_names,
        score_intercept, xtx_inv, vcov_type, h_extra,
    )
    res = sandwich_meat(src, [block], kind, keys or (), lag=hac_lag, conley=conley_opts)
    return res.one()


def _choose_strategy(source, parsed, strategy, compress_ratio, compress_nmax, verbose):
    fe = parsed.fe
    cr_est = None
    if strategy != "auto":
        chosen = strategy
    else:
        # ONE combined probe pass: COUNT(*), the approximate distinct-tuple
        # count, and the per-float-regressor approximate cardinalities ride
        # in the same aggregation (the reference pays separate round trips,
        # R/dbreg.R:509-575 + 420-441; sketches share the scan here)
        any_continuous, cr_est, comp_size = _combined_probe(source, parsed)
        fail_ratio = cr_est is not None and cr_est > compress_ratio
        fail_nmax = comp_size is not None and comp_size > compress_nmax
        if verbose:
            _log.info(
                f"[dbreg] auto: compression ratio {cr_est:.4g} "
                f"({'exceeds' if fail_ratio else 'satisfies'} {compress_ratio}); "
                f"continuous regressors: {any_continuous}"
            )
        if len(fe) == 0:
            chosen = "moments" if (any_continuous or fail_ratio or fail_nmax) else "compress"
        elif len(fe) in (1, 2):
            if fail_ratio or fail_nmax:
                if len(fe) == 2 and not _is_balanced(source, parsed):
                    # unbalanced TWFE past the transfer limits: iterated
                    # demeaning is exact for any balance (the reference
                    # refuses here, R/dbreg.R:641-648 — upgrade)
                    chosen = "demean_iter"
                else:
                    chosen = "demean"
            else:
                chosen = "compress"
        else:
            # k>2 FEs: compress while cells fit; past the thresholds, the
            # iterated-demeaning path absorbs the FEs exactly
            chosen = "demean" if (fail_ratio or fail_nmax) else "compress"
        if verbose:
            _log.info(f"[dbreg] auto decision: {chosen}")

    # guard unsupported combos (reference: R/dbreg.R:674-695)
    if chosen == "moments" and len(fe) > 0:
        import warnings

        warnings.warn("[dbreg] FE present; moments (no-FE) not applicable. Using compress.")
        chosen = "compress"
    if chosen in ("demean", "demean_iter") and len(fe) < 1:
        import warnings

        warnings.warn("[dbreg] demean requires at least one FE. Using compress.")
        chosen = "compress"
    if chosen == "mundlak" and len(fe) == 0:
        raise ValueError("mundlak strategy requires at least one fixed effect")
    return chosen, cr_est


def _count_fe_components(df, fe1: str, fe2: str, cap: int = 1_000_000):
    """Connected components of the bipartite (fe1, fe2) incidence graph via
    union-find over the DISTINCT level-pair table (the cells, already tiny
    relative to the data; collection is capped). The exact rank of the
    two-FE dummy space is G1 + G2 − C (fixest applies the same correction);
    returns None past the cap (caller keeps the connected-panel −1)."""
    rows = df.select(fe1, fe2).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    parent: dict = {}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for r in rows:
        u, v = ("u", r[0]), ("v", r[1])
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    return sum(1 for k in parent if find(k) == k)


def _is_balanced(source: Source, parsed: ParsedFormula) -> bool:
    """Balanced-panel probe: all FE cells have equal counts AND the
    fe1×fe2 grid is complete (reference probes only the first condition,
    R/dbreg.R:627-631; double-demeaning additionally requires the complete
    grid, so we check both — one tiny aggregation over the cell counts)."""
    from .plans.common import filter_missing

    fe1, fe2 = parsed.fe
    df = filter_missing(source.df, [parsed.yvar] + parsed.xvars + parsed.fe)
    row = (
        df.groupBy(fe1, fe2)
        .count()
        .agg(
            F.countDistinct("count").alias("k"),
            F.count(F.lit(1)).alias("cells"),
            F.countDistinct(fe1).alias("g1"),
            F.countDistinct(fe2).alias("g2"),
        )
        .collect()[0]
    )
    return row["k"] == 1 and row["cells"] == row["g1"] * row["g2"]


# --------------------------------------------------------------------------
# moments strategy (reference: R/dbreg.R:705-872)
# --------------------------------------------------------------------------


def _check_weights_valid(row: dict, weight_col: str | None) -> None:
    """Raise on non-positive (or NaN — which would silently poison every
    weighted sum) weights; w_min rides the moment pass for free."""
    if weight_col is None:
        return
    w_min = row.get("w_min")
    # Spark MIN sorts NaN above every real value, so a poisoned column shows
    # up in the SUM (NaN-absorbing), not the min — probe both
    sum_w = row.get("sum_w")
    bad_sum = sum_w is not None and not np.isfinite(float(sum_w))
    if bad_sum or (w_min is not None and not (float(w_min) > 0.0)):
        raise ValueError(
            f"weights column '{weight_col}' contains non-positive or NaN "
            f"values (min = {w_min}); weights must be strictly positive"
        )


def _execute_moments(
    source,
    parsed,
    vcov_type,
    cluster_var,
    ssc,
    drop_missings,
    sql_only,
    data_only,
    verbose,
    broadcast_means,
    compression_ratio_est,
    compress_nmax,
    weight_col=None,
    hac_lag=None,
    conley_opts=None,
):
    design = build_design(source.df, parsed, expand="all", fe_vars=parsed.fe)
    frame = build_base_frame(
        source,
        parsed,
        design,
        drop_missings,
        extra_cols=cluster_var if cluster_var else None,
        want_sql=source.sql_from is not None,
        weight_col=weight_col,
    )
    # honor the formula's intercept flag (`y ~ 0 + x` / `- 1`): the
    # moment spec, the assembled normal equations and the TSS convention
    # (uncentered for no-intercept, R's summary.lm convention) all follow
    has_icpt = parsed.intercept
    spec = moment_spec(
        Var(frame.y_col), [Var(n) for n in frame.x_cols], intercept=has_icpt,
        weight=Var(weight_col) if weight_col else None,
    )
    sql = None
    if frame.sql_cte:
        sql = (
            f"{frame.sql_cte},\nmoments AS (\n  SELECT {agg_select_sql(spec)}"
            f"\n  FROM {frame.cte_name}\n)\nSELECT * FROM moments"
        )
    if sql_only:
        return sql if sql is not None else _spec_only_sql(spec, "base")
    row = run_agg(frame.df, spec)
    if data_only:
        return pd.DataFrame([row])
    _check_weights_valid(row, weight_col)

    names_all = (["(Intercept)"] if has_icpt else []) + [
        standardize_coef_names(n) for n in frame.x_cols
    ]
    xtx, xty, n_total, sum_y, sum_y_sq = assemble_normal_eqs(
        row, len(frame.x_cols), intercept=has_icpt
    )
    collin = detect_collinearity(xtx, xty, names_all)
    sol = solve_with_fallback(collin.xtx, collin.xty)
    rss = rss_from_moments(sum_y_sq, sol.betahat, collin.xtx, collin.xty)
    if has_icpt:
        # weighted TSS centers on the weighted mean: Σw·y² − (Σw·y)²/Σw
        tss_n = float(row["sum_w"]) if weight_col else n_total
        tss = tss_from_moments(sum_y_sq, sum_y, tss_n)
    else:
        tss = sum_y_sq  # uncentered (R's no-intercept R² convention)
    p = len(collin.keep_names)
    df_res = max(n_total - p, 1)

    kept_x = [n for n in frame.x_cols if standardize_coef_names(n) in collin.keep_names]
    # the pivoted QR may drop the intercept itself (e.g. a constant regressor
    # column wins its pivot) — the meat residual must use the kept layout
    icpt = "(Intercept)" in collin.keep_names
    meat, n_clusters = _linear_meat(
        frame, vcov_type, sol.betahat, kept_x, icpt, cluster_var, weight_col,
        hac_lag, conley_opts, xtx_inv=sol.xtx_inv,
    )

    if vcov_type == "cr3":
        from .boot import cr3_vcov

        V, n_clusters = cr3_vcov(
            frame.df, frame.y_col, kept_x, icpt, cluster_var[0],
            weight_col, sol.betahat,
        )
    else:
        V = compute_vcov(
            vcov_type, sol.xtx_inv, rss, df_res, n_total, p, meat, n_clusters
        )
    ct = gen_coeftable(sol.betahat, V, df_res, collin.keep_names)
    return DbregModel(
        coeftable=ct,
        vcov_=V,
        coef_names=collin.keep_names,
        yvar=parsed.yvar,
        xvars=standardize_coef_names(parsed.xvars),
        fe=[],
        strategy="moments",
        vcov_type=vcov_type,
        cluster_var=_cluster_label(cluster_var),
        nobs=1,
        nobs_orig=int(n_total),
        df_residual=df_res,
        rss=rss,
        tss=tss,
        n_clusters=n_clusters,
        collin_vars=collin.drop_names,
        compression_ratio_est=compression_ratio_est,
        query_string=sql,
        design_info=design,
        parsed=parsed,
        weight_col=weight_col,
        intercept=has_icpt,
    )


def _spec_only_sql(spec, cte):
    return f"SELECT {agg_select_sql(spec)} FROM {cte}"


# --------------------------------------------------------------------------
# demean strategy (reference: R/dbreg.R:880-1235)
# --------------------------------------------------------------------------


def _execute_demean(
    source,
    parsed,
    vcov_type,
    cluster_var,
    ssc,
    drop_missings,
    sql_only,
    data_only,
    verbose,
    broadcast_means,
    compression_ratio_est,
    compress_nmax,
    weight_col=None,
    hac_lag=None,
    force_iter=False,
    warn_unbalanced=False,
    conley_opts=None,
):
    fe = parsed.fe
    if len(fe) < 1:
        raise ValueError("demean requires at least one fixed effect")
    design = build_design(source.df, parsed, expand="all", fe_vars=fe)
    base = build_base_frame(
        source,
        parsed,
        design,
        drop_missings,
        extra_cols=cluster_var if cluster_var else None,
        want_sql=source.sql_from is not None,
        weight_col=weight_col,
    )
    if len(fe) > 2 or force_iter:
        # iterated demeaning (alternating projections) — exact at
        # convergence for any balance; cluster keys ride in base.key_cols
        frame = build_demeaned_frame_iterative(
            base, fe, broadcast_means, weight_col=weight_col
        )
    else:
        frame = build_demeaned_frame(
            base, fe, broadcast_means, weight_col=weight_col,
            carry=cluster_var,
        )

    try:
        return _finish_demean(
            frame, base, design, parsed, vcov_type, cluster_var, ssc, sql_only,
            data_only, compression_ratio_est, warn_unbalanced, weight_col,
            hac_lag, conley_opts,
        )
    finally:
        # the one-scan GROUPING SETS means table is cached for reuse across
        # the moment and meat passes; release it once the fit is done
        frame.cleanup()


def _finish_demean(
    frame, base, design, parsed, vcov_type, cluster_var, ssc, sql_only,
    data_only, compression_ratio_est, warn_unbalanced=False, weight_col=None,
    hac_lag=None,
    conley_opts=None,
):
    fe = parsed.fe
    n_fe_exprs = [Var(f) for f in fe]
    spec = moment_spec(
        Var(frame.y_col),
        [Var(n) for n in frame.x_cols],
        intercept=False,
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
        return sql if sql is not None else _spec_only_sql(spec, "demeaned")
    row = run_agg(frame.df, spec, fe_cols=parsed.fe)
    if data_only:
        return pd.DataFrame([row])
    _check_weights_valid(row, weight_col)

    n_total = float(row["n_total"])
    n_fe = [int(row.get(f"n_fe{k + 1}", 1)) for k in range(max(len(fe), 2))]
    n_fe1, n_fe2 = n_fe[0], n_fe[1]
    sum_y_sq = float(row["sum_y_sq"])

    if warn_unbalanced and row.get("__n_cells") is not None:
        balanced = row["__cell_min"] == row["__cell_max"] and int(
            row["__n_cells"]
        ) == n_fe1 * n_fe2
        if not balanced:
            import warnings

            warnings.warn(
                "[dbreg] Panel appears unbalanced. Double demeaning may yield "
                "different coefficients than exact TWFE; use "
                "strategy='demean_iter' for exact TWFE on unbalanced panels."
            )

    names = [standardize_coef_names(n) for n in frame.x_cols]
    xtx, xty, *_ = assemble_normal_eqs(row, len(frame.x_cols), intercept=False)
    collin = detect_collinearity(xtx, xty, names)
    sol = solve_with_fallback(collin.xtx, collin.xty)
    rss = rss_from_moments(sum_y_sq, sol.betahat, collin.xtx, collin.xty)
    p_kept = len(collin.keep_names)
    # G1 + Σ_{k≥2}(G_k − 1): exact when the FE incidence graph is connected.
    # The iterative 2-FE path serves arbitrary (possibly disconnected)
    # panels, so there the exact rank G1 + G2 − C is used (one tiny distinct
    # over the level pairs); k>2 keeps the heuristic, as fixest does.
    df_fe = n_fe[0] + sum(g - 1 for g in n_fe[1:])
    if len(fe) == 2 and frame.cte_name == "demeaned_iter":
        comps = frame.n_components  # exact, free from the compressed stats
        if comps is None:
            n_cells = row.get("__n_cells")
            if n_cells is None or int(n_cells) <= 1_000_000:
                comps = _count_fe_components(base.df, fe[0], fe[1])
        if comps is not None and comps > 1:
            df_fe = n_fe1 + n_fe2 - comps
    df_res = max(n_total - p_kept - df_fe, 1)

    n_params_cluster = p_kept + df_fe
    kept_x = [n for n in frame.x_cols if standardize_coef_names(n) in collin.keep_names]
    meat, n_clusters = _linear_meat(
        frame, vcov_type, sol.betahat, kept_x, False, cluster_var, weight_col,
        hac_lag, conley_opts, xtx_inv=sol.xtx_inv, fe_col=fe[0],
    )
    if vcov_type == "cluster" and ssc == "nested":
        if len(cluster_var) > 1:
            raise ValueError("ssc='nested' is not defined for multiway clustering")
        nested = count_nested_fe_levels(base.df, fe, cluster_var[0])
        n_params_cluster = p_kept + df_fe - nested

    if vcov_type == "cr3":
        # exactness precondition (see the dbreg dispatch comment): every
        # FE level inside ONE cluster — then leave-cluster-out demeaned
        # values equal the full-sample demeaned values on retained rows
        spans = (
            base.df.groupBy(fe[0])
            .agg(F.countDistinct(cluster_var[0]).alias("__spans"))
            .where(F.col("__spans") > 1)
            .limit(1)
            .count()
        )
        if spans:
            raise NotImplementedError(
                f"vcov='cr3 ~ {cluster_var[0]}' with an absorbed FE "
                f"requires each {fe[0]!r} level nested inside one "
                f"{cluster_var[0]!r} cluster; include the FE as a factor "
                "regressor, or use '~g' CR1 / wild_cluster_bootstrap"
            )
        from .boot import cr3_vcov

        V, n_clusters = cr3_vcov(
            frame.df, frame.y_col, kept_x, False, cluster_var[0],
            weight_col, sol.betahat,
        )
    else:
        V = compute_vcov(
            vcov_type, sol.xtx_inv, rss, df_res, n_total, n_params_cluster,
            meat, n_clusters,
        )
    ct = gen_coeftable(sol.betahat, V, df_res, collin.keep_names)
    return DbregModel(
        coeftable=ct,
        vcov_=V,
        coef_names=collin.keep_names,
        yvar=parsed.yvar,
        xvars=standardize_coef_names(parsed.xvars),
        fe=fe,
        strategy="demean",
        vcov_type=vcov_type,
        cluster_var=_cluster_label(cluster_var),
        nobs=1,
        nobs_orig=int(n_total),
        df_residual=df_res,
        rss=rss,
        tss=sum_y_sq,  # within-TSS, as in the reference (R/dbreg.R:1214)
        n_fe1=n_fe1,
        n_fe2=n_fe2,
        n_clusters=n_clusters,
        collin_vars=collin.drop_names,
        compression_ratio_est=compression_ratio_est,
        query_string=sql,
        design_info=design,
        parsed=parsed,
        weight_col=weight_col,
        intercept=False,
        demean_iterated=(frame.cte_name == "demeaned_iter"),
    )


# --------------------------------------------------------------------------
# mundlak strategy (reference: R/dbreg.R:1243-1502)
# --------------------------------------------------------------------------


def _execute_mundlak(
    source,
    parsed,
    vcov_type,
    cluster_var,
    ssc,
    drop_missings,
    sql_only,
    data_only,
    verbose,
    broadcast_means,
    compression_ratio_est,
    compress_nmax,
    weight_col=None,
    hac_lag=None,
    conley_opts=None,
):
    fe = parsed.fe
    if not fe:
        raise ValueError("mundlak strategy requires at least one fixed effect")
    design = build_design(source.df, parsed, expand="all", fe_vars=fe)
    base = build_base_frame(
        source,
        parsed,
        design,
        drop_missings,
        extra_cols=cluster_var if cluster_var else None,
        want_sql=source.sql_from is not None,
        weight_col=weight_col,
    )
    frame = build_mundlak_frame(
        base, fe, design.numeric_vars, broadcast_means, weight_col=weight_col
    )

    try:
        return _finish_mundlak(
            frame, design, parsed, vcov_type, cluster_var, sql_only, data_only,
            compression_ratio_est, weight_col, hac_lag,
        )
    finally:
        frame.cleanup()


def _finish_mundlak(
    frame, design, parsed, vcov_type, cluster_var, sql_only, data_only,
    compression_ratio_est, weight_col=None, hac_lag=None,
):
    fe = parsed.fe
    n_fe_exprs = [Var(f) for f in fe[:2]]
    spec = moment_spec(
        Var(frame.y_col),
        [Var(n) for n in frame.x_cols],
        intercept=True,
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
        return sql if sql is not None else _spec_only_sql(spec, "augmented")
    row = run_agg(frame.df, spec, fe_cols=parsed.fe)
    if data_only:
        return pd.DataFrame([row])
    _check_weights_valid(row, weight_col)

    n_total = float(row["n_total"])
    n_fe1 = int(row.get("n_fe1", 1))
    n_fe2 = int(row.get("n_fe2", 1))
    names_all = ["(Intercept)"] + [standardize_coef_names(n) for n in frame.x_cols]
    xtx, xty, _, sum_y, sum_y_sq = assemble_normal_eqs(
        row, len(frame.x_cols), intercept=True
    )
    collin = detect_collinearity(xtx, xty, names_all)
    sol = solve_with_fallback(collin.xtx, collin.xty)
    rss = rss_from_moments(sum_y_sq, sol.betahat, collin.xtx, collin.xty)
    tss_n = float(row["sum_w"]) if weight_col else n_total
    tss = tss_from_moments(sum_y_sq, sum_y, tss_n)
    p = len(collin.keep_names)
    df_res = max(n_total - p, 1)

    kept_x = [n for n in frame.x_cols if standardize_coef_names(n) in collin.keep_names]
    # the intercept itself can lose its pivot to a near-constant x_bar column
    # (tiny samples with a 2-level FE) — meat must follow the kept layout
    icpt = "(Intercept)" in collin.keep_names
    meat, n_clusters = _linear_meat(
        frame, vcov_type, sol.betahat, kept_x, icpt, cluster_var, weight_col,
        hac_lag,
    )

    V = compute_vcov(vcov_type, sol.xtx_inv, rss, df_res, n_total, p, meat, n_clusters)
    ct = gen_coeftable(sol.betahat, V, df_res, collin.keep_names)

    return DbregModel(
        coeftable=ct,
        vcov_=V,
        coef_names=collin.keep_names,
        yvar=parsed.yvar,
        xvars=standardize_coef_names(parsed.xvars),
        fe=fe,
        strategy="mundlak",
        vcov_type=vcov_type,
        cluster_var=_cluster_label(cluster_var),
        nobs=1,
        nobs_orig=int(n_total),
        df_residual=df_res,
        rss=rss,
        tss=tss,
        n_fe1=n_fe1,
        n_fe2=n_fe2,
        n_clusters=n_clusters,
        collin_vars=collin.drop_names,
        compression_ratio_est=compression_ratio_est,
        query_string=sql,
        design_info=design,
        parsed=parsed,
        weight_col=weight_col,
    )


# --------------------------------------------------------------------------
# compress strategy (reference: R/dbreg.R:1506-1716)
# --------------------------------------------------------------------------


def compress_plan(
    source: Source,
    parsed: ParsedFormula,
    design: DesignInfo,
    drop_missings=True,
    weight_col: str | None = None,
):
    """Build the group-by compression DAG + SQL (reference: R/dbreg.R:1544-1569).

    Returns (compressed_df, group_cols, sql). One shuffle on the grouping
    keys with map-side partial aggregation; at 100 TB the shuffle volume is
    ≈ #cells per partition, not the data.

    ``weight_col`` adds the WLS sufficient statistics per cell on the SAME
    pass: Σw / Σw·y / Σw·y² drive the weighted normal equations, the Σw²
    triplet drives the weighted HC1 meat (scores are w·u·x, so the squared
    form needs w²), and ``w_min`` is the free positivity probe. Raw n /
    Σy / Σy² stay — nobs and dof keep the raw row count (fixest semantics).
    """
    from .plans.common import filter_missing, not_null_filter_sql
    from .plans.exprs import to_spark, to_sql

    df = source.df
    needed = [parsed.yvar] + parsed.xvars + parsed.fe + (
        [weight_col] if weight_col else []
    )
    if drop_missings:
        df = filter_missing(df, needed)
    key_exprs = list(zip(design.names, design.exprs))
    # dedupe: a variable serving BOTH as a regressor and an FE appears once
    # in the cell key (one column feeds the numeric block and the forced
    # dummy block downstream); duplicate projection names would make every
    # later reference ambiguous
    group_cols = list(
        dict.fromkeys(design.names + parsed.fe)
    )
    fe_extra = [f for f in parsed.fe if f not in design.names]
    proj = df.select(
        *[to_spark(e).alias(n) for n, e in key_exprs],
        *[F.col(f) for f in fe_extra],
        F.col(parsed.yvar),
        *([F.col(weight_col)] if weight_col else []),
    )
    yc = F.col(parsed.yvar).cast("double")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(yc).alias("sum_y"),
        F.sum(yc * yc).alias("sum_y_sq"),
    ]
    if weight_col:
        wc = F.col(weight_col).cast("double")
        aggs += [
            F.sum(wc).alias("sum_w"),
            F.sum(wc * yc).alias("sum_wy"),
            F.sum(wc * yc * yc).alias("sum_wy_sq"),
            F.sum(wc * wc).alias("sum_w2"),
            F.sum(wc * wc * yc).alias("sum_w2y"),
            F.sum(wc * wc * yc * yc).alias("sum_w2y_sq"),
            F.min(wc).alias("w_min"),
        ]
    comp = (
        proj.groupBy(*group_cols)
        .agg(*aggs)
        .withColumn("mean_y", F.col("sum_y") / F.col("n"))
        .withColumn("wts", F.sqrt(F.col("n")))
    )
    sql = None
    if source.sql_from:
        key_sql = ",\n    ".join(
            (n if isinstance(e, Var) and e.name == n else f"{to_sql(e)} AS {n}")
            for n, e in key_exprs
        )
        fe_sql = "".join(f",\n    {f}" for f in fe_extra)
        where = f"\n  WHERE {not_null_filter_sql(needed)}" if drop_missings else ""
        w_sql = ""
        if weight_col:
            wd = f"CAST({weight_col} AS DOUBLE)"
            yd = f"CAST({parsed.yvar} AS DOUBLE)"
            w_sql = (
                f",\n    SUM({wd}) AS sum_w,\n"
                f"    SUM({wd} * {yd}) AS sum_wy,\n"
                f"    SUM({wd} * {yd} * {yd}) AS sum_wy_sq,\n"
                f"    SUM({wd} * {wd}) AS sum_w2,\n"
                f"    SUM({wd} * {wd} * {yd}) AS sum_w2y,\n"
                f"    SUM({wd} * {wd} * {yd} * {yd}) AS sum_w2y_sq,\n"
                f"    MIN({wd}) AS w_min"
            )
        sql = (
            f"WITH cte AS (\n  SELECT\n    {key_sql}{fe_sql},\n"
            f"    CAST(COUNT(*) AS BIGINT) AS n,\n"
            f"    SUM(CAST({parsed.yvar} AS DOUBLE)) AS sum_y,\n"
            f"    SUM(POWER(CAST({parsed.yvar} AS DOUBLE), 2)) AS sum_y_sq"
            f"{w_sql}\n"
            f"  {source.require_sql()}{where}\n"
            f"  GROUP BY {', '.join(group_cols)}\n)\n"
            "SELECT *, sum_y / n AS mean_y, SQRT(n) AS wts FROM cte"
        )
    return comp, group_cols, sql


def _execute_compress(
    source,
    parsed,
    vcov_type,
    cluster_var,
    ssc,
    drop_missings,
    sql_only,
    data_only,
    verbose,
    broadcast_means,
    compression_ratio_est,
    compress_nmax,
    weight_col=None,
    hac_lag=None,
    conley_opts=None,
):
    if vcov_type == "dk":
        raise NotImplementedError(
            "Driscoll-Kraay SEs are supported on strategies "
            "'moments'/'demean'/'mundlak' (per-period score passes); "
            "compress cells do not retain the time dimension"
        )
    design = build_design(source.df, parsed, expand="interactions", fe_vars=parsed.fe)
    comp, group_cols, sql = compress_plan(
        source, parsed, design, drop_missings, weight_col
    )
    if sql_only:
        return sql
    if data_only:
        return comp.toPandas()
    # guarded collect (an unguarded toPandas() could OOM the driver on a
    # low-compression key at scale): the fast path is a plain Arrow collect
    # with Spark's own spark.driver.maxResultSize as the hard memory guard —
    # a too-large result aborts cleanly and falls through to the
    # distributed-Gram solve, as does a row count past compress_nmax. A
    # LIMIT-based guard would bound rows more tightly but costs a constant
    # ~0.3s of CollectLimit overhead on every fit (measured), so it is used
    # only when maxResultSize is disabled. (Reference refuses outright here:
    # R/dbreg.R:1575-1580.)
    pdf = _collect_cells_guarded(comp, compress_nmax)
    if pdf is None or len(pdf) > compress_nmax:
        if verbose:
            _log.info(
                f"[dbreg] compressed size exceeds compress_nmax "
                f"({compress_nmax:,}); using the distributed-Gram fallback"
            )
        return _execute_compress_distributed(
            comp, source, parsed, design, vcov_type, cluster_var, ssc,
            drop_missings, compression_ratio_est, sql, verbose, weight_col,
        )
    if weight_col is not None and len(pdf):
        wm = pdf["w_min"].to_numpy(dtype=float)
        sw = pdf["sum_w"].to_numpy(dtype=float)
        if not (np.min(wm) > 0.0) or not np.isfinite(sw).all():
            raise ValueError(
                f"weights column '{weight_col}' contains non-positive or "
                "NaN values; weights must be strictly positive"
            )
    nobs_orig = int(pdf["n"].sum())
    nobs_comp = len(pdf)
    compression_ratio = nobs_comp / max(nobs_orig, 1)
    if verbose and compression_ratio > 0.8:
        import warnings

        warnings.warn(
            f"[dbreg] compression ineffective ({100 * compression_ratio:.1f}% of "
            "original rows). Consider strategy='mundlak'."
        )

    from .wls import CellDesign

    cd = CellDesign(pdf, design.names, parsed.fe)
    # level tables for predict() FE/factor-dummy scoring and the exact
    # fe-coefficient name set used by coef(fe=)/se(fe=)/confint(fe=)
    cat_levels = {b.var: list(b.levels) for b in cd.blocks if b.kind == "cat"}
    fe_coef_names = frozenset(
        f"{v}{lvl}" for v in parsed.fe for lvl in cat_levels.get(v, [])
    )
    if weight_col is not None:
        # weighted cells: the WLS weight is Σw per cell, the response
        # moments are the w-weighted sums (x is constant within a cell)
        n_vec = pdf["sum_w"].to_numpy(dtype=float)
        sum_y = pdf["sum_wy"].to_numpy(dtype=float)
        sum_y_sq = pdf["sum_wy_sq"].to_numpy(dtype=float)
    else:
        n_vec = pdf["n"].to_numpy(dtype=float)
        sum_y = pdf["sum_y"].to_numpy(dtype=float)
        sum_y_sq = pdf["sum_y_sq"].to_numpy(dtype=float)
    # WLS with weights √n:  X'WX = Σ n·x·x',  X'Wy = Σ x·sum_y
    xtx = cd.gram(n_vec)
    xty = cd.weighted_col_sums(sum_y)

    collin = detect_collinearity(xtx, xty, cd.col_names)
    sol = solve_with_fallback(collin.xtx, collin.xty)
    yhat = cd.matvec(sol.betahat, collin.keep_idx)

    rss_g = sum_y_sq - 2.0 * yhat * sum_y + n_vec * yhat**2
    rss_total = float(rss_g.sum())
    p = len(collin.keep_names)
    df_res = max(nobs_orig - p, 1)
    tss = float(sum_y_sq.sum() - (sum_y.sum() ** 2) / n_vec.sum())

    meat = n_clusters = None
    n_params_cluster = p
    if vcov_type == "hc1":
        # meat = X' diag(rss_g) X on kept columns (reference: R/dbreg.R:1771)
        if weight_col is not None:
            # WLS scores are w·u·x — the squared-residual factor per cell is
            # Σw²u² = Σw²y² − 2ŷΣw²y + ŷ²Σw² (ŷ constant within the cell)
            w2 = pdf["sum_w2"].to_numpy(dtype=float)
            w2y = pdf["sum_w2y"].to_numpy(dtype=float)
            w2yy = pdf["sum_w2y_sq"].to_numpy(dtype=float)
            meat_g = w2yy - 2.0 * yhat * w2y + w2 * yhat**2
        else:
            meat_g = rss_g
        meat = cd.gram(meat_g)[np.ix_(collin.keep_idx, collin.keep_idx)]
    elif vcov_type == "cluster":
        meat, n_clusters = _compress_cluster_meat(
            source, parsed, design, group_cols, cluster_var, pdf, cd, collin,
            sol.betahat, yhat, drop_missings, weight_col
        )
        if ssc == "nested":
            from .plans.common import filter_missing

            fdf = filter_missing(
                source.df, [parsed.yvar] + parsed.xvars + parsed.fe
            )
            if len(cluster_var) > 1:
                raise ValueError("ssc='nested' is not defined for multiway clustering")
            nested = count_nested_fe_levels(fdf, parsed.fe, cluster_var[0])
            n_params_cluster = p - nested

    V = compute_vcov(
        vcov_type, sol.xtx_inv, rss_total, df_res, nobs_orig, n_params_cluster, meat, n_clusters
    )
    ct = gen_coeftable(sol.betahat, V, df_res, collin.keep_names)
    return DbregModel(
        coeftable=ct,
        vcov_=V,
        coef_names=collin.keep_names,
        yvar=parsed.yvar,
        xvars=standardize_coef_names(parsed.xvars),
        fe=parsed.fe,
        strategy="compress",
        vcov_type=vcov_type,
        cluster_var=_cluster_label(cluster_var),
        nobs=nobs_comp,
        nobs_orig=nobs_orig,
        df_residual=df_res,
        rss=rss_total,
        tss=tss,
        n_clusters=n_clusters,
        collin_vars=collin.drop_names,
        compression_ratio=compression_ratio,
        compression_ratio_est=compression_ratio_est,
        query_string=sql,
        design_info=design,
        parsed=parsed,
        weight_col=weight_col,
        cells=pdf,
        spark_session=source.df.sparkSession,
        cat_levels=cat_levels,
        fe_coef_names=fe_coef_names,
    )


def _collect_cells_guarded(comp, compress_nmax):
    """Collect the cell table, bounded: returns the pandas frame, or None
    when the result exceeds spark.driver.maxResultSize (caller falls back to
    the distributed-Gram path)."""
    spark = comp.sparkSession
    try:
        mrs = str(spark.conf.get("spark.driver.maxResultSize", "1g")).lower()
    except Exception:
        mrs = "1g"
    if mrs in ("0", "0b"):
        # no driver-side result guard configured: bound rows explicitly
        return comp.limit(compress_nmax + 1).toPandas()
    try:
        return comp.toPandas()
    except Exception as exc:
        if is_result_too_large(exc):
            return None
        raise


def _execute_compress_distributed(
    comp, source, parsed, design, vcov_type, cluster_var, ssc, drop_missings,
    compression_ratio_est, sql, verbose, weight_col=None,
):
    """Compress WLS past the driver-transfer cap: X'WX / X'Wy assembled from
    blocked groupBy aggregates over the (persisted) cell table — the cells
    never reach the driver. See :mod:`dbreg_spark.gram` for the plan shape.
    β / iid / HC1 / CR1 match the driver-WLS path exactly (same blocks, same
    estimator); CR1 scores come from a (cluster × cell) re-aggregation of
    the source and blocked per-cluster score tables, so nothing proportional
    to the cell or cluster count reaches the driver. Multiway CGM runs its
    2^k − 1 subset components as re-aggregations of the ONE persisted finest
    (all cluster vars × cell) table — a single source scan total."""
    from .gram import blocked_cluster_meat, blocked_gram, build_blocks, yhat_frame

    # weighted cells: route the w-weighted sufficient statistics through the
    # SAME blocked machinery by renaming them into the canonical slots —
    # wcol carries Σw (the WLS weight) and sum_y/sum_y_sq the Σw·y / Σw·y²
    # response moments. Raw n rides along for nobs/dof (fixest convention).
    wcol = "n"
    if weight_col is not None:
        comp = (
            comp.drop("sum_y", "sum_y_sq", "mean_y", "wts")
            .withColumnRenamed("sum_wy", "sum_y")
            .withColumnRenamed("sum_wy_sq", "sum_y_sq")
        )
        wcol = "sum_w"
    comp = comp.persist()
    try:
        blocks, col_names, levels = build_blocks(comp, design.names, parsed.fe)
        mom = blocked_gram(comp, blocks, wcol, with_y=True)
        xtx, xty, syy = mom["xtx"], mom["xty"], mom["syy"]
        sum_y = float(xty[0])
        if weight_col is not None:
            probe = comp.agg(
                F.sum("n").alias("__n"), F.min("w_min").alias("__wmin")
            ).collect()[0]
            n_tot = float(probe["__n"])
            bad_sum = not np.isfinite(float(xtx[0, 0]))  # Σw NaN-absorbing
            if bad_sum or (
                probe["__wmin"] is not None
                and not (float(probe["__wmin"]) > 0.0)
            ):
                raise ValueError(
                    f"weights column '{weight_col}' contains non-positive "
                    "or NaN values; weights must be strictly positive"
                )
        else:
            n_tot = float(xtx[0, 0])
        nobs_comp = comp.count()
        compression_ratio = nobs_comp / max(n_tot, 1.0)
        if verbose and compression_ratio > 0.8:
            import warnings

            warnings.warn(
                f"[dbreg] compression ineffective ({100 * compression_ratio:.1f}% "
                "of original rows). Consider strategy='mundlak'."
            )

        collin = detect_collinearity(xtx, xty, col_names)
        sol = solve_with_fallback(collin.xtx, collin.xty)
        p = len(collin.keep_names)
        beta_full = np.zeros(len(col_names))
        beta_full[np.asarray(collin.keep_idx, dtype=int)] = sol.betahat

        scored, yhat = yhat_frame(comp, blocks, beta_full)
        scored = scored.withColumn(
            "__rss_g",
            F.col("sum_y_sq").cast("double")
            - 2.0 * yhat * F.col("sum_y").cast("double")
            + F.col(wcol).cast("double") * yhat * yhat,
        )
        if weight_col is not None and vcov_type == "hc1":
            # per-cell Σw²u² from the w² triplet (scores are w·u·x)
            scored = scored.withColumn(
                "__meat_g",
                F.col("sum_w2y_sq").cast("double")
                - 2.0 * yhat * F.col("sum_w2y").cast("double")
                + F.col("sum_w2").cast("double") * yhat * yhat,
            )
        meat = n_clusters = None
        n_params_cluster = p
        if vcov_type == "hc1":
            mcol = "__meat_g" if weight_col is not None else "__rss_g"
            g = blocked_gram(scored, blocks, mcol)["xtx"]
            meat = g[np.ix_(collin.keep_idx, collin.keep_idx)]
            if weight_col is not None:
                rss_total = float(
                    scored.agg(F.sum("__rss_g")).collect()[0][0]
                )
            else:
                rss_total = float(g[0, 0])
        else:
            rss_total = float(scored.agg(F.sum("__rss_g")).collect()[0][0])
        if vcov_type == "cluster":
            from itertools import combinations

            from .plans.common import filter_missing
            from .plans.exprs import to_spark

            # finest (all cluster vars × cell) re-aggregation of the source;
            # u = Σy − n·ŷ. Every CGM subset component re-aggregates this
            # table (n/Σy are additive) — one source scan total.
            sdf = source.df
            needed = [parsed.yvar] + parsed.xvars + parsed.fe + (
                [weight_col] if weight_col else []
            )
            if drop_missings:
                sdf = filter_missing(sdf, needed)
            aliases = [f"__cl_{i}" for i in range(len(cluster_var))]
            proj = sdf.select(
                *[F.col(c).alias(a) for c, a in zip(cluster_var, aliases)],
                *[
                    to_spark(e).alias(n)
                    for n, e in zip(design.names, design.exprs)
                ],
                *[F.col(f) for f in parsed.fe if f not in design.names],
                F.col(parsed.yvar),
                *([F.col(weight_col)] if weight_col else []),
            )
            cell_cols = [
                c for c in comp.columns
                if c not in (
                    "n", "sum_y", "sum_y_sq", "mean_y", "wts", "sum_w",
                    "sum_wy", "sum_wy_sq", "sum_w2", "sum_w2y",
                    "sum_w2y_sq", "w_min",
                )
            ]
            # weighted: __n_gc/__sy_gc carry Σw / Σw·y so that the score
            # __u = __sy_gc − __n_gc·ŷ is the per-(cluster,cell) WLS score
            if weight_col is not None:
                wcc = F.col(weight_col).cast("double")
                cc_aggs = [
                    F.sum(wcc).alias("__n_gc"),
                    F.sum(wcc * F.col(parsed.yvar).cast("double")).alias(
                        "__sy_gc"
                    ),
                ]
            else:
                cc_aggs = [
                    F.count(F.lit(1)).cast("double").alias("__n_gc"),
                    F.sum(F.col(parsed.yvar).cast("double")).alias("__sy_gc"),
                ]
            cc = proj.groupBy(*aliases, *cell_cols).agg(*cc_aggs)
            if len(cluster_var) > 1:
                cc = cc.persist()

            def comp_meat(sub_aliases):
                cc_S = (
                    cc
                    if len(sub_aliases) == len(aliases)
                    else cc.groupBy(*sub_aliases, *cell_cols).agg(
                        F.sum("__n_gc").alias("__n_gc"),
                        F.sum("__sy_gc").alias("__sy_gc"),
                    )
                )
                scored_cc, yhat_cc = yhat_frame(cc_S, blocks, beta_full)
                scored_cc = scored_cc.withColumn(
                    "__u", F.col("__sy_gc") - F.col("__n_gc") * yhat_cc
                )
                return blocked_cluster_meat(scored_cc, blocks, sub_aliases)

            try:
                comps = []
                for r in range(1, len(aliases) + 1):
                    for S in combinations(range(len(aliases)), r):
                        m, g = comp_meat([aliases[i] for i in S])
                        check_groups(
                            g, "cluster", [cluster_var[i] for i in S], None, None
                        )
                        comps.append((r, m, g))
                meat_full, n_clusters = cgm_combine(comps)
            finally:
                if len(cluster_var) > 1:
                    cc.unpersist()
            meat = meat_full[np.ix_(collin.keep_idx, collin.keep_idx)]
            if ssc == "nested":
                if len(cluster_var) > 1:
                    raise ValueError(
                        "ssc='nested' is not defined for multiway clustering"
                    )
                nested = count_nested_fe_levels(sdf, parsed.fe, cluster_var[0])
                n_params_cluster = p - nested

        df_res = max(n_tot - p, 1)
        # weighted TSS centers on the weighted mean (denominator Σw)
        tss = tss_from_moments(
            syy, sum_y, float(xtx[0, 0]) if weight_col is not None else n_tot
        )
        V = compute_vcov(
            vcov_type, sol.xtx_inv, rss_total, df_res, n_tot, n_params_cluster,
            meat, n_clusters,
        )
        ct = gen_coeftable(sol.betahat, V, df_res, collin.keep_names)
        cat_levels = {v: lv[1:] for v, lv in levels.items()}
        return DbregModel(
            coeftable=ct,
            vcov_=V,
            coef_names=collin.keep_names,
            yvar=parsed.yvar,
            xvars=standardize_coef_names(parsed.xvars),
            fe=parsed.fe,
            strategy="compress",
            vcov_type=vcov_type,
            cluster_var=_cluster_label(cluster_var),
            nobs=nobs_comp,
            nobs_orig=int(n_tot),
            df_residual=df_res,
            rss=rss_total,
            tss=tss,
            n_clusters=n_clusters,
            collin_vars=collin.drop_names,
            compression_ratio=compression_ratio,
            compression_ratio_est=compression_ratio_est,
            query_string=sql,
            design_info=design,
            parsed=parsed,
            weight_col=weight_col,
            cells=None,  # too large to retain; predict(newdata=...) works
            spark_session=comp.sparkSession,
            cat_levels=cat_levels,
            fe_coef_names=frozenset(
                f"{v}{lvl}" for v in parsed.fe for lvl in cat_levels.get(v, [])
            ),
        )
    finally:
        comp.unpersist()


def _compress_cluster_meat(
    source, parsed, design, group_cols, cluster_vars, pdf, cd, collin, betahat, yhat,
    drop_missings, weight_col=None
):
    """Cluster meat for compress (reference: R/dbreg.R:2008-2068), vectorized:
    per-(cluster, cell) summed residuals u = Σy − n·ŷ(cell), score vectors
    S = X'U via the implicit cell design, meat = S S'.

    Multiway (CGM, beyond the reference's 1-cluster cap, utils.R:284-287):
    the FINEST (all cluster vars × cell) table is aggregated in ONE source
    scan; every subset component's score table is a re-aggregation of it
    (n/Σy are additive), so 2^k − 1 components cost one scan + k−1 tiny
    group-bys. Components combine by :func:`plans.meat.cgm_combine`, the
    convention every other path shares.

    The (cluster × cell) table is strictly larger than the cell table, so its
    collect is guarded the same way as the cells (spark.driver.maxResultSize
    aborts cleanly); on overflow the meat is assembled distributively via
    :func:`dbreg_spark.gram.blocked_cluster_meat` — identical estimator,
    only p×p pieces reach the driver."""
    from itertools import combinations

    from .plans.common import filter_missing
    from .plans.exprs import to_spark

    df = source.df
    needed = [parsed.yvar] + parsed.xvars + parsed.fe + (
        [weight_col] if weight_col else []
    )
    if drop_missings:
        df = filter_missing(df, needed)
    aliases = [f"__cl_{i}" for i in range(len(cluster_vars))]
    proj = df.select(
        *[F.col(c).alias(a) for c, a in zip(cluster_vars, aliases)],
        *[to_spark(e).alias(n) for n, e in zip(design.names, design.exprs)],
        *[F.col(f) for f in parsed.fe],
        F.col(parsed.yvar),
        *([F.col(weight_col)] if weight_col else []),
    )
    # weighted: n_gc carries Σw and sum_y_gc carries Σw·y, so the downstream
    # score u = sum_y_gc − n_gc·ŷ IS the per-(cluster,cell) WLS score Σw·u —
    # both aggregates stay additive for the CGM subset re-aggregations
    if weight_col is not None:
        wc = F.col(weight_col).cast("double")
        n_agg = F.sum(wc).alias("n_gc")
        sy_agg = F.sum(wc * F.col(parsed.yvar).cast("double")).alias("sum_y_gc")
    else:
        n_agg = F.count(F.lit(1)).cast("long").alias("n_gc")
        sy_agg = F.sum(F.col(parsed.yvar).cast("double")).alias("sum_y_gc")
    cc_df = proj.groupBy(*aliases, *group_cols).agg(n_agg, sy_agg)
    cc = _toPandas_guarded(cc_df)

    def component(sub_aliases, cc_sub_df=None):
        if cc is not None:
            if len(sub_aliases) == len(aliases):
                cc_S = cc
            else:
                # dropna=False: a NULL cluster key is a real cluster — the
                # Spark-side finest table and the moments path both keep it
                cc_S = cc.groupby(
                    sub_aliases + group_cols, as_index=False, sort=False,
                    dropna=False,
                )[["n_gc", "sum_y_gc"]].sum()
            return _cc_meat_pandas(
                cc_S, sub_aliases, group_cols, pdf, cd, collin, yhat, design, parsed
            )
        return _compress_cluster_meat_blocked(
            cc_sub_df, cd, collin, betahat, sub_aliases
        )

    if cc is None:
        # distributed components share the persisted finest table: one scan
        cc_df = cc_df.persist()
    try:
        comps = []
        for r in range(1, len(aliases) + 1):
            for S in combinations(range(len(aliases)), r):
                sub = [aliases[i] for i in S]
                sub_df = cc_df
                if cc is None and len(aliases) > 1:
                    sub_df = cc_df.groupBy(*sub, *group_cols).agg(
                        F.sum("n_gc").alias("n_gc"),
                        F.sum("sum_y_gc").alias("sum_y_gc"),
                    )
                m, g = component(sub, sub_df)
                check_groups(
                    g, "cluster", [cluster_vars[i] for i in S], None, None
                )
                comps.append((r, m, g))
        return cgm_combine(comps)
    finally:
        if cc is None:
            cc_df.unpersist()


def _cc_meat_pandas(cc, cl_aliases, group_cols, pdf, cd, collin, yhat, design, parsed):
    """Driver-side CR1 meat from a collected (cluster × cell) frame."""
    from .wls import CellDesign

    cell_key = pdf[group_cols].astype(str).agg("\x1f".join, axis=1)
    cc_key = cc[group_cols].astype(str).agg("\x1f".join, axis=1)
    cell_row = pd.Series(np.arange(len(pdf)), index=cell_key)
    rows = cell_row.reindex(cc_key).to_numpy(dtype="int64")
    yhat_cc = yhat[rows]
    u_sum = cc["sum_y_gc"].to_numpy(dtype=float) - cc["n_gc"].to_numpy(dtype=float) * yhat_cc

    # use_na_sentinel=False: a NULL cluster key is a real cluster (code ≥ 0),
    # matching Spark groupBy semantics — the default -1 sentinel would fold
    # those rows into the wrong column of the bincount-backed score matrix
    if len(cl_aliases) == 1:
        cidx, clusters = pd.factorize(cc[cl_aliases[0]], use_na_sentinel=False)
    else:
        cidx, clusters = pd.factorize(
            pd.Series(list(zip(*[cc[a] for a in cl_aliases]))),
            use_na_sentinel=False,
        )
    # evaluate the design on the cluster-cell rows and form S = X'U directly
    cd_cc = CellDesign(cc, design.names, parsed.fe)
    S_full = cd_cc.cross_gram_cat(u_sum, cidx, len(clusters))
    # align cc design columns with the cell design's kept columns
    pos = {n: i for i, n in enumerate(cd_cc.col_names)}
    S = np.zeros((len(collin.keep_names), len(clusters)))
    for r, name in enumerate(collin.keep_names):
        if name in pos:
            S[r] = S_full[pos[name]]
    meat = S @ S.T
    return meat, len(clusters)


def _toPandas_guarded(df):
    """Arrow collect with spark.driver.maxResultSize as the memory guard:
    returns the pandas frame, or None when the result exceeds the cap
    (caller falls back to a distributed assembly)."""
    try:
        return df.toPandas()
    except Exception as exc:
        if is_result_too_large(exc):
            return None
        raise


def _compress_cluster_meat_blocked(cc_df, cd, collin, betahat, cluster_cols):
    """Distributed twin of the driver cluster-meat path: the (cluster ×
    cell) frame never reaches the driver. GramBlocks are lifted 1:1 from
    the already-built CellDesign (same column order, same drop-first level
    sets), ŷ is literal-β column math + broadcast level lookups
    (gram.py:yhat_frame), and Σ_g s_g s_gᵀ comes from blocked per-cluster
    score tables (gram.py:blocked_cluster_meat)."""
    from .gram import GramBlock, blocked_cluster_meat, yhat_frame

    gblocks, off = [], 0
    for b in cd.blocks:
        gb = GramBlock(b.kind, b.var, list(b.levels) if b.kind == "cat" else None)
        gb.offset = off
        off += gb.ncols
        gblocks.append(gb)
    beta_full = np.zeros(cd.p)
    beta_full[np.asarray(collin.keep_idx, dtype=int)] = betahat
    scored_cc, yhat_col = yhat_frame(cc_df, gblocks, beta_full)
    scored_cc = scored_cc.withColumn(
        "__u",
        F.col("sum_y_gc").cast("double") - F.col("n_gc").cast("double") * yhat_col,
    )
    meat_full, n_clusters = blocked_cluster_meat(scored_cc, gblocks, cluster_cols)
    keep = np.asarray(collin.keep_idx, dtype=int)
    return meat_full[np.ix_(keep, keep)], n_clusters


# --------------------------------------------------------------------------
# lazy plan builder (used by the driver-contract query inventory): returns
# the one-row/one-table aggregation DataFrame *unexecuted* plus its oracle SQL
# --------------------------------------------------------------------------


def build_plan(
    fml: str,
    data=None,
    *,
    spark: SparkSession | None = None,
    table: str | None = None,
    path: str | None = None,
    strategy: str = "moments",
    drop_missings: bool = True,
    broadcast_means: bool = True,
    weights: str | None = None,
):
    """Build (agg_df, oracle_sql) for a strategy's main aggregation without
    executing it (demean and mundlak first collect their group means, which
    ride in the plan). ``strategy`` in {moments, demean, mundlak, compress,
    group_means}. ``weights`` emits the WLS variant of the plan."""
    from .plans.exprs import agg_frame

    parsed = parse_formula(fml)
    weight_col = parse_weights(weights)
    if spark is None and isinstance(data, DataFrame):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)

    if strategy == "compress":
        design = build_design(source.df, parsed, expand="interactions", fe_vars=parsed.fe)
        comp, _, sql = compress_plan(
            source, parsed, design, drop_missings, weight_col
        )
        return comp, sql

    design = build_design(source.df, parsed, expand="all", fe_vars=parsed.fe)
    base = build_base_frame(
        source, parsed, design, drop_missings,
        want_sql=source.sql_from is not None, weight_col=weight_col,
    )
    if strategy == "moments":
        # mirror _execute_moments: the formula's intercept flag rules
        frame, intercept, n_fe = base, parsed.intercept, []
    elif strategy == "demean":
        # k>2 (or any weighted k≥2): fixed-sweep iterated demeaning so the
        # plan (and its SQL mirror) is deterministic — pins the transform
        use_iter = len(parsed.fe) > 2 or (
            weight_col is not None and len(parsed.fe) >= 2
        )
        frame, intercept, n_fe = (
            build_demeaned_frame_iterative(
                base, parsed.fe, broadcast_means, sweeps=2,
                weight_col=weight_col,
            )
            if use_iter
            else build_demeaned_frame(
                base, parsed.fe, broadcast_means, weight_col=weight_col,
                cache_means=False,
            ),
            False,
            [Var(f) for f in parsed.fe],
        )
    elif strategy == "mundlak":
        frame, intercept, n_fe = (
            build_mundlak_frame(
                base, parsed.fe, design.numeric_vars, broadcast_means,
                weight_col=weight_col, cache_means=False,
            ),
            True,
            [Var(f) for f in parsed.fe[:2]],
        )
    elif strategy == "group_means":
        # per-FE group means table (A3/A4): fe level + mean of y and xs
        fe1 = parsed.fe[0]
        vals = [base.y_col] + base.x_cols
        gm = base.df.groupBy(fe1).agg(
            *[F.avg(c).alias(f"{c}_mean") for c in vals]
        )
        sql = None
        if base.sql_cte:
            mean_cols = ", ".join(f"AVG({c}) AS {c}_mean" for c in vals)
            sql = (
                f"{base.sql_cte}\nSELECT {fe1}, {mean_cols} FROM {base.cte_name} "
                f"GROUP BY {fe1}"
            )
        return gm, sql
    else:
        raise ValueError(f"unknown plan strategy {strategy!r}")

    spec = moment_spec(
        Var(frame.y_col),
        [Var(n) for n in frame.x_cols],
        intercept=intercept,
        n_fe_exprs=n_fe,
        weight=Var(weight_col) if weight_col else None,
    )
    agg_df = agg_frame(frame.df, spec)
    sql = None
    if frame.sql_cte:
        sql = (
            f"{frame.sql_cte},\nmoments AS (\n  SELECT {agg_select_sql(spec)}"
            f"\n  FROM {frame.cte_name}\n)\nSELECT * FROM moments"
        )
    return agg_df, sql


def build_meat_plan(
    fml: str,
    *,
    spark: SparkSession,
    table: str,
    beta: list[float],
    kind: str = "hc1",
    cluster: str | list[str] | None = None,
    drop_missings: bool = True,
):
    """Lazy second-pass plan with a FIXED beta vector (deterministic across
    scale factors — exercises the meat/score aggregation shape). ``cluster``
    may be a list for the multiway-CGM interaction score pass."""
    import numpy as np

    from .plans.meat import cluster_scores_plan, hc1_meat_plan

    parsed = parse_formula(fml)
    source = resolve_source(spark=spark, table=table)
    design = build_design(source.df, parsed, expand="all", fe_vars=parsed.fe)
    ccols = [cluster] if isinstance(cluster, str) else cluster
    base = build_base_frame(
        source,
        parsed,
        design,
        drop_missings,
        extra_cols=ccols,
        want_sql=True,
    )
    b = np.asarray(beta, dtype=float)
    if kind == "hc1":
        _, agg_df, sql = hc1_meat_plan(base, b, base.x_cols, intercept=True)
        return agg_df, sql
    scores, sql = cluster_scores_plan(base, b, base.x_cols, True, cluster)
    return scores, sql


# --------------------------------------------------------------------------
# public design-matrix compiler (reference: R/sql_model_matrix.R:34-68)
# --------------------------------------------------------------------------


def sql_model_matrix(
    fml: str,
    data=None,
    *,
    spark: SparkSession | None = None,
    table: str | None = None,
    path: str | None = None,
    expand: str = "all",
    fe_vars: list[str] | None = None,
) -> dict:
    """Compile an R-style formula into SQL design-matrix expressions.

    Accepts one-sided (``~ x1 + x2*x3``) or two-sided formulas and returns
    ``{"select_exprs": [...], "col_names": [...], "factor_levels": {...}}``
    — the same contract as the reference's exported ``sql_model_matrix()``.
    ``expand="all"`` one-hot-expands factors (reference level dropped per
    R-contrasts rules); ``expand="interactions"`` expands only interaction
    terms, leaving factor main effects as raw columns.
    """
    if expand not in ("all", "interactions"):
        raise ValueError("expand must be 'all' or 'interactions'")
    if spark is None and isinstance(data, DataFrame):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)
    parsed = parse_formula(fml)
    design = build_design(source.df, parsed, expand=expand, fe_vars=fe_vars or parsed.fe)
    from .plans.exprs import to_sql

    return {
        "select_exprs": [to_sql(e) for e in design.exprs],
        "col_names": list(design.names),
        "factor_levels": dict(design.factor_levels),
    }
