"""Split-sample estimation — fixest's ``split=``: one regression per level
of a splitting variable, ALL levels estimated from ONE grouped moment scan.

The naive approach (loop ``dbreg`` over ``df.where(split == level)``) scans
the data once per level — G full passes. Here the per-level sufficient
statistics come from a single ``groupBy(split)`` aggregation (map-side
combined, the shuffle carries G moment rows of O(p²) doubles), the driver
solves G tiny normal-equation systems, and robust/clustered sandwiches add
at most ONE more grouped pass (the per-level β̂ vector rides a broadcast
(level → β) lookup into the residual expression). Total full-data passes:
1 (iid) or 2 (HC1/cluster) — independent of G.

Supported: strategies "moments" (no FE), "demean" (1-2 FEs absorbed within
each split level — group means over (split × fe); the 2-FE case is the
same balanced-panel double-demean identity as ``dbreg(strategy='demean')``
and shares its unbalanced-panel caveat), "compress" (split joins the cell
key; per-level WLS on the collected cells); vcov iid / hc1 / cluster
(1-3 way, CGM inclusion-exclusion from ONE finest-key score pass) /
Driscoll-Kraay (``"dk ~ t"``, per-level NW weighting of the same score
rows); observation ``weights=``. Auto picks demean when FEs are present,
else moments.

No reference counterpart (the reference has no split); semantics follow
fixest: each level is its own regression, as if the data were filtered.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .design import build_design, standardize_coef_names
from .formula import parse_formula, parse_vcov, parse_weights
from .model import DbregModel
from .plans.common import (
    assemble_normal_eqs,
    moment_spec,
    resolve_source,
)
from .plans.exprs import Cast, Lit, Var, agg_to_spark, agg_to_sql
from .plans.frames import _wmean_col, build_base_frame
from .plans.levels import with_levels
from .plans.meat import MEAT_KIND, ScoreBlock, fe_leverage, quad_form, sandwich_meat
from .solve import (
    compute_vcov,
    detect_collinearity,
    gen_coeftable,
    rss_from_moments,
    solve_with_fallback,
    tss_from_moments,
)

SPLIT_NMAX = 10_000  # max split levels collected to the driver


class DbregSplit(dict):
    """``{split_level: DbregModel}`` with a stacked ``tidy()`` view."""

    split_var: str = ""

    def tidy(self) -> pd.DataFrame:
        frames = []
        for lvl, m in self.items():
            t = m.tidy().copy()
            t.insert(0, self.split_var or "split", lvl)
            frames.append(t)
        return pd.concat(frames, ignore_index=True)

    def coef_table(self) -> pd.DataFrame:
        """(level × coefficient) estimate matrix."""
        return pd.DataFrame(
            {lvl: m.coef() for lvl, m in self.items()}
        ).T.sort_index()


def dbreg_split(
    fml: str,
    data=None,
    *,
    split: str,
    spark: SparkSession | None = None,
    table: str | None = None,
    path: str | None = None,
    vcov="iid",
    cluster=None,
    weights: str | None = None,
    hac_lag: int | None = None,
    strategy: str = "auto",
    drop_missings: bool = True,
    verbose: bool = False,
    split_nmax: int = SPLIT_NMAX,
    include_full: bool = False,
    conley_cutoff: float | None = None,
    conley_kernel: str = "uniform",
    conley_distance: str = "haversine",
) -> DbregSplit:
    """Fit ``fml`` separately for every level of ``split`` — see module
    docstring for the pass-count contract. NULL split values form their own
    level (matching groupBy semantics); levels beyond ``split_nmax`` raise.

    ``include_full=True`` (fixest's ``fsplit``) adds the full-sample fit
    under the key ``"(full)"`` — one extra :func:`dbreg` call with the same
    strategy/vcov/weights (its own pass; per-level demeaning cannot share a
    frame with full-sample demeaning).
    """
    # parse_vcov caps clustering at 3 variables (CGM subsets grow as 2^k)
    vcov_type, cluster_vars = parse_vcov(
        vcov, cluster, valid=("iid", "hc1", "hc2", "hc3")
    )
    conley_opts = None
    if vcov_type in ("hc2", "hc3"):
        # batched leverage: each level's kept inverse-Gram rides a second
        # broadcast (level -> Minv upper triangle) table next to the beta
        # table; one grouped pass returns every level's corrected meat
        if strategy == "compress":
            raise NotImplementedError(
                f"vcov={vcov_type!r} needs row-level leverage; use "
                "strategy moments/demean"
            )
    if vcov_type == "conley":
        # batched: every level's spatial meat rides ONE exploded cell join
        # (the level joins the cell key — see plans/conley.py:
        # conley_pair_agg_batched); per-level betas enter as a broadcast
        # (level -> beta) table exactly like _level_meats
        if conley_cutoff is None:
            raise ValueError(
                "vcov='conley ~ lat + lon' needs conley_cutoff= (km for "
                "distance='haversine', coordinate units for 'euclidean')"
            )
        if strategy == "compress":
            raise NotImplementedError(
                "conley vcov needs row-level scores; use strategy "
                "moments/demean (cells drop the coordinates)"
            )
        conley_opts = (conley_cutoff, conley_kernel, conley_distance)
    weight_col = parse_weights(weights)
    parsed = parse_formula(fml)
    if parsed.yvar is None:
        raise ValueError("Formula needs an outcome variable.")
    if spark is None and isinstance(data, DataFrame):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)
    if split in parsed.fe or split == parsed.yvar:
        raise ValueError(
            f"split variable {split!r} cannot also be the outcome or a "
            "fixed effect"
        )

    valid = ("auto", "moments", "demean", "compress")
    if strategy not in valid:
        raise ValueError(
            f"split= supports strategy in {valid[1:]} (or 'auto'); "
            f"got {strategy!r}"
        )
    if strategy == "auto":
        strategy = "demean" if parsed.fe else "moments"
    if strategy == "moments" and parsed.fe:
        raise ValueError("moments strategy cannot absorb fixed effects")
    if strategy == "demean" and not parsed.fe:
        raise ValueError("demean strategy requires at least one fixed effect")
    if strategy == "demean" and len(parsed.fe) > 2:
        raise NotImplementedError(
            "split= absorbs at most 2 FEs (per-level double demeaning); "
            "for k>2 filter per level and use dbreg(strategy='demean_iter')"
        )
    if vcov_type in ("hc2", "hc3") and len(parsed.fe) > 1:
        raise NotImplementedError(
            f"vcov={vcov_type!r} absorbs at most ONE fixed effect (the "
            "k-FE LSDV leverage has no closed per-row decomposition)"
        )

    if vcov_type == "cr3":
        if parsed.fe or strategy not in ("auto", "moments"):
            raise NotImplementedError(
                "split= with vcov='cr3 ~ g' supports strategy='moments' "
                "(no absorbed FEs); fit levels separately with dbreg for "
                "the nested-FE CV3"
            )
        strategy = "moments"
    if strategy == "compress" and vcov_type == "dk":
        raise NotImplementedError(
            "split= with strategy='compress' does not support Driscoll-"
            "Kraay; use moments/demean"
        )
    if strategy == "compress":
        out = _split_compress(
            source, parsed, split, vcov_type, cluster_vars, weight_col,
            drop_missings, split_nmax, verbose,
        )
        out.split_var = split
        if include_full:
            out["(full)"] = _full_fit(
                source, parsed, strategy, vcov, cluster, weights,
                drop_missings,
            )
        return out

    design = build_design(source.df, parsed, expand="all", fe_vars=parsed.fe)
    extra = [split] + (cluster_vars or [])
    base = build_base_frame(
        source,
        parsed,
        design,
        drop_missings,
        extra_cols=extra,
        want_sql=False,
        weight_col=weight_col,
    )

    fe = parsed.fe
    intercept = strategy == "moments"
    frame_df = base.df
    fe_counts = None
    cached = None
    if strategy == "demean":
        frame_df, fe_counts, cached = _demean_within_split(
            base, split, fe, weight_col
        )

    try:
        models = _grouped_fit(
            frame_df, base, split, intercept, fe, fe_counts, vcov_type,
            cluster_vars, weight_col, split_nmax, parsed, design, strategy,
            hac_lag=hac_lag, conley_opts=conley_opts,
        )
    finally:
        if cached is not None:
            cached.unpersist()
    out = DbregSplit(models)
    out.split_var = split
    if include_full:
        out["(full)"] = _full_fit(
            source, parsed, strategy, vcov, cluster, weights, drop_missings,
            hac_lag=hac_lag, conley_opts=conley_opts,
        )
    return out


def _full_fit(
    source, parsed, strategy, vcov, cluster, weights, drop_missings,
    hac_lag=None, conley_opts=None,
):
    from .api import dbreg

    fml = f"{parsed.yvar} ~ " + " + ".join(
        ":".join(t.vars) for t in parsed.terms
    )
    if not parsed.intercept:
        fml += " + 0"
    if parsed.fe:
        fml += " | " + " + ".join(parsed.fe)
    ck = {}
    if conley_opts is not None:
        ck = dict(
            conley_cutoff=conley_opts[0],
            conley_kernel=conley_opts[1],
            conley_distance=conley_opts[2],
        )
    return dbreg(
        fml, data=source.df, vcov=vcov, cluster=cluster, weights=weights,
        hac_lag=hac_lag, strategy=strategy, drop_missings=drop_missings,
        **ck,
    )


def _demean_within_split(base, split, fe, weight_col):
    """Demean y/X within (split × fe) cells: per-level FWL with the same
    broadcast-means shape as the global demean path. Returns (demeaned_df,
    per-split FE-level counts, the cached means table to release)."""
    vals = [base.y_col] + base.x_cols

    def mean_agg(c, alias):
        if weight_col is not None:
            return _wmean_col(c, weight_col).alias(alias)
        return F.avg(c).alias(alias)

    # key_cols = fe + split + cluster (+ weight): cluster keys must survive
    # the demeaning projection for the grouped score pass
    keep = list(base.key_cols)
    df = base.df
    if len(fe) == 1:
        fe1 = fe[0]
        mg = df.groupBy(
            F.col(split).alias("__s1"), F.col(fe1).alias("__f1")
        ).agg(*[mean_agg(c, f"{c}__m1") for c in vals]).persist()
        counts = {
            r["__s1"]: {"n_fe1": int(r["cnt"]), "n_fe2": 1}
            for r in mg.groupBy("__s1").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        # null-safe on the split side: a NULL level keeps its rows
        dm = df.join(
            F.broadcast(mg),
            on=F.col(split).eqNullSafe(F.col("__s1"))
            & (F.col(fe1) == F.col("__f1")),
        ).select(
            *keep,
            *[(F.col(c) - F.col(f"{c}__m1")).alias(c) for c in vals],
        )
        return dm, counts, mg

    fe1, fe2 = fe
    m1 = df.groupBy(
        F.col(split).alias("__s1"), F.col(fe1).alias("__f1")
    ).agg(*[mean_agg(c, f"{c}__m1") for c in vals]).persist()
    m2 = df.groupBy(
        F.col(split).alias("__s2"), F.col(fe2).alias("__f2")
    ).agg(*[mean_agg(c, f"{c}__m2") for c in vals]).persist()
    mo = df.groupBy(F.col(split).alias("__s3")).agg(
        *[mean_agg(c, f"{c}__mo") for c in vals]
    ).persist()
    c1 = {
        r["__s1"]: int(r["cnt"])
        for r in m1.groupBy("__s1").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    c2 = {
        r["__s2"]: int(r["cnt"])
        for r in m2.groupBy("__s2").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    counts = {
        k: {"n_fe1": c1.get(k, 1), "n_fe2": c2.get(k, 1)} for k in c1
    }
    dm = (
        df.join(
            F.broadcast(m1),
            on=F.col(split).eqNullSafe(F.col("__s1"))
            & (F.col(fe1) == F.col("__f1")),
        )
        .join(
            F.broadcast(m2),
            on=F.col(split).eqNullSafe(F.col("__s2"))
            & (F.col(fe2) == F.col("__f2")),
        )
        .join(F.broadcast(mo), on=F.col(split).eqNullSafe(F.col("__s3")))
        .select(
            *keep,
            *[
                (
                    F.col(c)
                    - F.col(f"{c}__m1")
                    - F.col(f"{c}__m2")
                    + F.col(f"{c}__mo")
                ).alias(c)
                for c in vals
            ],
        )
    )

    class _Multi:
        def __init__(self, frames):
            self.frames = frames

        def unpersist(self):
            for f in self.frames:
                f.unpersist()

    return dm, counts, _Multi([m1, m2, mo])


def _grouped_fit(
    frame_df, base, split, intercept, fe, fe_counts, vcov_type, cluster_vars,
    weight_col, split_nmax, parsed, design, strategy, hac_lag=None,
    conley_opts=None,
):
    x_cols = base.x_cols
    spec = moment_spec(
        Var(base.y_col),
        [Var(n) for n in x_cols],
        intercept=intercept,
        weight=Var(weight_col) if weight_col else None,
    )
    rows = (
        frame_df.groupBy(split)
        .agg(*[agg_to_spark(a).alias(n) for n, a in spec])
        .limit(split_nmax + 1)
        .collect()
    )
    if len(rows) > split_nmax:
        raise ValueError(
            f"split variable {split!r} has more than {split_nmax:,} levels; "
            "raise split_nmax or choose a coarser split"
        )

    names_all = ([f"(Intercept)"] if intercept else []) + [
        standardize_coef_names(n) for n in x_cols
    ]
    sols = {}
    for r in rows:
        row = r.asDict()
        lvl = row.pop(split)
        if weight_col is not None:
            w_min, sum_w = row.get("w_min"), row.get("sum_w")
            bad = (sum_w is not None and not np.isfinite(float(sum_w))) or (
                w_min is not None and not (float(w_min) > 0.0)
            )
            if bad:
                raise ValueError(
                    f"weights column '{weight_col}' contains non-positive "
                    f"or NaN values in split level {lvl!r}"
                )
        xtx, xty, n_total, sum_y, sum_y_sq = assemble_normal_eqs(
            row, len(x_cols), intercept=intercept
        )
        collin = detect_collinearity(xtx, xty, names_all)
        sol = solve_with_fallback(collin.xtx, collin.xty)
        rss = rss_from_moments(sum_y_sq, sol.betahat, collin.xtx, collin.xty)
        if intercept:
            tss_n = float(row["sum_w"]) if weight_col else n_total
            tss = tss_from_moments(sum_y_sq, sum_y, tss_n)
        else:
            tss = sum_y_sq
        sols[lvl] = dict(
            row=row, collin=collin, sol=sol, rss=rss, tss=tss,
            n_total=n_total,
        )

    meats = {}
    n_clusters = {}
    if vcov_type in MEAT_KIND and sols:
        meats, n_clusters = _level_meats(
            frame_df, split, base.y_col, x_cols, intercept, sols, vcov_type,
            cluster_vars, weight_col, fe, hac_lag, conley_opts,
        )
    cr3_V: dict = {}
    if vcov_type == "cr3" and sols:
        cr3_V, n_clusters = _split_cr3(
            frame_df, split, base.y_col, x_cols, intercept, sols,
            cluster_vars[0], weight_col,
        )

    models = DbregSplit()
    for lvl, s in sols.items():
        collin, sol = s["collin"], s["sol"]
        p = len(collin.keep_names)
        n_total = s["n_total"]
        if strategy == "demean":
            cs = (fe_counts or {}).get(lvl, {"n_fe1": 1, "n_fe2": 1})
            df_fe = cs["n_fe1"] + (cs["n_fe2"] - 1 if len(fe) == 2 else 0)
        else:
            cs = {"n_fe1": 1, "n_fe2": 1}
            df_fe = 0
        df_res = max(n_total - p - df_fe, 1)
        nc = n_clusters.get(lvl)
        if vcov_type == "cr3":
            V = cr3_V[lvl]
        else:
            V = compute_vcov(
                vcov_type, sol.xtx_inv, s["rss"], df_res, n_total, p + df_fe,
                meats.get(lvl), nc,
            )
        ct = gen_coeftable(sol.betahat, V, df_res, collin.keep_names)
        models[lvl] = DbregModel(
            coeftable=ct,
            vcov_=V,
            coef_names=collin.keep_names,
            yvar=parsed.yvar,
            xvars=standardize_coef_names(parsed.xvars),
            fe=fe,
            strategy=strategy,
            vcov_type=vcov_type,
            cluster_var="+".join(cluster_vars) if cluster_vars else None,
            nobs=1,
            nobs_orig=int(n_total),
            df_residual=df_res,
            rss=s["rss"],
            tss=s["tss"],
            n_fe1=cs["n_fe1"],
            n_fe2=cs["n_fe2"],
            n_clusters=nc,
            collin_vars=collin.drop_names,
            design_info=design,
            parsed=parsed,
            intercept=intercept,
            weight_col=weight_col,
        )
    return models


def _split_cr3(
    frame_df, split, y_col, x_cols, intercept, sols, cluster, weight_col
):
    """Per-level CV3 cluster jackknife from ONE grouped pass keyed
    (level, cluster): each level's leave-one-cluster-out estimates are
    Gram-block subtractions in that level's full-sample kept layout —
    the split twin of boot.cr3_vcov."""
    import pyspark.sql.functions as F

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
    aggs = [F.sum(w).alias("n_g")]
    for i in range(p_all):
        for k2 in range(i, p_all):
            aggs.append(F.sum(w * cols[i] * cols[k2]).alias(f"a_{i}_{k2}"))
    for i in range(p_all):
        aggs.append(F.sum(w * cols[i] * y).alias(f"b_{i}"))
    cap = 2_000_000
    rows = (
        frame_df.groupBy(split, cluster).agg(*aggs).limit(cap + 1).collect()
    )
    if len(rows) > cap:
        raise ValueError(
            f"split x cluster Gram table exceeds {cap:,} rows; use a "
            "coarser split or cluster variable (or fit levels separately)"
        )
    per_level: dict = {}
    for r in rows:
        A_g = np.zeros((p_all, p_all))
        b_g = np.zeros(p_all)
        for i in range(p_all):
            b_g[i] = float(r[f"b_{i}"] or 0.0)
            for k2 in range(i, p_all):
                v = float(r[f"a_{i}_{k2}"] or 0.0)
                A_g[i, k2] = A_g[k2, i] = v
        per_level.setdefault(r[split], []).append((r[cluster], A_g, b_g))
    Vs: dict = {}
    ncl: dict = {}
    for lvl, blocks in per_level.items():
        if len(blocks) < 2:
            raise ValueError(
                f"cr3 needs >= 2 clusters within each split level; "
                f"{cluster!r} has {len(blocks)} in level {lvl!r}"
            )
        collin, sol = sols[lvl]["collin"], sols[lvl]["sol"]
        keep = np.asarray(collin.keep_idx, dtype=int)
        A = np.sum([bl[1] for bl in blocks], axis=0)[np.ix_(keep, keep)]
        b = np.sum([bl[2] for bl in blocks], axis=0)[keep]
        G = len(blocks)
        devs = np.zeros((G, len(keep)))
        for gi, (gkey, A_g, b_g) in enumerate(blocks):
            try:
                devs[gi] = (
                    np.linalg.solve(
                        A - A_g[np.ix_(keep, keep)], b - b_g[keep]
                    )
                    - sol.betahat
                )
            except np.linalg.LinAlgError:
                raise ValueError(
                    f"cr3: leaving out cluster {gkey!r} in level {lvl!r} "
                    "makes the design singular; use '~cluster' CR1"
                ) from None
        Vs[lvl] = ((G - 1) / G) * (devs.T @ devs)
        ncl[lvl] = G
    return Vs, ncl


def _level_meats(
    frame_df, split, y_col, x_cols, intercept, sols, vcov_type, cluster_vars,
    weight_col, fe, hac_lag=None, conley_opts=None,
):
    """Every level's meat from ONE sandwich-kernel call with ``by=split``:
    the per-level β̂ rides a (level → β) lookup into the score w·(y − x'β̂),
    and for HC2/HC3 the per-level kept inverse Gram rides a second one into
    the leverage (plus the exact one-FE term w/W_(level,g)). Both are plan
    literals up to the inline cap (plans/levels.py).
    Dropped-by-collinearity columns carry 0, which leaves fitted values
    and leverages unchanged; each level's meat is then sliced to its kept
    coefficient layout. Returns (meats, n_clusters) keyed by level."""
    p = (1 if intercept else 0) + len(x_cols)
    hck = vcov_type in ("hc2", "hc3")
    tri = [(a, b) for a in range(p) for b in range(a, p)]
    betas, minvs = [], []
    for sl in sols.values():
        keep = np.asarray(sl["collin"].keep_idx, dtype=int)
        full = np.zeros(p)
        full[keep] = sl["sol"].betahat
        betas.append(full)
        if hck:
            M = np.zeros((p, p))
            M[np.ix_(keep, keep)] = sl["sol"].xtx_inv
            minvs.append([M[ab] for ab in tri])

    def join(df, prefix, table):
        # null-safe: a NULL split value is a real level and must match
        table = np.asarray(table, dtype=float).reshape(len(sols), -1)
        return with_levels(
            df, split, list(sols),
            {f"{prefix}{i}": table[:, i] for i in range(table.shape[1])},
            null_safe=True,
        )

    j = join(frame_df, "__b", betas)
    off = 1 if intercept else 0
    fitted = Var("__b0") if intercept else Lit(0.0)
    for i, xc in enumerate(x_cols):
        fitted = fitted + Var(f"__b{off + i}") * Cast(Var(xc), "double")
    score = Cast(Var(y_col), "double") - fitted
    w = Cast(Var(weight_col), "double") if weight_col is not None else None
    if w is not None:
        score = w * score
    block = ScoreBlock(score, tuple(x_cols), intercept)
    if hck:
        j = join(j, "__q", minvs)
        h = quad_form(block.cols, lambda a, b: Var(f"__q{tri.index((a, b))}"))
        if w is not None:
            h = w * h
        if fe:
            j, h_fe = fe_leverage(j, fe[0], weight_col, by=split)
            h = h + h_fe
        block = ScoreBlock(score, block.x, intercept, h, 2 if vcov_type == "hc3" else 1)
    res = sandwich_meat(
        j, [block], MEAT_KIND[vcov_type], cluster_vars or (), by=split,
        lag=hac_lag, conley=conley_opts,
    )
    meats = {}
    for lvl, (meat,) in res.meats.items():
        keep = np.asarray(sols[lvl]["collin"].keep_idx, dtype=int)
        meats[lvl] = meat[np.ix_(keep, keep)]
    return meats, res.g


def _split_compress(
    source, parsed, split, vcov_type, cluster_vars, weight_col,
    drop_missings, split_nmax, verbose,
):
    """Compress with ``split`` joined into the cell key: ONE cell pass, then
    per-level driver WLS slices of the collected cells."""
    from .api import _collect_cells_guarded, compress_plan
    from .wls import CellDesign

    if vcov_type == "cluster":
        raise NotImplementedError(
            "split= with strategy='compress' supports iid/hc1; use "
            "strategy='moments'/'demean' for clustered split fits"
        )
    design = build_design(
        source.df, parsed, expand="interactions", fe_vars=parsed.fe
    )
    split_parsed = type(parsed)(
        yvar=parsed.yvar,
        terms=parsed.terms,
        fe=parsed.fe + [split],
        intercept=parsed.intercept,
    )
    comp, group_cols, _sql = compress_plan(
        source, split_parsed, design, drop_missings, weight_col
    )
    pdf = _collect_cells_guarded(comp, 10_000_000)
    if pdf is None:
        raise ValueError(
            "split compress cells exceed the driver cap; use "
            "strategy='moments' or 'demean' (fully grouped passes)"
        )
    models = DbregSplit()
    models.split_var = split
    levels = pdf[split].unique()
    if len(levels) > split_nmax:
        raise ValueError(
            f"split variable {split!r} has more than {split_nmax:,} levels"
        )
    for lvl in levels:
        sub = pdf[pdf[split].isna()] if pd.isna(lvl) else pdf[pdf[split] == lvl]
        sub = sub.reset_index(drop=True)
        cd = CellDesign(sub, design.names, parsed.fe)
        # predict()/coef(fe=)/wald() need the FE-dummy bookkeeping the
        # single-model compress path records (model.py relies on both)
        cat_levels = {b.var: list(b.levels) for b in cd.blocks if b.kind == "cat"}
        fe_coef_names = frozenset(
            f"{v}{lv}" for v in parsed.fe for lv in cat_levels.get(v, [])
        )
        if weight_col is not None:
            if not (sub["w_min"].to_numpy(dtype=float).min() > 0.0) or not (
                np.isfinite(sub["sum_w"].to_numpy(dtype=float)).all()
            ):
                raise ValueError(
                    f"weights column '{weight_col}' contains non-positive "
                    f"or NaN values in split level {lvl!r}"
                )
            n_vec = sub["sum_w"].to_numpy(dtype=float)
            sum_y = sub["sum_wy"].to_numpy(dtype=float)
            sum_y_sq = sub["sum_wy_sq"].to_numpy(dtype=float)
        else:
            n_vec = sub["n"].to_numpy(dtype=float)
            sum_y = sub["sum_y"].to_numpy(dtype=float)
            sum_y_sq = sub["sum_y_sq"].to_numpy(dtype=float)
        nobs_orig = int(sub["n"].sum())
        xtx = cd.gram(n_vec)
        xty = cd.weighted_col_sums(sum_y)
        collin = detect_collinearity(xtx, xty, cd.col_names)
        sol = solve_with_fallback(collin.xtx, collin.xty)
        yhat = cd.matvec(sol.betahat, collin.keep_idx)
        rss_g = sum_y_sq - 2.0 * yhat * sum_y + n_vec * yhat**2
        rss = float(rss_g.sum())
        p = len(collin.keep_names)
        df_res = max(nobs_orig - p, 1)
        tss = float(sum_y_sq.sum() - (sum_y.sum() ** 2) / n_vec.sum())
        meat = None
        if vcov_type == "hc1":
            if weight_col is not None:
                w2 = sub["sum_w2"].to_numpy(dtype=float)
                w2y = sub["sum_w2y"].to_numpy(dtype=float)
                w2yy = sub["sum_w2y_sq"].to_numpy(dtype=float)
                meat_g = w2yy - 2.0 * yhat * w2y + w2 * yhat**2
            else:
                meat_g = rss_g
            meat = cd.gram(meat_g)[np.ix_(collin.keep_idx, collin.keep_idx)]
        V = compute_vcov(vcov_type, sol.xtx_inv, rss, df_res, nobs_orig, p, meat)
        ct = gen_coeftable(sol.betahat, V, df_res, collin.keep_names)
        models[lvl] = DbregModel(
            coeftable=ct,
            vcov_=V,
            coef_names=collin.keep_names,
            yvar=parsed.yvar,
            xvars=standardize_coef_names(parsed.xvars),
            fe=parsed.fe,
            strategy="compress",
            vcov_type=vcov_type,
            cluster_var=None,
            nobs=len(sub),
            nobs_orig=nobs_orig,
            df_residual=df_res,
            rss=rss,
            tss=tss,
            collin_vars=collin.drop_names,
            design_info=design,
            parsed=parsed,
            weight_col=weight_col,
            cells=sub,
            spark_session=source.df.sparkSession,
            cat_levels=cat_levels,
            fe_coef_names=fe_coef_names,
        )
    return models


def split_moments_sql(
    fml: str,
    split: str,
    from_clause: str = "FROM lineitem",
    weights: str | None = None,
) -> str:
    """Oracle SQL for the grouped moment pass (moments strategy): one
    GROUP BY over the split variable with the standard moment sums."""
    parsed = parse_formula(fml)
    weight_col = parse_weights(weights)
    spec = moment_spec(
        Var(parsed.yvar),
        [Var(v) for v in parsed.xvars],
        intercept=True,
        weight=Var(weight_col) if weight_col else None,
    )
    cols = ",\n  ".join(f"{agg_to_sql(a)} AS {n}" for n, a in spec)
    needed = [parsed.yvar] + parsed.xvars + (
        [weight_col] if weight_col else []
    )
    where = " AND ".join(f"{c} IS NOT NULL" for c in needed)
    return (
        f"SELECT {split},\n  {cols}\n{from_clause}\n"
        f"WHERE {where}\nGROUP BY {split}"
    )


# --------------------------------------------------------------------------
# persistence — one member directory per level + a type-tagged key index
# --------------------------------------------------------------------------


def save_split(res: DbregSplit, path: str) -> None:
    """Serialize a split-sample result: each level's model saves into its
    own subdirectory (via the member's save — OLS and GLM members share
    the directory scheme), and ``split.json`` records the level keys with
    type tags (levels can be None/numeric/str and must round-trip
    exactly)."""
    import json
    import os

    from .model import encode_key

    os.makedirs(path, exist_ok=True)
    levels = []
    for i, (lvl, m) in enumerate(res.items()):
        sub = f"level_{i:05d}"
        m.save(os.path.join(path, sub))
        levels.append({"dir": sub, "key": encode_key(lvl)})
    with open(os.path.join(path, "split.json"), "w") as f:
        json.dump(
            {
                "format": "dbreg_spark.split/1",
                "class": type(res).__name__,
                "split_var": res.split_var,
                "levels": levels,
            },
            f,
        )


def load_split(path: str, spark=None) -> DbregSplit:
    """Restore a result saved by :func:`save_split` (``DbregSplit.load`` /
    ``GlmSplit.load``); members dispatch on their own saved format."""
    import json
    import os

    from .model import decode_key, load_any_model

    with open(os.path.join(path, "split.json")) as f:
        obj = json.load(f)
    if obj.get("format") != "dbreg_spark.split/1":
        raise ValueError(f"unrecognized split format in {path}")
    cls = DbregSplit
    if obj.get("class") == "GlmSplit":
        from .split_glm import GlmSplit

        cls = GlmSplit
    out = cls()
    out.split_var = obj.get("split_var", "")
    for e in obj["levels"]:
        out[decode_key(e["key"])] = load_any_model(
            os.path.join(path, e["dir"]), spark
        )
    return out


DbregSplit.save = lambda self, path: save_split(self, path)
DbregSplit.load = staticmethod(load_split)
