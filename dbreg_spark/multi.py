"""Multiple estimation from shared passes (fixest ``sw()``/``csw()``/multi-LHS).

fixest's multiple-estimation sugar (the "Multiple estimations" vignette;
the reference R/dbreg.R has no equivalent — this is beyond-reference
surface) fits a family of related models in one call:

    dbreg_multi("c(y1, y2) ~ x1 + csw(x2, x3) | fe", df)

``sw(a, b)`` steps through each group alone, ``csw(a, b)`` cumulatively
(``a``; ``a + b``), the ``0`` variants add the empty step, and
``c(y1, y2)`` on the LHS crosses every RHS step with every outcome.

Spark-first design: every submodel's normal equations are sub-blocks of the
GRAM MATRIX of the UNION variable set [y1..yM, x1..xP], so ONE
sufficient-statistics pass over the (possibly demeaned) frame fits ALL
submodels — M x S models cost the same distributed work as one model over
the union columns. Robust sandwiches batch the same way: every model's
residual rides the SAME second-pass projection as its own literal-beta
column expression, so HC1 / one-way CR1 / Driscoll-Kraay cost ONE more
pass total (multiway CGM: one pass per cluster subset, shared by all
models) — never one pass per model. ``DbregMulti.n_passes`` records the
actual distributed aggregation count so tests can pin it.

Semantics notes (documented divergences from fixest, both required for the
one-pass Gram sharing to be exact):

- All submodels are fit on the COMMON complete-case sample — rows with no
  NULL in ANY union variable. fixest refits each model on its own
  complete cases, so its samples can differ across steps.
- All submodels share the union model's contrast coding: factor expansions
  use the union term set's drop-reference rules, so a factor that is a
  main effect in ANY step keeps that coding in every step. This also makes
  coefficients comparable across steps.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

from .design import (
    DesignInfo,
    classify_columns,
    expand_term,
    factor_levels,
    standardize_coef_names,
)
from .formula import (
    ParsedFormula,
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
from .plans.exprs import Var, agg_frame
from .plans.frames import (
    build_base_frame,
    build_demeaned_frame,
    build_demeaned_frame_iterative,
)
from .plans.meat import MEAT_KIND, fe_leverage, ols_block, sandwich_meat
from .solve import (
    compute_vcov,
    detect_collinearity,
    gen_coeftable,
    rss_from_moments,
    solve_with_fallback,
    tss_from_moments,
)
_SW_RE = re.compile(r"^(csw0|csw|sw0|sw)\((.*)\)$")
_C_RE = re.compile(r"^c\((.*)\)$")


@dataclass
class MultiSpec:
    """Parsed multi-formula: outcomes x RHS steps (+ fixed FE part)."""

    lhs: list[str]
    steps: list[tuple[str, str]]  # (step label, RHS part-1 string)
    fe_str: str


def parse_multi_formula(fml: str) -> MultiSpec:
    """Expand ``c()`` outcomes and one ``sw()/sw0()/csw()/csw0()`` RHS term
    into the list of submodel right-hand sides (fixest stepwise syntax)."""
    if "~" not in fml:
        raise ValueError(f"not a formula: {fml!r}")
    lhs_s, rhs = fml.split("~", 1)
    lhs_s = lhs_s.strip()
    m = _C_RE.match(lhs_s)
    lhs = (
        [v.strip() for v in _split_top(m.group(1), ",") if v.strip()]
        if m
        else [lhs_s]
    )
    if not lhs:
        raise ValueError("Formula needs at least one outcome variable.")
    for v in lhs:
        if not _TOKEN.match(v):
            raise ValueError(f"invalid outcome variable {v!r}")
    if len(set(lhs)) != len(lhs):
        raise ValueError("duplicate outcome variables in c(...)")

    parts = [p.strip() for p in _split_top(rhs, "|")]
    if len(parts) > 2:
        raise ValueError("At most one `|` (fixed-effects part) supported.")
    part1 = parts[0]
    fe_str = parts[1] if len(parts) == 2 else ""

    toks = [t.strip() for t in _split_top(part1, "+") if t.strip()]
    sw_idx = sw_kind = sw_groups = None
    for i, t in enumerate(toks):
        sm = _SW_RE.match(t)
        if sm:
            if sw_idx is not None:
                raise ValueError(
                    "at most one sw()/csw() term per formula (fixest's own "
                    "restriction); nest steps into one csw(...) instead"
                )
            sw_idx, sw_kind = i, sm.group(1)
            sw_groups = [
                g.strip() for g in _split_top(sm.group(2), ",") if g.strip()
            ]
            if not sw_groups:
                raise ValueError(f"empty {sw_kind}() term")

    if sw_idx is None:
        steps = [("", " + ".join(toks) if toks else "1")]
    else:
        base_l, base_r = toks[:sw_idx], toks[sw_idx + 1 :]
        step_sets: list[list[str]] = []
        if sw_kind in ("sw0", "csw0"):
            step_sets.append([])
        if sw_kind.startswith("csw"):
            step_sets.extend(
                sw_groups[:k] for k in range(1, len(sw_groups) + 1)
            )
        else:
            step_sets.extend([g] for g in sw_groups)
        steps = []
        for ss in step_sets:
            rhs_terms = base_l + ss + base_r
            steps.append(
                (" + ".join(ss), " + ".join(rhs_terms) if rhs_terms else "1")
            )
    return MultiSpec(lhs=lhs, steps=steps, fe_str=fe_str)


def union_parsed_formula(
    parsed_list: list[ParsedFormula], lhs: list[str], fe: list[str],
    intercept: bool,
) -> ParsedFormula:
    """The union model: all submodel RHS terms (first-appearance order,
    order-insensitive dedup) plus the extra outcomes riding as plain
    regressor terms — ONE definition shared by dbreg_multi,
    build_multi_plan (the gate twin) and dbglm_multi so the union
    semantics cannot drift between the fit and its oracle."""
    from .formula import Term

    union_terms, seen = [], set()
    for p in parsed_list:
        for t in p.terms:
            if t.sorted_key not in seen:
                seen.add(t.sorted_key)
                union_terms.append(t)
    for y in lhs[1:]:
        if (y,) not in seen:
            seen.add((y,))
            union_terms.append(Term((y,)))
    return ParsedFormula(
        yvar=lhs[0], terms=union_terms, fe=fe, intercept=intercept
    )


# Hard cap on the number of aggregate columns in ONE union moment pass.
# Catalyst's planning + codegen cost for a single wide Aggregate grows
# SUPERLINEARLY in the aggregate count (measured on this box, 100k rows so
# planning dominates: 1k cols 4.0 s, 2k 7.8 s, 4k 17.2 s, 8k 41.5 s, 12k
# 83.1 s) — so k capped passes strictly beat one k-times-wider pass. Wide
# sw()/csw() unions past the cap are segmented by steps into multiple
# passes; a single step too wide on its own is refused.
MULTI_AGG_MAX = 4000


def _union_agg_count(p: int, intercept: bool, n_fe: int, weighted: bool) -> int:
    """Exact ``len(moment_spec(...))`` for ``p`` design columns — kept in
    lockstep with plans.common.moment_spec (pinned by a test) so the width
    guard gates on the true aggregate count, not an approximation."""
    return (
        2  # n_total + sum_y_sq
        + n_fe
        + (2 if weighted else 0)  # sum_w + w_min
        + (1 if intercept else 0)  # sum_y
        + p * (2 if intercept else 1)  # sum_i (+ sum_i_y)
        + p * (p + 1) // 2  # cross moments
    )


def _plan_step_segments(spec, subs, design_names, col_term, est, cap):
    """Greedy in-order grouping of steps so each group's union moment
    aggregation fits under ``cap``. All outcomes ride every group (width
    is step-driven); raises if a single step exceeds the cap alone."""
    term_cols: dict[str, list[str]] = {}
    for n, t in zip(design_names, col_term):
        term_cols.setdefault(t, []).append(n)
    base_cols: set[str] = set()
    for y in spec.lhs[1:]:
        base_cols.update(term_cols.get(y, [y]))
    groups: list[list[tuple[str, str]]] = []
    cur: list[tuple[str, str]] = []
    cur_cols = set(base_cols)
    for label, rhs1 in spec.steps:
        cols: set[str] = set()
        for t in subs[(spec.lhs[0], label)].terms:
            cols.update(term_cols.get(t.label, []))
        trial = cur_cols | cols
        if cur and est(len(trial)) > cap:
            groups.append(cur)
            cur, cur_cols = [], set(base_cols)
            trial = cur_cols | cols
        cur.append((label, rhs1))
        cur_cols = trial
        if len(cur) == 1 and est(len(cur_cols)) > cap:
            raise ValueError(
                f"dbreg_multi: step {label or rhs1!r} alone expands to "
                f"{len(cur_cols):,} design columns — its moment pass would "
                f"need {est(len(cur_cols)):,} aggregate columns "
                f"(> MULTI_AGG_MAX={cap:,}), past the width where one "
                "Catalyst aggregate degrades. Narrow the step, or fit it "
                "with dbreg (compress/gram strategies handle wide factor "
                "designs)."
            )
    if cur:
        groups.append(cur)
    return groups


@dataclass
class _SubFit:
    """Driver-side state for one submodel between the Gram and meat passes."""

    key: tuple[str, str]
    parsed: ParsedFormula
    y_key: str  # "__y1" or the frame column name of this outcome
    x_cols: list[str]  # frame column names, submodel order
    # filled by the Gram stage
    collin: object = None
    sol: object = None
    rss: float = 0.0
    tss: float = 0.0
    df_res: float = 1.0
    p_kept: int = 0
    kept_x: list[str] = None
    icpt: bool = False
    n_params_cluster: int = 0
    meat: np.ndarray | None = None
    n_clusters: int | None = None


class DbregMulti:
    """Result container: an ordered dict of fitted :class:`DbregModel`."""

    def __init__(self, models, lhs, steps, n_passes, query_string=None):
        self.models = models  # dict[(yvar, step_label)] -> DbregModel
        self.lhs = lhs
        self.steps = steps
        self.n_passes = n_passes
        self.query_string = query_string

    def __len__(self):
        return len(self.models)

    def __iter__(self):
        return iter(self.models.values())

    def __getitem__(self, key):
        if isinstance(key, int):
            return list(self.models.values())[key]
        if isinstance(key, str):
            hits = [m for (y, _), m in self.models.items() if y == key]
            if len(hits) == 1:
                return hits[0]
            raise KeyError(
                f"{key!r} matches {len(hits)} models; index by (lhs, step)"
            )
        return self.models[tuple(key)]

    def tidy(self) -> pd.DataFrame:
        """Stacked coefficient table with ``lhs`` / ``rhs`` id columns."""
        out = []
        for (y, step), m in self.models.items():
            t = m.coeftable.copy()
            t.insert(0, "term", list(t.index))
            t.insert(0, "rhs", step if step else "(base)")
            t.insert(0, "lhs", y)
            out.append(t)
        return pd.concat(out, ignore_index=True)

    def coef_matrix(self, coef: str) -> pd.DataFrame:
        """One row per model: estimate/se of ``coef`` (NaN when absent)."""
        rows = []
        for (y, step), m in self.models.items():
            est = se = np.nan
            if coef in m.coef_names:
                i = m.coef_names.index(coef)
                est = m.coeftable["estimate"].iloc[i]
                se = m.coeftable["std.error"].iloc[i]
            rows.append(
                {"lhs": y, "rhs": step if step else "(base)",
                 "estimate": est, "std_error": se}
            )
        return pd.DataFrame(rows)

    def __repr__(self):
        lines = [
            f"DbregMulti: {len(self.models)} models "
            f"({len(self.lhs)} lhs x {len(self.steps)} rhs steps), "
            f"{self.n_passes} distributed passes"
        ]
        for (y, step), m in self.models.items():
            lines.append(f"  {y} ~ {step if step else '(base)'}: "
                         f"{len(m.coef_names)} coefs, n={m.nobs_orig}")
        return "\n".join(lines)


def _union_design(df, uparsed, fe):
    """build_design with per-column source-term labels (union contrast
    coding — the all-term-keys set is the UNION's, shared by every step)."""
    vars_ = uparsed.xvars
    types = classify_columns(df, vars_)
    fvars = [v for v in vars_ if types[v] == "factor"]
    levels = factor_levels(df, fvars) if fvars else {}
    all_term_keys = {t.sorted_key for t in uparsed.terms}
    for v in fe:
        all_term_keys.add((v,))
    names, exprs, col_term = [], [], []
    for term in uparsed.terms:
        for n, e in expand_term(term, types, levels, "all", all_term_keys, fe):
            names.append(n)
            exprs.append(e)
            col_term.append(term.label)
    design = DesignInfo(
        names=names,
        exprs=exprs,
        factor_levels=levels,
        numeric_vars=[v for v in vars_ if types[v] == "numeric"],
    )
    return design, col_term, types


def _sub_row(urow, pos, y_key, sub_x, intercept, fe_len):
    """Assemble one submodel's moments row from the union Gram row.

    ``pos`` maps frame column name -> 1-based union position; ``y_key`` is
    "__y1" (the union pass's y) or a frame column name. Every entry is a
    pure dict lookup — zero distributed work per submodel."""
    r = {"n_total": urow["n_total"]}
    for k in ("sum_w", "w_min", "__cell_min", "__cell_max", "__n_cells"):
        if k in urow:
            r[k] = urow[k]
    for k in range(1, fe_len + 1):
        if f"n_fe{k}" in urow:
            r[f"n_fe{k}"] = urow[f"n_fe{k}"]

    q = None if y_key == "__y1" else pos[y_key]

    def cross(i, j):
        # union-Gram lookup; position 0 = the union pass's own y column
        if i == 0 and j == 0:
            return urow["sum_y_sq"]
        if i == 0:
            return urow[f"sum_{j}_y"]
        if j == 0:
            return urow[f"sum_{i}_y"]
        a, b = (i, j) if i <= j else (j, i)
        return urow[f"sum_{a}_{b}"]

    yq = 0 if q is None else q
    r["sum_y_sq"] = cross(yq, yq)
    if intercept:
        r["sum_y"] = urow["sum_y"] if q is None else urow[f"sum_{q}"]
    for si, xc in enumerate(sub_x, start=1):
        p = pos[xc]
        if intercept:
            r[f"sum_{si}"] = urow[f"sum_{p}"]
        r[f"sum_{si}_y"] = cross(p, yq)
        for sj in range(si, len(sub_x) + 1):
            pj = pos[sub_x[sj - 1]]
            a, b = (p, pj) if p <= pj else (pj, p)
            r[f"sum_{si}_{sj}"] = urow[f"sum_{a}_{b}"]
    return r


def _model_meats(frame, fits, weight_col, vcov_type, keys, fe, hac_lag, conley_opts):
    """Every model's meat from the sandwich kernel's shared passes: each
    model is one score block w·(y − x'β̂) at its own literal β̂ (HC2/HC3
    add its own leverage, plus the one-FE term all models share). Returns
    the pass count."""
    src, h_extra = frame, None
    if vcov_type in ("hc2", "hc3") and fe:
        src, h_extra = fe_leverage(frame.df, fe[0], weight_col)
    blocks = [
        ols_block(
            frame.y_col if f.y_key == "__y1" else f.y_key, f.sol.betahat,
            f.kept_x, f.icpt, weight_col, xtx_inv=f.sol.xtx_inv,
            kind=vcov_type, h_extra=h_extra,
        )
        for f in fits
    ]
    res = sandwich_meat(
        src, blocks, MEAT_KIND[vcov_type], keys or (), lag=hac_lag,
        conley=conley_opts,
    )
    for f, meat in zip(fits, res.meats[None]):
        f.meat, f.n_clusters = meat, res.g.get(None)
    return res.passes


def dbreg_multi(
    fml: str,
    data=None,
    *,
    spark=None,
    table: str | None = None,
    path: str | None = None,
    vcov="iid",
    cluster=None,
    weights: str | None = None,
    hac_lag: int | None = None,
    ssc: str = "full",
    strategy: str = "auto",
    drop_missings: bool = True,
    broadcast_means: bool = True,
    conley_cutoff: float | None = None,
    conley_kernel: str = "uniform",
    conley_distance: str = "haversine",
    _spec: "MultiSpec | None" = None,
    _case_vars: list[str] | None = None,
) -> DbregMulti:
    """Fit every submodel of a stepwise / multi-outcome formula from shared
    distributed passes (see the module docstring for the pass accounting
    and the common-sample / union-contrast semantics).

    Supported: ``strategy`` in auto/moments/demean/demean_iter (compress
    and mundlak have no shared-Gram form — call :func:`dbreg` per model);
    ``vcov`` iid / hc1 / ``"~g"`` (1-way and multiway CGM) /
    ``"dk ~ t"`` / ``"conley ~ lat + lon"`` (every model's spatial meat
    from ONE batched pair join; needs ``conley_cutoff=``); ``weights=``
    composes with everything.

    Width guard: a union whose single-pass moment aggregation would exceed
    ``MULTI_AGG_MAX`` columns is automatically SEGMENTED by steps into the
    fewest passes that each fit under the cap (Catalyst's planning/codegen
    cost grows superlinearly in the aggregate count — measured on this
    box: 4 s at 1k columns, 17 s at 4k, 83 s at 12k — so k capped passes
    beat one k-times-wider pass outright). Segments share the FULL union
    complete-case sample (the union variable set rides every segment's
    null filter), so segmentation never changes results, only
    ``n_passes``. A single step too wide for the cap on its own raises.

    ``_spec`` / ``_case_vars`` are the internal segmentation hooks: a
    pre-parsed sub-spec to fit instead of parsing ``fml``, and the full
    union variable list for the shared null filter.
    """
    spec = _spec if _spec is not None else parse_multi_formula(fml)
    vcov_type, cluster_var = parse_vcov(
        vcov, cluster, valid=("iid", "hc1", "hc2", "hc3")
    )
    if vcov_type == "cr3":
        raise NotImplementedError(
            "vcov='cr3 ~ g' jackknife refits are per-model leave-one-out "
            "solves; fit each model with dbreg(vcov='cr3 ~ g') instead"
        )
    if vcov_type in ("hc2", "hc3"):
        fe_probe = [
            t.strip() for t in _split_top(spec.fe_str, "+") if t.strip()
        ] if spec.fe_str else []
        if len(fe_probe) > 1:
            raise NotImplementedError(
                f"vcov={vcov_type!r} absorbs at most ONE fixed effect (the "
                "k-FE LSDV leverage has no closed per-row decomposition)"
            )
    conley_opts = None
    if vcov_type == "conley":
        # batched: every submodel's spatial meat rides ONE exploded cell
        # join — per-model __e{m} residual columns share the pair pass
        # (plans/conley.py:conley_pair_agg_batched)
        if conley_cutoff is None:
            raise ValueError(
                "vcov='conley ~ lat + lon' needs conley_cutoff= (km for "
                "distance='haversine', coordinate units for 'euclidean')"
            )
        conley_opts = (conley_cutoff, conley_kernel, conley_distance)
    weight_col = parse_weights(weights)
    if ssc not in ("full", "nested"):
        raise ValueError("ssc must be 'full' or 'nested'")
    if ssc == "nested":
        raise NotImplementedError(
            "ssc='nested' is per-model bookkeeping; use dbreg per model"
        )

    fe_sfx = f" | {spec.fe_str}" if spec.fe_str else ""
    subs: dict[tuple[str, str], ParsedFormula] = {}
    for y in spec.lhs:
        for label, rhs1 in spec.steps:
            subs[(y, label)] = parse_formula(f"{y} ~ {rhs1}{fe_sfx}")

    parsed_list = list(subs.values())
    fe = parsed_list[0].fe
    if any(p.fe != fe for p in parsed_list):
        raise AssertionError("submodels share one FE part by construction")
    intercept_flags = {p.intercept for p in parsed_list}
    if len(intercept_flags) != 1:
        raise ValueError("all submodels must share the intercept setting")
    has_icpt = intercept_flags.pop()

    if strategy == "auto":
        strategy = "demean" if fe else "moments"
    if strategy == "within":
        strategy = "demean"
    if strategy == "moments" and fe:
        raise ValueError("strategy='moments' does not absorb fixed effects")
    if strategy in ("demean", "demean_iter") and not fe:
        raise ValueError("demean requires at least one fixed effect")
    if strategy not in ("moments", "demean", "demean_iter"):
        raise ValueError(
            "dbreg_multi supports strategy auto/moments/demean/demean_iter"
        )

    uparsed = union_parsed_formula(parsed_list, spec.lhs, fe, has_icpt)

    if spark is None and hasattr(data, "sparkSession"):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)
    from .api import _check_weights_valid, _cluster_label, _require_columns

    _require_columns(
        source.df,
        list(
            dict.fromkeys(
                spec.lhs
                + uparsed.xvars
                + fe
                + (cluster_var or [])
                + ([weight_col] if weight_col else [])
            )
        ),
    )
    ytypes = classify_columns(source.df, spec.lhs)
    bad = [y for y, t in ytypes.items() if t != "numeric"]
    if bad:
        raise ValueError(f"outcome variables must be numeric: {bad}")

    design, col_term, _types = _union_design(source.df, uparsed, fe)

    # ---- union-width guard / auto-segmentation (see MULTI_AGG_MAX) ------
    def _est(p: int) -> int:
        # the intercept column only rides the moment pass when the formulas
        # actually request one — no-intercept moments unions would otherwise
        # over-count by 1 + p (segmentation triggering early)
        return _union_agg_count(
            p,
            has_icpt if strategy == "moments" else False,
            len(fe) if strategy != "moments" else 0,
            weight_col is not None,
        )

    if _est(len(design.names)) > MULTI_AGG_MAX:
        if len(spec.steps) == 1:
            raise ValueError(
                f"dbreg_multi: the union design expands to "
                f"{len(design.names):,} columns — one moment pass would "
                f"need {_est(len(design.names)):,} aggregate columns "
                f"(> MULTI_AGG_MAX={MULTI_AGG_MAX:,}). Narrow the formula, "
                "or fit per model with dbreg."
            )
        groups = _plan_step_segments(
            spec, subs, design.names, col_term, _est, MULTI_AGG_MAX
        )
        parts = [
            dbreg_multi(
                fml, data=data, spark=spark, table=table, path=path,
                vcov=vcov, cluster=cluster, weights=weights,
                hac_lag=hac_lag, ssc=ssc, strategy=strategy,
                drop_missings=drop_missings,
                broadcast_means=broadcast_means,
                conley_cutoff=conley_cutoff, conley_kernel=conley_kernel,
                conley_distance=conley_distance,
                _spec=MultiSpec(lhs=spec.lhs, steps=g, fe_str=spec.fe_str),
                _case_vars=_case_vars
                or list(dict.fromkeys(uparsed.xvars + spec.lhs)),
            )
            for g in groups
        ]
        merged: dict = {}
        for part in parts:
            merged.update(part.models)
        return DbregMulti(
            models={k: merged[k] for k in subs},
            lhs=spec.lhs,
            steps=[s for s, _ in spec.steps],
            n_passes=sum(p.n_passes for p in parts),
            query_string=parts[0].query_string,
        )

    base = build_base_frame(
        source,
        uparsed,
        design,
        drop_missings,
        extra_cols=cluster_var if cluster_var else None,
        want_sql=source.sql_from is not None,
        weight_col=weight_col,
        extra_filter_cols=_case_vars,
    )

    n_passes = 0
    if strategy == "moments":
        frame = base
        use_intercept = has_icpt  # the formulas' shared intercept flag
        n_fe_exprs = None
    else:
        force_iter = (strategy == "demean_iter") or (
            weight_col is not None and len(fe) >= 2
        )
        if len(fe) > 2 or force_iter:
            frame = build_demeaned_frame_iterative(
                base, fe, broadcast_means, weight_col=weight_col
            )
        else:
            frame = build_demeaned_frame(
                base, fe, broadcast_means, weight_col=weight_col,
                carry=cluster_var,
            )
        use_intercept = False
        n_fe_exprs = [Var(f) for f in fe]

    try:
        mspec = moment_spec(
            Var(frame.y_col),
            [Var(n) for n in frame.x_cols],
            intercept=use_intercept,
            n_fe_exprs=n_fe_exprs,
            weight=Var(weight_col) if weight_col else None,
        )
        sql = None
        if frame.sql_cte:
            sql = (
                f"{frame.sql_cte},\nmoments AS (\n  SELECT {agg_select_sql(mspec)}"
                f"\n  FROM {frame.cte_name}\n)\nSELECT * FROM moments"
            )
        urow = run_agg(
            frame.df,
            mspec,
            fe_cols=fe if strategy != "moments" else None,
        )
        n_passes += 1
        _check_weights_valid(urow, weight_col)

        n_total = float(urow["n_total"])
        pos = {c: i for i, c in enumerate(frame.x_cols, start=1)}

        # shared FE dof (same frame => same absorbed rank for every model)
        df_fe = 0
        n_fe1 = n_fe2 = None
        if strategy != "moments":
            n_fe = [
                int(urow.get(f"n_fe{k + 1}", 1)) for k in range(max(len(fe), 2))
            ]
            n_fe1, n_fe2 = n_fe[0], n_fe[1]
            df_fe = n_fe[0] + sum(g - 1 for g in n_fe[1:])
            if len(fe) == 2 and frame.cte_name == "demeaned_iter":
                comps = frame.n_components
                if comps is None:
                    n_cells = urow.get("__n_cells")
                    if n_cells is None or int(n_cells) <= 1_000_000:
                        from .api import _count_fe_components

                        comps = _count_fe_components(base.df, fe[0], fe[1])
                if comps is not None and comps > 1:
                    df_fe = n_fe1 + n_fe2 - comps

        # ---- driver-side sub-solves from the union Gram ----
        fits: list[_SubFit] = []
        term_cols: dict[str, list[str]] = {}
        for n, t in zip(design.names, col_term):
            term_cols.setdefault(t, []).append(n)
        for key, p in subs.items():
            y = key[0]
            y_key = "__y1" if y == spec.lhs[0] else y
            sub_x: list[str] = []
            for t in p.terms:
                for c in term_cols.get(t.label, []):
                    # an extra outcome used as a regressor maps to itself
                    if c not in sub_x:
                        sub_x.append(c)
            if y_key != "__y1" and y_key not in pos:
                raise AssertionError(f"outcome column {y} missing from frame")
            fits.append(
                _SubFit(key=key, parsed=p, y_key=y_key, x_cols=sub_x)
            )

        for f in fits:
            row = _sub_row(
                urow, pos, f.y_key, f.x_cols, use_intercept, len(fe)
            )
            names = (
                ["(Intercept)"] if use_intercept else []
            ) + [standardize_coef_names(n) for n in f.x_cols]
            xtx, xty, _n, sum_y, sum_y_sq = assemble_normal_eqs(
                row, len(f.x_cols), intercept=use_intercept
            )
            f.collin = detect_collinearity(xtx, xty, names)
            f.sol = solve_with_fallback(f.collin.xtx, f.collin.xty)
            f.rss = rss_from_moments(
                sum_y_sq, f.sol.betahat, f.collin.xtx, f.collin.xty
            )
            if use_intercept:
                tss_n = float(row["sum_w"]) if weight_col else n_total
                f.tss = tss_from_moments(sum_y_sq, sum_y, tss_n)
            else:
                f.tss = sum_y_sq  # within-TSS, as in _finish_demean
            f.p_kept = len(f.collin.keep_names)
            f.df_res = max(n_total - f.p_kept - df_fe, 1)
            f.kept_x = [
                n
                for n in f.x_cols
                if standardize_coef_names(n) in f.collin.keep_names
            ]
            f.icpt = use_intercept and "(Intercept)" in f.collin.keep_names
            f.n_params_cluster = f.p_kept + df_fe

        # ---- batched second pass(es) for the sandwich meats ----
        if vcov_type in MEAT_KIND:
            n_passes += _model_meats(
                frame, fits, weight_col, vcov_type, cluster_var, fe, hac_lag,
                conley_opts,
            )
    finally:
        frame.cleanup()

    # ---- assemble DbregModels (pure driver work) ----
    models: dict[tuple[str, str], DbregModel] = {}
    numeric_set = set(design.numeric_vars)
    for f in fits:
        V = compute_vcov(
            vcov_type,
            f.sol.xtx_inv,
            f.rss,
            f.df_res,
            n_total,
            f.n_params_cluster,
            f.meat,
            f.n_clusters,
        )
        ct = gen_coeftable(f.sol.betahat, V, f.df_res, f.collin.keep_names)
        sub_design = DesignInfo(
            names=list(f.x_cols),
            exprs=[design.exprs[pos[c] - 1] for c in f.x_cols],
            factor_levels=design.factor_levels,
            numeric_vars=[v for v in f.parsed.xvars if v in numeric_set],
        )
        models[f.key] = DbregModel(
            coeftable=ct,
            vcov_=V,
            coef_names=f.collin.keep_names,
            yvar=f.key[0],
            xvars=standardize_coef_names(f.parsed.xvars),
            fe=list(fe),
            strategy=strategy if strategy != "demean_iter" else "demean",
            vcov_type=vcov_type,
            cluster_var=_cluster_label(cluster_var),
            nobs=1,
            nobs_orig=int(n_total),
            df_residual=f.df_res,
            rss=f.rss,
            tss=f.tss,
            n_fe1=n_fe1,
            n_fe2=n_fe2,
            n_clusters=f.n_clusters,
            collin_vars=f.collin.drop_names,
            compression_ratio_est=None,
            query_string=sql,
            design_info=sub_design,
            parsed=f.parsed,
            weight_col=weight_col,
            intercept=use_intercept,
            demean_iterated=(frame.cte_name == "demeaned_iter"),
        )

    return DbregMulti(
        models=models,
        lhs=spec.lhs,
        steps=[s for s, _ in spec.steps],
        n_passes=n_passes,
        query_string=sql,
    )


def build_multi_plan(
    fml: str,
    *,
    spark=None,
    data=None,
    table: str | None = None,
    path: str | None = None,
    strategy: str = "auto",
    weights: str | None = None,
    drop_missings: bool = True,
):
    """The union-Gram aggregation as a lazy (DataFrame, oracle SQL) pair —
    the gate surface for dbreg_multi (mirrors :func:`api.build_plan`)."""
    spec = parse_multi_formula(fml)
    weight_col = parse_weights(weights)
    fe_sfx = f" | {spec.fe_str}" if spec.fe_str else ""
    parsed_list = [
        parse_formula(f"{y} ~ {rhs1}{fe_sfx}")
        for y in spec.lhs
        for _, rhs1 in spec.steps
    ]
    fe = parsed_list[0].fe
    # mirror dbreg_multi exactly (this is its gate/oracle twin): the shared
    # intercept flag comes from the formulas, the iterative-demean decision
    # and sweep count match the fit path — the twin must not drift
    has_icpt = {p.intercept for p in parsed_list}.pop()
    uparsed = union_parsed_formula(parsed_list, spec.lhs, fe, has_icpt)
    if spark is None and hasattr(data, "sparkSession"):
        spark = data.sparkSession
    source = resolve_source(spark=spark, data=data, table=table, path=path)
    design, _ct, _ty = _union_design(source.df, uparsed, fe)
    base = build_base_frame(
        source, uparsed, design, drop_missings,
        want_sql=source.sql_from is not None, weight_col=weight_col,
    )
    if strategy == "auto":
        strategy = "demean" if fe else "moments"
    if strategy == "within":
        strategy = "demean"
    if strategy == "moments":
        frame, use_intercept, n_fe_exprs = base, has_icpt, None
    else:
        force_iter = (strategy == "demean_iter") or (
            weight_col is not None and len(fe) >= 2
        )
        frame = (
            build_demeaned_frame_iterative(base, fe, weight_col=weight_col)
            if len(fe) > 2 or force_iter
            else build_demeaned_frame(
                base, fe, weight_col=weight_col, cache_means=False
            )
        )
        use_intercept, n_fe_exprs = False, [Var(f) for f in fe]
    mspec = moment_spec(
        Var(frame.y_col),
        [Var(n) for n in frame.x_cols],
        intercept=use_intercept,
        n_fe_exprs=n_fe_exprs,
        weight=Var(weight_col) if weight_col else None,
    )
    agg_df = agg_frame(frame.df, mspec)
    sql = None
    if frame.sql_cte:
        sql = (
            f"{frame.sql_cte},\nmoments AS (\n  SELECT {agg_select_sql(mspec)}"
            f"\n  FROM {frame.cte_name}\n)\nSELECT * FROM moments"
        )
    return agg_df, sql


# --------------------------------------------------------------------------
# persistence: one subdirectory per submodel + a manifest
# --------------------------------------------------------------------------


def save_multi(mm: "DbregMulti", path: str) -> None:
    """Persist a multi-estimation result: ``multi.json`` manifest (keys,
    steps, pass count, container kind) + one ``model_<i>`` subdirectory per
    submodel (each the standard json+parquet model directory)."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    keys = list(mm.models.keys())
    manifest = {
        "format": "dbreg_spark.multi/1",
        "kind": type(mm).__name__,
        "lhs": mm.lhs,
        "steps": mm.steps,
        "n_passes": mm.n_passes,
        "keys": [[y, step] for y, step in keys],
    }
    with open(os.path.join(path, "multi.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    for i, m in enumerate(mm.models.values()):
        m.save(os.path.join(path, f"model_{i:03d}"))


def load_multi(path: str, spark=None) -> "DbregMulti":
    import json
    import os

    from .model import load_any_model

    with open(os.path.join(path, "multi.json")) as f:
        man = json.load(f)
    models = {}
    for i, (y, step) in enumerate(man["keys"]):
        models[(y, step)] = load_any_model(
            os.path.join(path, f"model_{i:03d}"), spark
        )
    cls = DbregMulti
    if man.get("kind") == "GlmMulti":
        from .multi_glm import GlmMulti

        cls = GlmMulti
    return cls(
        models=models,
        lhs=man["lhs"],
        steps=man["steps"],
        n_passes=man["n_passes"],
    )


DbregMulti.save = save_multi
DbregMulti.load = staticmethod(load_multi)
