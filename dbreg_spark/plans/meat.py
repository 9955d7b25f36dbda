"""The sandwich kernel: every variance "meat" in the package comes from here.

Every robust vcov has one form. With x̃ᵢ the score columns of row i
(``[1] + x``) and sᵢ its per-row score (OLS: w·(y − x'β̂); GLM:
ω·score(μ̂, y); 2SLS: the structural residual against the Z columns),

    M = Σ_g s_g s_gᵀ,        s_g = Σ_{i∈g} sᵢ·x̃ᵢ,

and the kinds differ only in the grouping g:

- ``hc``: g is one row (HC1). A leverage hᵢ scales the row's square by
  1/(1 − hᵢ)^k (HC2 k = 1, HC3 k = 2).
- ``cluster``: g is a cluster. Several cluster variables combine by the
  Cameron–Gelbach–Miller inclusion–exclusion over their subsets
  (:func:`cgm_combine`).
- ``dk``: g is a period, and Driscoll–Kraay adds the Newey–West weighted
  cross-period terms Γ_l + Γ_lᵀ (:func:`nw_combine`).
- ``conley``: g runs over the spatial pairs within a cutoff, each pair
  weighted by K(d) (the pair enumeration lives in ``plans/conley.py``).

β̂ is baked into the score expression as double literals, so the meat is
one more aggregation over the data (reference: R/dbreg.R:1807-2000). The
kernel projects every score once, runs each aggregate through the
expression IR and ``run_agg``, and returns each score block's p×p meat
per ``by=`` level, with G (clusters) or T (periods) and the DuckDB twin.
Callers supply only their score expressions and columns.

Passes per kind: hc, dk and conley one aggregation; cluster one per CGM
subset (2^k − 1 for k variables), all reading one grouped score table.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import combinations

import numpy as np
import pyspark.sql.functions as F

from .common import agg_select_sql, run_agg
from .exprs import (
    Agg,
    Cast,
    Expr,
    Func,
    Lit,
    Var,
    agg_to_spark,
    agg_to_sql,
    asum,
    count_star,
    to_spark,
    to_sql,
)

MAX_PERIODS = 100_000  # Driscoll-Kraay periods collected to the driver
# vcov type -> kernel kind
MEAT_KIND = {
    "hc1": "hc", "hc2": "hc", "hc3": "hc",
    "cluster": "cluster", "dk": "dk", "conley": "conley",
}


def _d(e: Expr) -> Expr:
    return Cast(e, "double")


def _resid_expr(y_col: str, betahat, x_names: list[str], intercept: bool) -> Expr:
    """(y − b₀ − Σ βⱼ·xⱼ) with β as exact double literals
    (reference: R/dbreg.R:1822-1836)."""
    b = np.asarray(betahat, dtype=float).reshape(-1)
    off = 1 if intercept else 0
    e: Expr = Var(y_col)
    if intercept:
        e = e - Lit(float(b[0]))
    for j, xn in enumerate(x_names):
        e = e - (Lit(float(b[j + off])) * Var(xn))
    return e


@dataclass(frozen=True)
class ScoreBlock:
    """One model's score: the per-row score ``s`` times the columns
    ``[1] + x`` (the 1 when ``intercept``). ``h`` is the row leverage for
    HC2 (``h_pow=1``) or HC3 (``h_pow=2``)."""

    s: Expr
    x: tuple[str, ...]
    intercept: bool = False
    h: Expr | None = None
    h_pow: int = 1

    @property
    def cols(self) -> list[Expr]:
        return ([Lit(1.0)] if self.intercept else []) + [Var(n) for n in self.x]


def ols_block(
    y_col: str,
    betahat,
    x_names: list[str],
    intercept: bool,
    weight_col: str | None = None,
    score_names: list[str] | None = None,
    score_intercept: bool | None = None,
    xtx_inv=None,
    kind: str = "hc1",
    h_extra: Expr | None = None,
) -> ScoreBlock:
    """The linear-model score w·(y − x'β̂) over the regressors, or over
    ``score_names`` (2SLS scores the Z columns with the structural
    residual). For ``kind`` hc2/hc3, ``xtx_inv`` gives the leverage
    w·x̃'(X'WX)⁻¹x̃ (+ ``h_extra``, the absorbed-FE term of
    :func:`fe_leverage`)."""
    s = _resid_expr(y_col, betahat, x_names, intercept)
    w = _d(Var(weight_col)) if weight_col is not None else None
    if w is not None:
        s = w * s
    names = tuple(x_names if score_names is None else score_names)
    icpt = intercept if score_intercept is None else score_intercept
    block = ScoreBlock(s, names, icpt)
    if kind not in ("hc2", "hc3"):
        return block
    h = quad_form(block.cols, xtx_inv)
    if w is not None:
        h = w * h
    if h_extra is not None:
        h = h + h_extra
    return ScoreBlock(s, names, icpt, h, 2 if kind == "hc3" else 1)


def quad_form(cols: list[Expr], m) -> Expr:
    """x̃'M x̃ as one expression. ``m`` is a symmetric numpy matrix (literal
    coefficients, zeros skipped) or a function (a, b) -> Expr giving the
    entry per row (e.g. per split level, from a broadcast table)."""
    entry = m if callable(m) else (lambda a, b: Lit(float(m[a, b])))
    h: Expr = Lit(0.0)
    for a in range(len(cols)):
        for b in range(a, len(cols)):
            if not callable(m) and m[a, b] == 0.0:
                continue
            t = entry(a, b) * _d(cols[a]) * _d(cols[b])
            h = h + (t if a == b else Lit(2.0) * t)
    return h


def fe_leverage(df, fe_col: str, weight_col: str | None = None, by: str | None = None):
    """The exact one-FE LSDV leverage term wᵢ/W_g(i). The LSDV hat matrix
    splits (in the W metric) into P_D + P_{M_D X}, so the full-design
    leverage is this term plus the quadratic form of the demeaned columns.
    Joins the tiny per-(by, g) weight totals to ``df``; returns
    (joined frame, term)."""
    wsum = (
        F.sum(F.col(weight_col).cast("double"))
        if weight_col is not None
        else F.count(F.lit(1)).cast("double")
    )
    keys = ([F.col(by).alias("__s1")] if by else []) + [F.col(fe_col).alias("__f1")]
    gt = df.groupBy(*keys).agg(wsum.alias("__Wg"))
    cond = F.col(fe_col) == F.col("__f1")
    if by:
        cond = F.col(by).eqNullSafe(F.col("__s1")) & cond
    out = df.join(F.broadcast(gt), on=cond).drop("__s1", "__f1")
    w = _d(Var(weight_col)) if weight_col is not None else Lit(1.0)
    return out, w / Var("__Wg")


@dataclass
class SandwichMeat:
    """Kernel output. ``meats[level]`` holds one p×p meat per score block
    (``level`` is None without ``by=``); ``g[level]`` the cluster count G
    or period count T; ``sql`` the DuckDB twin of the first aggregation."""

    meats: dict
    g: dict = field(default_factory=dict)
    sql: str | None = None
    passes: int = 1

    def one(self, k: int = 0):
        """(meat of block k, G or T) of an unsplit kernel call."""
        return self.meats[None][k], self.g.get(None)


def _tag(k: int, n: int) -> str:
    return "" if n == 1 else str(k)


def _tri(row: dict, name, p: int) -> np.ndarray:
    """Symmetric p×p matrix from upper-triangle aliases ``name(i, j)``."""
    m = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            v = row[name(i, j)]
            m[i, j] = m[j, i] = float(v) if v is not None else 0.0
    return m


def check_groups(g: int, kind: str, keys, by: str | None, level) -> None:
    """The one ≥ 2 clusters / periods check: G/(G − 1) is undefined at 1."""
    if g >= 2:
        return
    unit = "time periods" if kind == "dk" else "clusters"
    what = "Driscoll-Kraay" if kind == "dk" else "cluster-robust vcov"
    where = f" in split level {level!r}" if by else ""
    raise ValueError(
        f"{what} needs at least 2 {unit}; {'x'.join(keys)} has {g}{where}"
    )


def _resid_step(frame, blocks: list[ScoreBlock], carry: list[str], extra=()):
    """Project every block's score (and leverage) once, next to the
    ``carry`` key columns and the union of score columns:
    (projection, twin ``resid`` CTE or None)."""
    df = getattr(frame, "df", frame)
    sel: list[tuple[str, Expr]] = []
    for k, b in enumerate(blocks):
        t = _tag(k, len(blocks))
        sel.append((f"__e{t}", _d(b.s)))
        if b.h is not None:
            sel.append((f"__h{t}", _d(b.h)))
    sel += list(extra)
    xs = [n for n in dict.fromkeys(n for b in blocks for n in b.x) if n not in carry]
    proj = df.select(
        *[F.col(c) for c in carry],
        *[to_spark(e).alias(n) for n, e in sel],
        *[F.col(n) for n in xs],
    )
    sql = None
    if getattr(frame, "sql_cte", None):
        items = list(carry) + [f"{to_sql(e)} AS {n}" for n, e in sel] + xs
        sql = (
            f"{frame.sql_cte},\nresid AS (\n  SELECT {', '.join(items)}"
            f"\n  FROM {frame.cte_name}\n)"
        )
    return proj, sql


def _hc_spec(blocks: list[ScoreBlock]) -> list[tuple[str, Agg]]:
    spec = []
    for k, b in enumerate(blocks):
        t = _tag(k, len(blocks))
        e = Var(f"__e{t}")
        psi = e * e
        if b.h is not None:
            den = Func("greatest", (Lit(1.0) - Var(f"__h{t}"), Lit(1e-12)))
            psi = psi / (den if b.h_pow == 1 else den * den)
        cols = b.cols
        for i in range(len(cols)):
            for j in range(i, len(cols)):
                spec.append(
                    (f"meat{t}_{i}_{j}", asum(psi * _d(cols[i]) * _d(cols[j])))
                )
    return spec


def _score_spec(blocks: list[ScoreBlock]) -> list[tuple[str, Agg]]:
    spec = []
    for k, b in enumerate(blocks):
        t = _tag(k, len(blocks))
        e = Var(f"__e{t}")
        spec += [(f"score{t}_{j}", asum(e * _d(c))) for j, c in enumerate(b.cols)]
    return spec


def _grouped(df, keys: list[str], spec):
    return df.groupBy(*keys).agg(*[agg_to_spark(a).alias(n) for n, a in spec])


def _hc_pass(frame, blocks: list[ScoreBlock], by: str | None = None):
    """The hc pass: (projection, spec, twin SQL)."""
    carry = [by] if by else []
    proj, resid = _resid_step(frame, blocks, carry)
    spec = _hc_spec(blocks)
    sql = None
    if resid is not None:
        group = f"\n  GROUP BY {by}" if by else ""
        lead = f"{by}, " if by else ""
        sql = (
            f"{resid},\nmeat AS (\n  SELECT {lead}{agg_select_sql(spec)}"
            f"\n  FROM resid{group}\n)\nSELECT * FROM meat"
        )
    return proj, spec, sql


def _score_pass(frame, blocks: list[ScoreBlock], keys: list[str], extra=()):
    """The per-group score pass Σ_g s·x̃ keyed by ``keys``: (projection,
    spec, twin SQL)."""
    proj, resid = _resid_step(frame, blocks, keys, extra)
    spec = _score_spec(blocks)
    sql = None
    if resid is not None:
        clist = ", ".join(keys)
        score_sql = ", ".join(f"{agg_to_sql(a)} AS {n}" for n, a in spec)
        sql = (
            f"{resid},\ncluster_scores AS (\n  SELECT {clist}, {score_sql}"
            f"\n  FROM resid\n  GROUP BY {clist}\n)\n"
            "SELECT * FROM cluster_scores"
        )
    return proj, spec, sql


def hc1_meat_plan(
    frame,
    betahat: np.ndarray,
    x_names: list[str],
    intercept: bool,
    score_names: list[str] | None = None,
    score_intercept: bool | None = None,
    weight_col: str | None = None,
):
    """The kernel's hc pass for one OLS score block: (spec, agg_df, sql)."""
    block = ols_block(
        frame.y_col, betahat, x_names, intercept, weight_col, score_names,
        score_intercept,
    )
    proj, spec, sql = _hc_pass(frame, [block])
    return spec, _grouped(proj, [], spec), sql


def cluster_scores_plan(
    frame,
    betahat: np.ndarray,
    x_names: list[str],
    intercept: bool,
    cluster_col: str | list[str],
    score_names: list[str] | None = None,
    score_intercept: bool | None = None,
    weight_col: str | None = None,
):
    """The kernel's per-cluster score table for one OLS score block:
    (scores_df, sql). Several columns cluster on their interaction."""
    keys = [cluster_col] if isinstance(cluster_col, str) else list(cluster_col)
    block = ols_block(
        frame.y_col, betahat, x_names, intercept, weight_col, score_names,
        score_intercept,
    )
    proj, spec, sql = _score_pass(frame, [block], keys)
    return _grouped(proj, keys, spec), sql


def sandwich_meat(
    frame,
    blocks: list[ScoreBlock],
    kind: str,
    keys: list[str] = (),
    *,
    by: str | None = None,
    lag: int | None = None,
    conley=None,
) -> SandwichMeat:
    """Σ_g s_g s_gᵀ for every score block, grouped by ``kind``.

    ``frame``: a :class:`Frame` (its CTE gives the DuckDB twin) or a
    DataFrame carrying the score, key and ``by`` columns. ``keys``: the
    cluster columns (cluster), the time column (dk) or (lat, lon)
    (conley). ``by``: a split column — every level gets its own meats and
    G from the same passes. ``lag``: the DK Bartlett lag (None = plug-in).
    ``conley``: (cutoff, kernel, distance).
    """
    keys = list(keys)
    lead = [by] if by else []
    level = (lambda r: r[by]) if by else (lambda r: None)
    tags = [_tag(k, len(blocks)) for k in range(len(blocks))]
    ps = [len(b.cols) for b in blocks]

    def block_meats(row, prefixes):
        return [
            _tri(row, lambda i, j, pre=pre: f"{pre}_{i}_{j}", p)
            for pre, p in zip(prefixes, ps)
        ]

    if kind == "hc":
        proj, spec, sql = _hc_pass(frame, blocks, by)
        rows = run_agg(proj, spec, by=lead)
        meats = {level(r): block_meats(r, [f"meat{t}" for t in tags]) for r in rows}
        return SandwichMeat(meats, sql=sql)

    if kind == "conley":
        from . import conley as conley_mod

        cutoff, kernel, distance = conley
        proj, _ = _resid_step(
            frame, blocks, lead,
            [("__lat", _d(Var(keys[0]))), ("__lon", _d(Var(keys[1])))],
        )
        groups = [(f"__e{t}", list(b.x), b.intercept) for t, b in zip(tags, blocks)]
        agg_df, _, cached = conley_mod.conley_pair_agg_batched(
            proj, groups, cutoff, kernel, distance, cache=True, group_col=by
        )
        try:
            rows = [r.asDict() for r in agg_df.collect()]
        finally:
            if cached is not None:
                cached.unpersist()
        prefixes = [f"m{k}" for k in range(len(blocks))]
        return SandwichMeat({level(r): block_meats(r, prefixes) for r in rows})

    proj, spec, sql = _score_pass(frame, blocks, lead + keys)
    if kind == "dk":
        rows = run_agg(proj, spec, by=lead + keys, limit=MAX_PERIODS + 1)
        if len(rows) > MAX_PERIODS:
            raise ValueError(
                f"Driscoll-Kraay time variable {keys[0]!r} has more than "
                f"{MAX_PERIODS:,} distinct periods — pass a period column "
                "(e.g. a date truncated to day/month), not a raw timestamp"
            )
        per: dict = {}
        for r in rows:
            per.setdefault(level(r), []).append(r)
        out = SandwichMeat({}, sql=sql)
        for lvl, rs in per.items():
            check_groups(len(rs), kind, keys, by, lvl)
            rs.sort(key=lambda r: (r[keys[0]] is None, r[keys[0]]))
            out.meats[lvl] = []
            for t, p in zip(tags, ps):
                S = [[float(r[f"score{t}_{j}"] or 0.0) for j in range(p)] for r in rs]
                meat, out.g[lvl], _ = nw_combine(np.array(S), lag)
                out.meats[lvl].append(meat)
        return out

    # cluster: one grouped scan over the finest key; every CGM subset is a
    # re-aggregation of that (persisted) score table
    outer = [("n_clusters", count_star())]
    for t, p in zip(tags, ps):
        outer += [
            (f"m{t}_{i}_{j}", asum(Var(f"score{t}_{i}") * Var(f"score{t}_{j}")))
            for i in range(p)
            for j in range(i, p)
        ]
    subsets = [S for r in range(1, len(keys) + 1) for S in combinations(keys, r)]
    scores = _grouped(proj, lead + keys, spec)
    if len(subsets) > 1:
        scores = scores.persist()
    comps: dict = {}
    try:
        for S in subsets:
            tab = scores if len(S) == len(keys) else _grouped(
                scores, lead + list(S), [(n, asum(Var(n))) for n, _ in spec]
            )
            for r in run_agg(tab, outer, by=lead):
                g = int(r["n_clusters"])
                check_groups(g, kind, S, by, level(r))
                meats = block_meats(r, [f"m{t}" for t in tags])
                comps.setdefault(level(r), []).append((len(S), meats, g))
    finally:
        if len(subsets) > 1:
            scores.unpersist()
    out = SandwichMeat({}, sql=sql, passes=len(subsets))
    for lvl, cs in comps.items():
        out.meats[lvl] = []
        for k in range(len(blocks)):
            meat, out.g[lvl] = cgm_combine([(r, m[k], g) for r, m, g in cs])
            out.meats[lvl].append(meat)
    return out


def cgm_combine(comps):
    """Cameron–Gelbach–Miller multiway combination. ``comps``: one
    (subset size, meat, G) per non-empty subset of the cluster variables.
    Returns (effective meat, G_min): V = Σ_S (−1)^{|S|+1} V_S with each
    V_S carrying its own G_S/(G_S − 1); the factors are folded into the
    meat relative to G_min's, so the one CR1 formula with G = G_min (the
    usual reporting choice) returns the exact sum. The n/(n − k) factors
    cancel. One component returns it unchanged. Callers check each G
    (:func:`check_groups`) first."""
    g_min = min(g for r, _, g in comps if r == 1)
    ref = g_min / (g_min - 1.0)
    meat = 0.0
    for r, m, g in comps:
        sign = 1.0 if r % 2 == 1 else -1.0
        meat = meat + sign * ((g / (g - 1.0)) / ref) * m
    return meat, g_min


def nw_combine(S: np.ndarray, lag: int | None = None):
    """Newey-West Bartlett combination of time-ordered per-period score
    sums (T × p): returns (meat, T, lag_used).

        S = Γ₀ + Σ_{l=1..L} (1 − l/(L+1)) (Γ_l + Γ_lᵀ),   Γ_l = Σ_t s_t s_{t−l}ᵀ

    ``lag=None`` uses the plug-in L = floor(4·(T/100)^(2/9)); lag 0 is
    clustering by period."""
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
