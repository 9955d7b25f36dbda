"""Analysis-frame builders: one per strategy.

An *analysis frame* is the DataFrame (and its SQL CTE mirror) over which the
single-row moment aggregation and the optional second-pass "meat" aggregation
both run. Its columns are: FE/cluster keys, the outcome, and the (expanded)
regressor columns — for demean, these hold the *demeaned* (tilde) values; for
mundlak, the group-mean (``_bar_``) columns are appended.

Group means come from ONE grouping-sets aggregation (one row per FE level,
so the full data is never shuffled — the map-side partial aggregation
reduces each scan partition to its distinct FE levels). While the table is
small (``levels.INLINE_VALUES``) it is collected once and rides in every
pass's plan as literals (``plans/levels.py``): the passes are projections
of the scan with no join. Eager fits cache the table before the collect
that counts its levels; past the cap the passes broadcast-join that cache,
so the moment and meat passes still share one means scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..design import DesignInfo
from ..formula import ParsedFormula
from .common import Source, filter_missing, not_null_filter_sql
from .exprs import Expr, Var, to_spark, to_sql
from .levels import inlinable, max_inline_levels, with_levels


@dataclass
class Frame:
    """Analysis frame: Spark side + SQL mirror."""

    df: DataFrame
    y_col: str
    x_cols: list[str]
    key_cols: list[str]  # FE (+cluster) columns carried through
    sql_cte: str | None  # "WITH ... <cte_name> AS (...)" prefix, or None
    cte_name: str
    # cached GROUPING SETS means table (past the inline cap) owned by this
    # frame; executors unpersist it after their last aggregation pass
    cached: DataFrame | None = None
    # extra storage-release hook (e.g. checkpoint blocks of the iterative
    # demeaning loop, which DataFrame.unpersist cannot reach)
    cleanup_fn: object = None
    # exact connected-component count of the FE incidence graph when the
    # compressed iteration computed it (free from the collected pair
    # tables); _finish_demean's exact 2-FE dof uses it without re-scanning
    n_components: int | None = None

    def cleanup(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()
            self.cached = None
        if self.cleanup_fn is not None:
            self.cleanup_fn()
            self.cleanup_fn = None


def _base_select_exprs(
    parsed: ParsedFormula,
    design: DesignInfo,
    extra_cols: list[str],
) -> list[tuple[str, Expr]]:
    """(alias, expr) pairs for the base projection: keys, y, design columns."""
    out: list[tuple[str, Expr]] = []
    for c in extra_cols:
        out.append((c, Var(c)))
    out.append((parsed.yvar, Var(parsed.yvar)))
    for n, e in zip(design.names, design.exprs):
        if n not in {c for c, _ in out}:
            out.append((n, e))
    return out


def build_base_frame(
    source: Source,
    parsed: ParsedFormula,
    design: DesignInfo,
    drop_missings: bool = True,
    extra_cols: list[str] | None = None,
    want_sql: bool = True,
    weight_col: str | None = None,
    extra_filter_cols: list[str] | None = None,
) -> Frame:
    """Base frame: filtered source projected to keys + y + design columns.

    This is the ``WITH base AS (SELECT ... FROM ... WHERE ... IS NOT NULL)``
    CTE of the reference (R/dbreg.R:751, 906-909). The projection plus
    conjunctive null filter compile to a parquet scan with pushed filters and
    a pruned ReadSchema.

    ``weight_col`` rides in the key columns (so every downstream frame
    builder carries it through) and joins the null filter — a null weight
    drops the observation, matching fixest's NA handling for ``weights=``.
    """
    keys = list(
        dict.fromkeys(
            (parsed.fe or [])
            + (extra_cols or [])
            + ([weight_col] if weight_col else [])
        )
    )
    sel = _base_select_exprs(parsed, design, keys)
    # extra_filter_cols join the null filter WITHOUT being projected: the
    # segmented multi-fit threads the FULL union variable set through each
    # segment so every segment sees the same common complete-case sample
    filter_cols = list(
        dict.fromkeys(
            [parsed.yvar]
            + parsed.xvars
            + (parsed.fe or [])
            + ([weight_col] if weight_col else [])
            + (extra_filter_cols or [])
        )
    )

    df = source.df
    if drop_missings:
        df = filter_missing(df, filter_cols)
    df = df.select(*[to_spark(e).alias(n) for n, e in sel])

    sql_cte = None
    if want_sql and source.sql_from:
        cols_sql = ",\n    ".join(
            (to_sql(e) if isinstance(e, Var) and e.name == n else f"{to_sql(e)} AS {n}")
            for n, e in sel
        )
        where = ""
        if drop_missings:
            where = "\n  WHERE " + not_null_filter_sql(filter_cols)
        sql_cte = f"WITH base AS (\n  SELECT\n    {cols_sql}\n  {source.require_sql()}{where}\n)"

    return Frame(
        df=df,
        y_col=parsed.yvar,
        x_cols=list(design.names),
        key_cols=keys,
        sql_cte=sql_cte,
        cte_name="base",
    )


def _wmean_col(c: str, w: str):
    """Weighted mean Σw·c / Σw as a Spark aggregate column.

    Null-aware like AVG: a null c contributes neither numerator nor
    denominator (the denominator conditions w on c's presence — a plain
    SUM(w) would count null-c rows and shrink the mean toward 0 whenever
    drop_missings=False leaves nulls in)."""
    cd = F.col(c).cast("double")
    wd = F.col(w).cast("double")
    return F.sum(cd * wd) / F.sum(F.when(cd.isNotNull(), wd))


def _wmean_sql(c: str, w: str) -> str:
    cd = f"CAST({c} AS DOUBLE)"
    wd = f"CAST({w} AS DOUBLE)"
    return (
        f"SUM({cd} * {wd}) / "
        f"SUM(CASE WHEN {cd} IS NOT NULL THEN {wd} END)"
    )


def _group_means(
    df: DataFrame, sets: list[list[str]], keys: list[str], aggs, n_cols: int,
    cache: bool,
):
    """The per-level means of every grouping set in ``sets`` from ONE
    aggregation (``__gid`` tells the sets apart). Returns ``(rows, None)``
    with the collected rows while they ride in the plan as literals, else
    ``(None, table)`` for joins. With ``cache`` the table is cached before
    the collect that counts its levels, so past the cap every pass reuses
    the one means scan (the caller's Frame owns the table); under the cap
    it is released at once. Keys without a literal form skip the collect."""
    gs = df.groupingSets(sets, *keys).agg(*aggs, F.grouping_id().alias("__gid"))
    if cache:
        gs = gs.cache()
    if all(inlinable(df.schema[k].dataType) for k in keys):
        cap = max_inline_levels(n_cols)
        rows = gs.limit(cap + 1).collect()
        if len(rows) <= cap:
            if cache:
                gs.unpersist()
            return rows, None
    return None, gs


def _attach_means(df, key, gid, cols, rows, gs, bc):
    """``df`` inner-joined with set ``gid``'s means (``cols``: table column
    -> output name): plan literals from ``rows``, or a join of the table
    ``gs``."""
    if rows is not None:
        sub = [r for r in rows if r["__gid"] == gid]
        return with_levels(
            df, key, [r[key] for r in sub],
            {out: [r[c] for r in sub] for c, out in cols.items()},
        )
    means = gs.where(F.col("__gid") == gid).select(
        key, *[F.col(c).alias(out) for c, out in cols.items()]
    )
    return df.join(bc(means), on=key)


def build_demeaned_frame(
    base: Frame,
    fe: list[str],
    broadcast_means: bool = True,
    weight_col: str | None = None,
    carry: list[str] | None = None,
    cache_means: bool = True,
) -> Frame:
    """Attach group means and demean (reference: R/dbreg.R:902-1053).

    1 FE:  ṽ = v − mean(v | fe1)
    2 FE:  ṽ = v − mean(v | fe1) − mean(v | fe2) + mean(v)   (balanced TWFE)

    Spark formulation: every mean (per FE level, and the grand mean) from
    ONE grouping-sets aggregation (:func:`_group_means`); the demeaned
    frame is a projection of the scan with the means as plan literals, or
    broadcast joins of the cached table past the inline cap. The big table
    is never shuffled.

    ``weight_col`` switches to w-weighted group means (exact weighted FWL
    for 1 FE; callers route weighted k≥2 fits to the iterative path — the
    double-demean identity does not hold under weights even on balanced
    grids) and carries the weight column through for the moment pass.
    ``carry`` names extra columns (cluster keys) kept in the frame.
    ``cache_means=False`` leaves a past-the-cap means table uncached, for
    callers that consume the frame lazily and cannot release it.
    """
    vals = [base.y_col] + base.x_cols
    bc = F.broadcast if broadcast_means else (lambda d: d)
    carry = [c for c in carry or [] if c not in fe and c != weight_col]
    prefix = "".join(f"b.{c}, " for c in carry)

    if len(fe) == 1:
        fe1 = fe[0]
        if weight_col is not None:
            aggs = [_wmean_col(c, weight_col).alias(f"{c}__m1") for c in vals]
        else:
            aggs = [F.avg(c).alias(f"{c}__m1") for c in vals]
        rows, gs = _group_means(
            base.df, [[fe1]], [fe1], aggs, len(vals), cache_means
        )
        keep = [fe1] + ([weight_col] if weight_col is not None else [])
        dm = _attach_means(
            base.df, fe1, 0, {f"{c}__m1": f"{c}__m1" for c in vals}, rows, gs, bc
        ).select(
            fe1,
            *carry,
            *keep[1:],
            *[(F.col(c) - F.col(f"{c}__m1")).alias(c) for c in vals],
        )
        sql_cte = None
        if base.sql_cte:
            if weight_col is not None:
                mean_cols = ", ".join(
                    f"{_wmean_sql(c, weight_col)} AS {c}__m1" for c in vals
                )
            else:
                mean_cols = ", ".join(f"AVG({c}) AS {c}__m1" for c in vals)
            tilde = ",\n    ".join(
                f"(b.{c} - gm.{c}__m1) AS {c}" for c in vals
            )
            keep_sql = ", ".join(f"b.{k}" for k in keep)
            sql_cte = (
                f"{base.sql_cte},\ngroup_means AS (\n  SELECT {fe1}, {mean_cols}"
                f" FROM {base.cte_name} GROUP BY {fe1}\n),\n"
                f"demeaned AS (\n  SELECT {prefix}{keep_sql},\n    {tilde}\n"
                f"  FROM {base.cte_name} b JOIN group_means gm ON b.{fe1} = gm.{fe1}\n)"
            )
        keys = [fe1] + carry + keep[1:]
        return Frame(
            dm, base.y_col, base.x_cols, keys, sql_cte, "demeaned",
            cached=gs if cache_means else None,
        )

    if weight_col is not None:
        raise ValueError(
            "weighted double demeaning is not exact; callers must route "
            "weighted k>=2 FE fits to the iterative path"
        )
    fe1, fe2 = fe[0], fe[1]
    # ONE scan computes unit means, time means AND the grand mean via
    # GROUPING SETS ((fe1),(fe2),()) — separate groupBys would re-read the
    # source three times. The result is G1+G2+1 tiny rows.
    rows, gs = _group_means(
        base.df, [[fe1], [fe2], []], [fe1, fe2],
        [F.avg(c).alias(f"{c}__m") for c in vals], len(vals), cache_means,
    )
    dm = _attach_means(
        base.df, fe1, 1, {f"{c}__m": f"{c}__m1" for c in vals}, rows, gs, bc
    )
    dm = _attach_means(
        dm, fe2, 2, {f"{c}__m": f"{c}__m2" for c in vals}, rows, gs, bc
    )
    if rows is not None:
        (grand,) = [r for r in rows if r["__gid"] == 3]
        om = {c: F.lit(grand[f"{c}__m"]).cast("double") for c in vals}
    else:
        dm = dm.crossJoin(
            bc(gs.where("__gid = 3").select(
                *[F.col(f"{c}__m").alias(f"{c}__mo") for c in vals]
            ))
        )
        om = {c: F.col(f"{c}__mo") for c in vals}
    dm = dm.select(
        fe1,
        fe2,
        *carry,
        *[
            (F.col(c) - F.col(f"{c}__m1") - F.col(f"{c}__m2") + om[c]).alias(c)
            for c in vals
        ],
    )
    sql_cte = None
    if base.sql_cte:
        u_cols = ", ".join(f"AVG({c}) AS {c}__m1" for c in vals)
        t_cols = ", ".join(f"AVG({c}) AS {c}__m2" for c in vals)
        o_cols = ", ".join(f"AVG({c}) AS {c}__mo" for c in vals)
        tilde = ",\n    ".join(
            f"(b.{c} - um.{c}__m1 - tm.{c}__m2 + o.{c}__mo) AS {c}" for c in vals
        )
        sql_cte = (
            f"{base.sql_cte},\n"
            f"unit_means AS (\n  SELECT {fe1}, {u_cols} FROM {base.cte_name} GROUP BY {fe1}\n),\n"
            f"time_means AS (\n  SELECT {fe2}, {t_cols} FROM {base.cte_name} GROUP BY {fe2}\n),\n"
            f"overall AS (\n  SELECT {o_cols} FROM {base.cte_name}\n),\n"
            f"demeaned AS (\n  SELECT {prefix}b.{fe1}, b.{fe2},\n    {tilde}\n"
            f"  FROM {base.cte_name} b\n"
            f"  JOIN unit_means um ON b.{fe1} = um.{fe1}\n"
            f"  JOIN time_means tm ON b.{fe2} = tm.{fe2}\n"
            f"  CROSS JOIN overall o\n)"
        )
    return Frame(
        dm, base.y_col, base.x_cols, [fe1, fe2] + carry, sql_cte, "demeaned",
        cached=gs if cache_means else None,
    )


def build_demeaned_frame_iterative(
    base: Frame,
    fe: list[str],
    broadcast_means: bool = True,
    sweeps: int | None = None,
    tol: float = 1e-6,
    max_sweeps: int = 60,
    weight_col: str | None = None,
) -> Frame:
    """k-FE demeaning by alternating projections — Gauss-Seidel sweeps over
    the per-FE group-mean operators (the same fixed point fixest's demeaning
    loop converges to; beyond the reference, which caps at 2 FEs).

    Each sweep subtracts per-FE means (tiny groupBy tables, broadcast back;
    the big table is never shuffled). ``sweeps=N`` runs exactly N sweeps
    with no convergence actions and emits the SQL mirror — deterministic,
    used by the correctness gate. ``sweeps=None`` iterates adaptively: the
    subtracted mean columns are carried through the sweep plan and their
    max magnitude is collected as an ``Observation`` metric DURING the
    checkpoint job — convergence costs zero extra passes over the data
    (k broadcast builds + 1 checkpoint job per sweep; VERDICT r03 #6 cut
    the former separate GROUPING-SETS delta scan). The loop stops when the
    largest mean subtracted in a sweep drops below ``tol`` relative to the
    first sweep's (the applied update bounds the post-sweep residual, so
    this is the standard alternating-projections stop). The previous
    sweep's cache is released as soon as the next materializes; the final
    cache is owned by the returned Frame (``Frame.cleanup``)."""
    vals = [base.y_col] + base.x_cols
    # the weight column rides in key_cols (callers pass it as an extra col),
    # so every sweep's select carries it through untouched
    keys = list(base.key_cols)
    bc = F.broadcast if broadcast_means else (lambda d: d)

    def _mean_agg(c: str, alias: str):
        if weight_col is not None:
            return _wmean_col(c, weight_col).alias(alias)
        return F.avg(c).alias(alias)

    def one_sweep(df: DataFrame) -> DataFrame:
        for f in fe:
            # each level reads `df` TWICE (the means aggregate + the join's
            # probe side): left as pure lineage the subtree count doubles
            # per level — 2^(k·sweeps) replays of the base scan (the r9
            # 3-FE gate plan carried 256 Exchanges). A localCheckpoint per
            # level truncates the plan to a constant-size LogicalRDD, so
            # every level runs ONE scan of the previous level's rows
            # (guide §5 — lineage; §2.4 — duplicated subtrees).
            df = df.localCheckpoint(eager=True)
            means = df.groupBy(f).agg(*[_mean_agg(c, f"{c}__m") for c in vals])
            df = df.join(bc(means), on=f).select(
                *keys, *[(F.col(c) - F.col(f"{c}__m")).alias(c) for c in vals]
            )
        return df

    if sweeps is not None:
        cur = base.df
        for _ in range(sweeps):
            cur = one_sweep(cur)
        sql_cte = None
        if base.sql_cte:
            parts = []
            prev = base.cte_name
            step = 0
            key_sql = ", ".join(f"b.{k}" for k in keys)
            for s in range(sweeps):
                for f in fe:
                    mname, dname = f"gm_{step}", f"dm_{step}"
                    step += 1
                    if weight_col is not None:
                        mean_cols = ", ".join(
                            f"{_wmean_sql(c, weight_col)} AS {c}__m" for c in vals
                        )
                    else:
                        mean_cols = ", ".join(f"AVG({c}) AS {c}__m" for c in vals)
                    tilde = ", ".join(f"(b.{c} - m.{c}__m) AS {c}" for c in vals)
                    parts.append(
                        f"{mname} AS (SELECT {f}, {mean_cols} FROM {prev} GROUP BY {f})"
                    )
                    parts.append(
                        f"{dname} AS (SELECT {key_sql}, {tilde} FROM {prev} b "
                        f"JOIN {mname} m ON b.{f} = m.{f})"
                    )
                    prev = dname
            sql_cte = f"{base.sql_cte},\n" + ",\n".join(parts)
            return Frame(cur, base.y_col, base.x_cols, keys, sql_cte, prev)
        return Frame(cur, base.y_col, base.x_cols, keys, None, "demeaned_iter")

    # Primary adaptive path: the projections only need per-FE sums/counts
    # and pairwise co-occurrence counts — ONE grouping-sets scan collects
    # them, the Gauss-Seidel iteration runs driver-side in numpy (zero
    # Spark jobs per sweep), and one transform pass applies the accumulated
    # per-level offsets. Falls back to data-resident sweeps when the
    # level/pair tables are too large to collect (or nulls demand Spark's
    # avg semantics).
    compressed = _demeaned_iterative_compressed(
        base, fe, vals, keys, tol, weight_col, broadcast_means
    )
    if compressed is not None:
        return compressed

    # Fallback adaptive loop. Each sweep is localCheckpoint-ed: persist
    # alone keeps the full logical plan, and Catalyst re-analysis of
    # k·sweeps nested joins grows superlinearly (measured: sweep time
    # doubling by sweep 3). Checkpointing truncates the plan to a
    # constant-size LogicalRDD; the previous sweep's blocks are freed
    # deterministically through the JVM persistent-RDD map
    # (DataFrame.unpersist cannot reach checkpoint storage), so at most two
    # sweeps' blocks are ever alive.
    from pyspark.sql import Observation

    sc = base.df.sparkSession.sparkContext

    def _persistent_ids() -> set:
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    def _release(ids: set) -> None:
        m = sc._jsc.getPersistentRDDs()
        for rid in ids:
            if m.containsKey(rid):
                m.get(rid).unpersist(False)

    def one_sweep_observed(df: DataFrame) -> tuple[DataFrame, Observation]:
        """Gauss-Seidel sweep with the subtracted mean columns kept in the
        row (distinct names per FE), so max|mean| rides the checkpoint job
        as an Observation metric instead of its own full-data pass."""
        out = df
        mean_names: list[str] = []
        for fi, f in enumerate(fe):
            mcols = [f"{c}__m{fi}" for c in vals]
            means = out.groupBy(f).agg(
                *[_mean_agg(c, m) for c, m in zip(vals, mcols)]
            )
            out = out.join(bc(means), on=f).withColumns(
                {c: F.col(c) - F.col(m) for c, m in zip(vals, mcols)}
            )
            mean_names.extend(mcols)
        absm = [F.abs(F.col(m)) for m in mean_names]
        chk = absm[0] if len(absm) == 1 else F.greatest(*absm)
        obs = Observation()
        staged = out.observe(obs, F.max(chk).alias("d"))
        return staged.select(*keys, *vals), obs

    cur = base.df
    prev_ids: set = set()
    scale = None
    prev_delta = None
    for _ in range(max_sweeps):
        ids0 = _persistent_ids()
        staged, obs = one_sweep_observed(cur)
        cur = staged.localCheckpoint(eager=True)
        my_ids = _persistent_ids() - ids0
        delta = float(obs.get["d"] or 0.0)
        _release(prev_ids)
        prev_ids = my_ids
        if scale is None:
            # the first sweep's update magnitude is the natural scale
            # (proportional to the data's raw FE-mean magnitude); the
            # contraction factor per sweep is typically 1e-3..1e-4, so a
            # relative tol of 1e-6 costs 2-3 sweeps and leaves coefficient
            # error orders below the 1e-6 test tolerance
            scale = max(delta, 1e-300)
        # the update applied in sweep s bounds the post-sweep residual by
        # delta·r with r the per-sweep contraction; stopping on the
        # PREDICTED residual (observed ratio, conservative 1e-3 floor)
        # saves the would-be confirmation sweep on fast-contracting panels
        r_hat = 1.0 if prev_delta is None else max(min(delta / prev_delta, 1.0), 1e-3)
        if delta <= tol * scale or (prev_delta is not None and delta * r_hat <= tol * scale):
            break
        prev_delta = delta
    final_ids = prev_ids
    return Frame(
        cur, base.y_col, base.x_cols, keys, None, "demeaned_iter",
        cleanup_fn=lambda: _release(final_ids),
    )


# driver-side iteration guard: collect the level/pair stats only while they
# fit comfortably (rows ≈ Σ G_f + Σ |pairs(f,f')|); past this the
# data-resident sweep loop takes over
COMPRESSED_ITER_NMAX = 5_000_000


def _demeaned_iterative_compressed(
    base: Frame, fe: list[str], vals: list[str], keys: list[str],
    tol: float, weight_col: str | None = None, broadcast: bool = True,
) -> Frame | None:
    """k-FE alternating projections on COMPRESSED statistics (VERDICT r03
    #6; the in-memory formulation fixest's demeaning loop uses, re-shaped
    for Spark).

    Every sweep only reads per-FE-level means of the current residuals, and
    the residual after any number of sweeps is x − Σ_f δ_f[level] for
    accumulated per-level offsets δ. The level means of the residual are
    therefore S_f/n_f − δ_f − Σ_{f'≠f} C_ff' δ_f' / n_f with S/n the raw
    per-level sums/counts and C_ff' the pairwise co-occurrence counts — so
    the WHOLE Gauss-Seidel loop runs on tables of Σ G_f + Σ |pairs| rows:

    - ONE grouping-sets scan of the data collects S, n, C (and a global
      null probe);
    - the iteration runs driver-side in numpy (a sweep is k·m bincounts
      over the pair triplets — microseconds, no Spark jobs), iterated to
      1e-12 relative, far past the sweep loop's tol;
    - one transform pass applies the offsets via level→δ lookups (plan
      literals up to the inline cap) and localCheckpoints the result.

    Total full-data passes: 2, independent of sweep count (the fallback
    loop pays ~2 scans per sweep). Returns None — falling back to the
    data-resident loop — when the stats exceed COMPRESSED_ITER_NMAX rows /
    the driver cap, or when null FE levels or null values require Spark's
    null-ignoring avg semantics row-by-row."""
    df = base.df
    k = len(fe)
    stats = fe_level_stats(df, fe, vals, weight_col)
    if stats is None:
        return None
    levels, counts, sums, pairs = stats
    delta = gauss_seidel_offsets(levels, counts, sums, pairs)
    n_comp = fe_components(levels, pairs)[1] if k >= 2 else 1

    # apply: level→δ lookups (plan literals, or broadcast joins past the
    # inline cap), one projection, checkpointed
    spark = df.sparkSession
    out = df
    for i, f in enumerate(fe):
        out = with_levels(
            out, f, levels[i],
            {f"__d{i}_{col}": delta[i][:, col] for col in range(len(vals))},
            how="left", broadcast=broadcast,
        )
    new_vals = [
        (
            F.col(c).cast("double")
            - sum(F.col(f"__d{i}_{col}") for i in range(k))
        ).alias(c)
        for col, c in enumerate(vals)
    ]
    final = out.select(*keys, *new_vals)

    sc = spark.sparkContext

    def _persistent_ids() -> set:
        return {int(kk) for kk in sc._jsc.getPersistentRDDs().keySet().toArray()}

    ids0 = _persistent_ids()
    cur = final.localCheckpoint(eager=True)
    my_ids = _persistent_ids() - ids0

    def _release() -> None:
        mmap = sc._jsc.getPersistentRDDs()
        for rid in my_ids:
            if mmap.containsKey(rid):
                mmap.get(rid).unpersist(False)

    return Frame(
        cur, base.y_col, base.x_cols, keys, None, "demeaned_iter",
        cleanup_fn=_release, n_components=n_comp,
    )


def fe_level_stats(
    df: DataFrame, fe: list[str], vals: list[str], weight_col: str | None = None
):
    """ONE grouping-sets scan collecting everything the alternating-
    projection algebra needs: per-FE-level counts and value sums, pairwise
    co-occurrence counts, and a global null probe.

    Returns ``(levels, counts, sums, pairs)`` with ``levels[i]`` the level
    array of ``fe[i]``, ``counts[i]`` its row counts, ``sums[i]`` a
    (G_i × len(vals)) sum matrix, and ``pairs[(a, b)] = (codes_a, codes_b,
    n)`` co-occurrence triplets — or None when the stats exceed
    COMPRESSED_ITER_NMAX / the driver cap or nulls require row-level
    semantics (callers fall back to data-resident sweeps).

    ``weight_col`` makes it the WEIGHTED statistics: counts become Σw per
    level and the co-occurrence triplets carry Σw — the same Gauss-Seidel
    algebra then converges to the weighted alternating projections
    (weighted means everywhere). Null detection stays on raw row counts.
    """
    from itertools import combinations

    import numpy as np
    import pandas as pd

    k = len(fe)
    m = len(vals)
    sets = [[f] for f in fe] + [list(p) for p in combinations(fe, 2)] + [[]]
    aggs = [F.count(F.lit(1)).alias("__n")]
    if weight_col is not None:
        aggs.append(F.sum(F.col(weight_col).cast("double")).alias("__w"))
    for i, c in enumerate(vals):
        if weight_col is not None:
            aggs.append(
                F.sum(
                    F.col(c).cast("double") * F.col(weight_col).cast("double")
                ).alias(f"__s_{i}")
            )
        else:
            aggs.append(F.sum(F.col(c).cast("double")).alias(f"__s_{i}"))
        aggs.append(F.count(F.col(c)).alias(f"__c_{i}"))
    try:
        gs = (
            df.groupingSets(sets, *fe)
            .agg(F.grouping_id(*fe).alias("__gid"), *aggs)
        )
        stats = gs.toPandas()
    except Exception as exc:
        from ..guards import is_result_too_large

        if is_result_too_large(exc):
            return None
        raise
    if len(stats) > COMPRESSED_ITER_NMAX:
        return None

    all_mask = (1 << k) - 1
    glob = stats[stats["__gid"] == all_mask]
    if len(glob) != 1:
        return None
    grow = glob.iloc[0]
    n_total = float(grow["__n"])
    for i in range(m):
        if float(grow[f"__c_{i}"]) != n_total:
            return None  # null values: Spark avg semantics needed row-wise

    # singleton tables: gid with only bit (k-1-i) cleared
    ncol = "__w" if weight_col is not None else "__n"
    levels, counts, sums = [], [], []
    for i, f in enumerate(fe):
        gid = all_mask ^ (1 << (k - 1 - i))
        sub = stats[stats["__gid"] == gid]
        if sub[f].isna().any():
            return None  # null FE level: groupBy-null semantics in fallback
        levels.append(sub[f].to_numpy())
        counts.append(sub[ncol].to_numpy(dtype=float))
        sums.append(
            np.column_stack([sub[f"__s_{i2}"].to_numpy(dtype=float) for i2 in range(m)])
        )
    index = [pd.Index(lv) for lv in levels]

    # pair triplets (codes into each side's level vector, co-occurrence n)
    pairs = {}
    for a, b in combinations(range(k), 2):
        gid = all_mask ^ (1 << (k - 1 - a)) ^ (1 << (k - 1 - b))
        sub = stats[stats["__gid"] == gid]
        ca = index[a].get_indexer(sub[fe[a]])
        cb = index[b].get_indexer(sub[fe[b]])
        pairs[(a, b)] = (ca, cb, sub[ncol].to_numpy(dtype=float))
    return levels, counts, sums, pairs


def gauss_seidel_offsets(levels, counts, sums, pairs, tol: float = 1e-12):
    """Driver-side Gauss-Seidel on the compressed FE statistics: returns
    per-FE offset matrices δ_i (G_i × m) whose per-level sums reproduce the
    converged alternating-projection transform (a sweep is k·m bincounts
    over the pair triplets — microseconds, no Spark jobs)."""
    import numpy as np

    k = len(levels)
    m = sums[0].shape[1]
    delta = [np.zeros((len(levels[i]), m)) for i in range(k)]
    scale = None
    for _ in range(2000):
        upd = 0.0
        for i in range(k):
            acc = sums[i].copy()
            for j in range(k):
                if j == i:
                    continue
                ca, cb, cnt = pairs[(min(i, j), max(i, j))]
                ci, cj = (ca, cb) if i < j else (cb, ca)
                for col in range(m):
                    acc[:, col] -= np.bincount(
                        ci, weights=cnt * delta[j][cj, col], minlength=len(levels[i])
                    )
            upd_i = acc / counts[i][:, None] - delta[i]
            delta[i] += upd_i
            upd = max(upd, float(np.abs(upd_i).max(initial=0.0)))
        if scale is None:
            scale = max(upd, 1e-300)
        if upd <= tol * scale:
            break
    return delta


def fe_components(levels, pairs):
    """Connected components of the k-partite FE incidence graph from the
    collected pair triplets: returns per-FE arrays of component labels
    (and the component count) via union-find — the exact rank of the FE
    dummy space is Σ G_f − (k−1)·C on each connected piece, i.e.
    G_1 + Σ_{f≥2}(G_f − 1) only when C = 1."""
    import numpy as np

    k = len(levels)
    offs = np.cumsum([0] + [len(lv) for lv in levels])
    parent = np.arange(offs[-1])

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for (a, b), (ca, cb, _cnt) in pairs.items():
        for u, v in zip(ca + offs[a], cb + offs[b]):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
    roots = np.array([find(x) for x in range(offs[-1])])
    uniq, labels = np.unique(roots, return_inverse=True)
    per_fe = [labels[offs[i]: offs[i + 1]] for i in range(k)]
    return per_fe, len(uniq)


def build_mundlak_frame(
    base: Frame,
    fe: list[str],
    numeric_xvars: list[str],
    broadcast_means: bool = True,
    weight_col: str | None = None,
    cache_means: bool = True,
) -> Frame:
    """Augment with per-FE group means of the numeric regressors
    (reference: R/dbreg.R:1295-1332). ``x_bar_fek`` columns are appended; the
    regression is y on [X, x̄₁, …, x̄ₖ] *with* intercept — the CRE/Mundlak
    estimator. ``weight_col`` switches to w-weighted group means (the CRE
    augmentation that reproduces the weighted within estimator)."""
    bc = F.broadcast if broadcast_means else (lambda d: d)
    numeric_in_frame = [v for v in numeric_xvars if v in base.x_cols]
    df = base.df

    def _m_agg(v: str, alias: str):
        if weight_col is not None:
            return _wmean_col(v, weight_col).alias(alias)
        return F.avg(v).alias(alias)

    def _m_sql(v: str) -> str:
        if weight_col is not None:
            return _wmean_sql(v, weight_col)
        return f"AVG({v})"

    # all per-FE mean tables from ONE scan via GROUPING SETS ((fe1),...,(fek))
    # (k separate groupBys would re-read the source k times). grouping_id
    # bit for fe_i is set when fe_i is aggregated away, so the set that
    # groups BY fe_i has gid = all-ones minus fe_i's bit.
    rows = gs = None
    if numeric_in_frame:
        rows, gs = _group_means(
            base.df, [[f] for f in fe], fe,
            [_m_agg(v, f"{v}__m") for v in numeric_in_frame],
            len(numeric_in_frame), cache_means,
        )
    all_ones = (1 << len(fe)) - 1

    xbar_all: list[str] = []
    sql_parts: list[str] = []
    join_sql: list[str] = []
    for k, fe_k in enumerate(fe, start=1):
        suffix = f"_bar_{fe_k}"
        xbar_k = [f"{v}{suffix}" for v in numeric_in_frame]
        xbar_all.extend(xbar_k)
        if numeric_in_frame:
            df = _attach_means(
                df, fe_k, all_ones ^ (1 << (len(fe) - k)),
                {f"{v}__m": f"{v}{suffix}" for v in numeric_in_frame},
                rows, gs, bc,
            )
            mc = ", ".join(
                f"{_m_sql(v)} AS {v}{suffix}" for v in numeric_in_frame
            )
            sql_parts.append(
                f"fe{k}_means AS (SELECT {fe_k}, {mc} FROM {base.cte_name} GROUP BY {fe_k})"
            )
            join_sql.append(f"JOIN fe{k}_means m{k} ON b.{fe_k} = m{k}.{fe_k}")

    sql_cte = None
    if base.sql_cte:
        aug_cols = ", ".join(
            [f"b.{c}" for c in base.key_cols + [base.y_col] + base.x_cols]
            + [
                f"m{k}.{v}_bar_{fe_k}"
                for k, fe_k in enumerate(fe, start=1)
                for v in numeric_in_frame
            ]
        )
        sql_cte = (
            f"{base.sql_cte},\n"
            + ",\n".join(sql_parts)
            + (",\n" if sql_parts else "")
            + f"augmented AS (SELECT {aug_cols} FROM {base.cte_name} b "
            + " ".join(join_sql)
            + ")"
        )
    return Frame(
        df=df,
        y_col=base.y_col,
        x_cols=base.x_cols + xbar_all,
        key_cols=base.key_cols,
        sql_cte=sql_cte,
        cte_name="augmented",
        cached=gs if cache_means else None,
    )
