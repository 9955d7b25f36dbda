"""Distributed WLS on compressed cells past the driver-transfer cap.

When the compressed cell table exceeds ``compress_nmax`` the reference
refuses outright (reference: R/dbreg.R:1575-1580, "compressed data is still
too large"). Here the same WLS problem is solved WITHOUT collecting the
cells: X'WX / X'Wy are assembled from blocked groupBy aggregates — dummy ×
dummy products are weighted contingency tables, dummy × numeric products are
per-level weighted sums — so only O(p² + Σ_f G_f) aggregate rows ever reach
the driver, never the cells. This is the distributed twin of
:class:`dbreg_spark.wls.CellDesign` (same block structure, same column
order, same estimator), and everything stays in JVM-side ``groupBy().agg()``
— no UDFs, map-side partial aggregation, tiny results.

Scale shape at 100 TB: one shuffle for the cell groupBy (carried by the
caller's persisted frame), then 1 global + k per-factor + k(k−1)/2
factor-pair aggregations over the cached cells, each returning at most
G_f (or G_f·G_g co-occurrence) rows. The driver solves a dense p×p system
with p = 1 + #numeric + Σ(G_f − 1), capped by ``p_max``; beyond the cap the
right tool is demean/mundlak (which absorb high-cardinality FEs analytically)
and a clear error says so.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .plans.levels import with_levels

# hard cap on the expanded design width for the dense driver solve:
# 2048² doubles = 32 MiB Gram, O(p³) solve ≈ seconds
DEFAULT_P_MAX = 2048


@dataclass
class GramBlock:
    kind: str  # "const" | "num" | "cat"
    var: str | None
    levels: list | None  # cat: non-reference levels, ascending (ref dropped)
    offset: int = 0

    @property
    def ncols(self) -> int:
        return len(self.levels) if self.kind == "cat" else 1


def build_blocks(
    comp: DataFrame,
    design_names: list[str],
    fe: list[str],
    p_max: int = DEFAULT_P_MAX,
) -> tuple[list[GramBlock], list[str], dict]:
    """Block structure over the cell table, mirroring CellDesign's column
    order (wls.py:50-70): intercept, design vars in order (string/bool ⇒
    categorical), then FE vars (always categorical)."""
    schema = {f.name: f.dataType for f in comp.schema.fields}

    def _is_cat(v: str) -> bool:
        return isinstance(schema[v], (T.StringType, T.BooleanType))

    # mirror CellDesign exactly (wls.py): design vars categorical by DTYPE,
    # every fe var forced categorical — even when it also appears as a
    # numeric regressor (then it gets BOTH a numeric and a dummy block)
    design_cat = [v for v in design_names if _is_cat(v)]
    cat_occurrences = design_cat + list(fe)
    cat_unique = list(dict.fromkeys(cat_occurrences))
    n_num = len(design_names) - len(design_cat)

    if cat_unique:
        # one pass: approximate width guard + null-level detection
        row = comp.agg(
            *[
                F.approx_count_distinct(v, rsd=0.02).alias(f"__c_{i}")
                for i, v in enumerate(cat_unique)
            ],
            *[
                F.sum(F.col(v).isNull().cast("long")).alias(f"__n_{i}")
                for i, v in enumerate(cat_unique)
            ],
        ).collect()[0]
        approx = {v: row[f"__c_{i}"] for i, v in enumerate(cat_unique)}
        nullv = [v for i, v in enumerate(cat_unique) if (row[f"__n_{i}"] or 0) > 0]
        if nullv:
            raise ValueError(
                f"[dbreg] categorical/FE column(s) {nullv} contain NULLs; "
                "use drop_missings=True (the default) or fill them — a "
                "NULL has no dummy level."
            )
        p_est = 1 + n_num + sum(
            max(approx[v] - 1, 0) for v in cat_occurrences
        )
        if p_est > p_max:
            raise ValueError(
                f"[dbreg] distributed-Gram fallback: expanded design width "
                f"≈{p_est:,} exceeds p_max ({p_max:,}) — a dense solve is "
                "infeasible. Use strategy='demean' or 'mundlak' (they absorb "
                "high-cardinality FEs without dummy expansion)."
            )

    levels: dict = {}
    for v in cat_unique:
        lv = [
            r[0]
            for r in comp.select(v).where(F.col(v).isNotNull()).distinct().orderBy(v).collect()
        ]
        levels[v] = lv

    blocks = [GramBlock("const", None, None)]
    for v in design_names:
        if v in design_cat:
            blocks.append(GramBlock("cat", v, levels[v][1:]))
        else:
            blocks.append(GramBlock("num", v, None))
    for v in fe:
        blocks.append(GramBlock("cat", v, levels[v][1:]))

    off = 0
    col_names: list[str] = []
    for b in blocks:
        b.offset = off
        off += b.ncols
        if b.kind == "const":
            col_names.append("(Intercept)")
        elif b.kind == "num":
            col_names.append(b.var)
        else:
            col_names.extend(f"{b.var}{lvl}" for lvl in b.levels)
    return blocks, col_names, levels


def _num_vars(blocks: list[GramBlock]) -> list[GramBlock]:
    return [b for b in blocks if b.kind == "num"]

def _cat_blocks(blocks: list[GramBlock]) -> list[GramBlock]:
    return [b for b in blocks if b.kind == "cat" and b.ncols > 0]


def blocked_gram(
    comp: DataFrame,
    blocks: list[GramBlock],
    wcol: str,
    with_y: bool = False,
) -> dict:
    """Assemble X' diag(w) X (and optionally X'·sum_y, Σ sum_y_sq) from
    blocked aggregations. Returns {"xtx": (p,p), ["xty": (p,), "syy": float]}.

    Jobs: 1 global agg (numeric moments) + one groupBy per categorical block
    + one groupBy per categorical pair — all over the (cached) cell table,
    each with map-side partial aggregation and tiny results.
    """
    p = sum(b.ncols for b in blocks)
    nums = _num_vars(blocks)
    cats = _cat_blocks(blocks)
    w = F.col(wcol).cast("double")

    def xv(b: GramBlock):
        return F.col(b.var).cast("double")

    # ---- global pass: constants and numeric moments -----------------------
    aggs = [F.sum(w).alias("__w")]
    if with_y:
        aggs += [
            F.sum(F.col("sum_y").cast("double")).alias("__sy"),
            F.sum(F.col("sum_y_sq").cast("double")).alias("__syy"),
        ]
    for i, bi in enumerate(nums):
        aggs.append(F.sum(w * xv(bi)).alias(f"__w_{i}"))
        if with_y:
            aggs.append(F.sum(F.col("sum_y").cast("double") * xv(bi)).alias(f"__sy_{i}"))
        for j in range(i, len(nums)):
            aggs.append(F.sum(w * xv(bi) * xv(nums[j])).alias(f"__w_{i}_{j}"))
    row = comp.agg(*aggs).collect()[0]

    xtx = np.zeros((p, p))
    xty = np.zeros(p) if with_y else None
    xtx[0, 0] = row["__w"] or 0.0
    if with_y:
        xty[0] = row["__sy"] or 0.0
    for i, bi in enumerate(nums):
        xtx[0, bi.offset] = row[f"__w_{i}"] or 0.0
        if with_y:
            xty[bi.offset] = row[f"__sy_{i}"] or 0.0
        for j in range(i, len(nums)):
            xtx[bi.offset, nums[j].offset] = row[f"__w_{i}_{j}"] or 0.0

    # ---- per-categorical pass: Σw, Σ sum_y, Σ w·x_i per level -------------
    for b in cats:
        aggs = [F.sum(w).alias("__w")]
        if with_y:
            aggs.append(F.sum(F.col("sum_y").cast("double")).alias("__sy"))
        aggs += [F.sum(w * xv(bi)).alias(f"__wx_{i}") for i, bi in enumerate(nums)]
        rows = comp.groupBy(b.var).agg(*aggs).collect()
        colof = {lvl: b.offset + k for k, lvl in enumerate(b.levels)}
        for r in rows:
            c = colof.get(r[b.var])
            if c is None:
                continue  # reference level (or null) carries no column
            xtx[c, c] = r["__w"] or 0.0
            xtx[0, c] = r["__w"] or 0.0
            if with_y:
                xty[c] = r["__sy"] or 0.0
            for i, bi in enumerate(nums):
                xtx[min(bi.offset, c), max(bi.offset, c)] = r[f"__wx_{i}"] or 0.0

    # ---- categorical-pair pass: weighted co-occurrence tables -------------
    for a_i in range(len(cats)):
        for b_i in range(a_i + 1, len(cats)):
            ba, bb = cats[a_i], cats[b_i]
            rows = comp.groupBy(ba.var, bb.var).agg(F.sum(w).alias("__w")).collect()
            ca = {lvl: ba.offset + k for k, lvl in enumerate(ba.levels)}
            cb = {lvl: bb.offset + k for k, lvl in enumerate(bb.levels)}
            for r in rows:
                ia, ib = ca.get(r[ba.var]), cb.get(r[bb.var])
                if ia is None or ib is None:
                    continue
                xtx[min(ia, ib), max(ia, ib)] = r["__w"] or 0.0

    iu = np.triu_indices(p, k=1)
    xtx[(iu[1], iu[0])] = xtx[iu]
    out = {"xtx": xtx}
    if with_y:
        out["xty"] = xty
        out["syy"] = float(row["__syy"] or 0.0)
    return out


def blocked_cluster_meat(
    scored_cc: DataFrame,
    blocks: list[GramBlock],
    cluster_col: str | list[str],
    ucol: str = "__u",
) -> tuple[np.ndarray, int]:
    """CR1 meat Σ_g s_g s_gᵀ assembled distributively from per-cluster score
    blocks, never collecting per-cluster vectors:

    - dense scores (intercept + numerics): ``T1 = groupBy(cluster)`` —
      G rows × (1+#num) columns; their products come from ONE single-row agg;
    - categorical scores: ``Tv = groupBy(cluster, v)`` per block (sparse —
      one row per (cluster, present level));
    - cross blocks: T1⋈Tv / Tv⋈Tw equi-joins on the cluster key, then a
      groupBy on the level pair — results are at most G_v·G_w rows.

    Everything is JVM-side groupBy/join; the driver only receives p×p
    pieces. ``scored_cc`` is the (cluster × cell) table with the residual
    sum ``ucol`` already attached. ``cluster_col`` may be a list — the
    cluster key is then the interaction of those columns (CGM subset
    components cluster this way)."""
    ccols0 = [cluster_col] if isinstance(cluster_col, str) else list(cluster_col)
    p = sum(b.ncols for b in blocks)
    nums = _num_vars(blocks)
    cats = _cat_blocks(blocks)
    u = F.col(ucol)

    # wrap the cluster key in ONE struct column: struct equality is
    # null-safe, so a NULL cluster key is the same real cluster in every
    # groupBy AND every cross-block join below (plain equi-joins would
    # drop it from the cross blocks while the dense block counted it —
    # an inconsistent meat matrix)
    scored_cc = scored_cc.withColumn("__ck", F.struct(*ccols0))
    ccols = ["__ck"]

    dense_cols = [F.sum(u).alias("s_0")] + [
        F.sum(u * F.col(b.var).cast("double")).alias(f"s_{i + 1}")
        for i, b in enumerate(nums)
    ]
    t1 = scored_cc.groupBy(*ccols).agg(*dense_cols)
    t1 = t1.persist()
    cat_tables: dict = {}
    try:
        n_clusters = t1.count()
        meat = np.zeros((p, p))
        dense_off = [0] + [b.offset for b in nums]
        nd = len(dense_off)

        # dense × dense: one single-row aggregation over the score table
        aggs = [
            F.sum(F.col(f"s_{i}") * F.col(f"s_{j}")).alias(f"m_{i}_{j}")
            for i in range(nd)
            for j in range(i, nd)
        ]
        row = t1.agg(*aggs).collect()[0]
        for i in range(nd):
            for j in range(i, nd):
                oi, oj = dense_off[i], dense_off[j]
                meat[min(oi, oj), max(oi, oj)] = row[f"m_{i}_{j}"] or 0.0

        for b in cats:
            tv = (
                scored_cc.groupBy(*ccols, b.var)
                .agg(F.sum(u).alias("sv"))
                .persist()
            )
            cat_tables[b.var] = tv

        # dense × categorical
        for b in cats:
            tv = cat_tables[b.var]
            joined = tv.join(t1, ccols)
            rows = (
                joined.groupBy(b.var)
                .agg(
                    *[
                        F.sum(F.col("sv") * F.col(f"s_{i}")).alias(f"c_{i}")
                        for i in range(nd)
                    ]
                )
                .collect()
            )
            colof = {lvl: b.offset + k for k, lvl in enumerate(b.levels)}
            for r in rows:
                c = colof.get(r[b.var])
                if c is None:
                    continue
                for i in range(nd):
                    oi = dense_off[i]
                    meat[min(oi, c), max(oi, c)] = r[f"c_{i}"] or 0.0

        # categorical × categorical (incl. same-var pairs)
        for a_i in range(len(cats)):
            for b_i in range(a_i, len(cats)):
                ba, bb = cats[a_i], cats[b_i]
                ta = cat_tables[ba.var].select(
                    *ccols, F.col(ba.var).alias("__la"), F.col("sv").alias("__sa")
                )
                tb = cat_tables[bb.var].select(
                    *ccols, F.col(bb.var).alias("__lb"), F.col("sv").alias("__sb")
                )
                rows = (
                    ta.join(tb, ccols)
                    .groupBy("__la", "__lb")
                    .agg(F.sum(F.col("__sa") * F.col("__sb")).alias("m"))
                    .collect()
                )
                ca = {lvl: ba.offset + k for k, lvl in enumerate(ba.levels)}
                cb = {lvl: bb.offset + k for k, lvl in enumerate(bb.levels)}
                for r in rows:
                    ia, ib = ca.get(r["__la"]), cb.get(r["__lb"])
                    if ia is None or ib is None:
                        continue
                    meat[min(ia, ib), max(ia, ib)] = r["m"] or 0.0

        iu = np.triu_indices(p, k=1)
        meat[(iu[1], iu[0])] = meat[iu]
        return meat, n_clusters
    finally:
        # release caches on ALL exits — a failed collect in the cat passes
        # must not leak the persisted per-variable score tables
        t1.unpersist()
        for tv in cat_tables.values():
            tv.unpersist()


def yhat_frame(
    comp: DataFrame, blocks: list[GramBlock], beta_full: np.ndarray
) -> tuple[DataFrame, "F.Column"]:
    """(df, ŷ expression): numeric terms as literal-β column math,
    categorical terms via level→β lookups (plan literals up to the inline
    cap, else broadcast joins; scales to many levels where a CASE ladder
    would not)."""
    df = comp
    yhat = F.lit(float(beta_full[0]))
    for b in blocks[1:]:
        if b.kind == "num":
            yhat = yhat + F.lit(float(beta_full[b.offset])) * F.col(b.var).cast("double")
        elif b.ncols > 0:
            df = with_levels(
                df, b.var, b.levels,
                {f"__beta_{b.var}": beta_full[b.offset : b.offset + b.ncols]},
                how="left",
            )
            yhat = yhat + F.coalesce(F.col(f"__beta_{b.var}"), F.lit(0.0))
    return df, yhat
