"""Shared plan-building machinery for the four estimation strategies.

A *plan* here is (a) a Spark DataFrame DAG ending in one aggregation, and
(b) an equivalent ANSI-SQL string for the DuckDB oracle / ``sql_only`` parity
mode. Both are generated from one list of ``(alias, Agg)`` pairs, so the two
executions are the same computation by construction.

Moment alias conventions (indexed, collision-free — the reference adopted the
same scheme for demean/mundlak, R/dbreg.R:1069-1094, 1344-1363):

- ``n_total``: row count; ``n_fe1``/``n_fe2``: distinct FE levels;
- ``sum_y``, ``sum_y_sq``: Σy, Σy²  (for demean these are of ỹ);
- ``sum_{i}``: Σxᵢ  (intercept models only);
- ``sum_{i}_y``: Σxᵢy;
- ``sum_{i}_{j}`` (i ≤ j): Σxᵢxⱼ.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .exprs import (
    Agg,
    Cast,
    Expr,
    Var,
    _spark_ident,
    acountd,
    agg_frame,
    agg_to_spark,
    agg_to_sql,
    amin,
    asum,
    count_star,
)


# --------------------------------------------------------------------------
# Source abstraction
# --------------------------------------------------------------------------


@dataclass
class Source:
    """A relational input: a DataFrame plus (optionally) a SQL FROM-clause
    naming the same relation for oracle-SQL emission."""

    df: DataFrame
    sql_from: str | None = None  # e.g. "FROM lineitem"

    def require_sql(self) -> str:
        if not self.sql_from:
            raise ValueError(
                "SQL emission requires a named source (table=... or path=...)"
            )
        return self.sql_from


def resolve_source(
    spark: SparkSession | None = None,
    data=None,
    table: str | None = None,
    path: str | None = None,
) -> Source:
    """Source precedence: table > data > path (reference: R/utils.R:105-205)."""
    if table is not None:
        if spark is None:
            raise ValueError("spark session required with table=")
        return Source(df=spark.table(table), sql_from=f"FROM {table}")
    if data is not None:
        if isinstance(data, DataFrame):
            return Source(df=data, sql_from=None)
        # pandas or anything createDataFrame accepts
        if spark is None:
            raise ValueError("spark session required with in-memory data")
        return Source(df=spark.createDataFrame(data), sql_from=None)
    if path is not None:
        if spark is None:
            raise ValueError("spark session required with path=")
        low = path.lower().rstrip("/")
        if low.endswith(".csv") or low.endswith(".csv.gz"):
            return Source(
                df=spark.read.csv(path, header=True, inferSchema=True),
                sql_from=f"FROM read_csv_auto('{path}')",
            )
        if low.endswith(".json") or low.endswith(".jsonl") or low.endswith(".ndjson"):
            return Source(
                df=spark.read.json(path),
                sql_from=f"FROM read_json_auto('{path}')",
            )
        # default: parquet file/dir/glob (Hive-partition discovery is native;
        # load_parquet also repairs TIMESTAMP(NANOS) columns)
        from ..sources.io import load_parquet

        return Source(
            df=load_parquet(spark, path),
            sql_from=f"FROM read_parquet('{path}')",
        )
    raise ValueError("one of table=, data=, path= is required")


def not_null_filter_sql(vars_: list[str]) -> str:
    return " AND ".join(f"{v} IS NOT NULL" for v in vars_)


def filter_missing(df: DataFrame, vars_: list[str]) -> DataFrame:
    """IS-NOT-NULL filter on model variables (reference: R/dbreg.R:451-468).
    One Spark SQL conjunction, handed over in one call, so it reaches the
    parquet scan as pushed filters."""
    if not vars_:
        return df
    return df.where(" AND ".join(f"{_spark_ident(v)} IS NOT NULL" for v in vars_))


# --------------------------------------------------------------------------
# Moment aggregation specs
# --------------------------------------------------------------------------


def _dx(e: Expr) -> Expr:
    """Cast a product operand to double before multiplying — deliberate
    upgrade over the reference's FLOAT casts (SURVEY §7.4: numeric
    fidelity)."""
    return Cast(e, "double")


def moment_spec(
    y: Expr,
    xs: list[Expr],
    intercept: bool,
    n_fe_exprs: list[Expr] | None = None,
    weight: Expr | None = None,
) -> list[tuple[str, Agg]]:
    """Build the single-row sufficient-statistics aggregation.

    With ``intercept=True`` mirrors the moments/mundlak queries
    (R/dbreg.R:724-757, 1334-1363); with ``intercept=False`` mirrors the
    demean moment query on tilde columns (R/dbreg.R:1055-1094).

    ``weight`` turns every sum into its w-weighted version (Σw·xᵢxⱼ, Σw·y,
    …) and adds ``sum_w`` = Σw and ``w_min`` (a free validity rider — the
    caller raises on non-positive weights AFTER the single pass, so the
    check costs nothing). ``n_total`` stays the raw row count: dof
    conventions for frequency-agnostic weights (fixest's ``weights=``) are
    based on the number of observations, not the weight mass.
    """
    spec: list[tuple[str, Agg]] = [("n_total", count_star())]
    for k, fe_e in enumerate(n_fe_exprs or []):
        spec.append((f"n_fe{k + 1}", acountd(fe_e)))
    wd = _dx(weight) if weight is not None else None
    if wd is not None:
        spec.append(("sum_w", asum(wd)))
        spec.append(("w_min", amin(wd)))

    def ws(e: Expr) -> Agg:
        return asum(wd * e) if wd is not None else asum(e)

    yd = _dx(y)
    if intercept:
        spec.append(("sum_y", ws(yd)))
    spec.append(("sum_y_sq", ws(yd * yd)))
    for i, x in enumerate(xs, start=1):
        xd = _dx(x)
        if intercept:
            spec.append((f"sum_{i}", ws(xd)))
        spec.append((f"sum_{i}_y", ws(xd * yd)))
    for i, xi in enumerate(xs, start=1):
        for j in range(i, len(xs) + 1):
            xj = xs[j - 1]
            spec.append((f"sum_{i}_{j}", ws(_dx(xi) * _dx(xj))))
    return spec


def run_agg(
    df: DataFrame,
    spec: list[tuple[str, Agg]],
    fe_cols: list[str] | None = None,
    by: list[str] | None = None,
    limit: int | None = None,
):
    """Execute a single-row aggregation and return it as a plain dict.

    ``by`` groups the aggregation instead and returns one dict per group
    (with the key columns), at most ``limit`` of them.

    When the spec carries exact ``COUNT(DISTINCT fe)`` entries and ``fe_cols``
    names those columns, the aggregation runs in TWO levels: partial sums per
    FE cell (map-side combined, tiny shuffle), then final sums plus the
    distinct counts over the cell table. A single-level plan would put the
    distinct aggregates through Spark's Expand operator — every input row
    duplicated once per distinct column — which measured 2.3x slower at
    sf0.1 and triples the aggregation input at 100 TB. The two-level shape
    pays one cell-keyed shuffle instead (cells = occupied FE combinations).
    """
    if by is not None:
        out = df.groupBy(*by).agg(*[agg_to_spark(a).alias(n) for n, a in spec])
        if limit is not None:
            out = out.limit(limit)
        return [r.asDict() for r in out.collect()]
    cd = [(name, a) for name, a in spec if a.kind == "count_distinct"]
    two_level = (
        bool(fe_cols)
        and bool(cd)
        and all(isinstance(a.expr, Var) and a.expr.name in fe_cols for _, a in cd)
    )
    if not two_level:
        row = agg_frame(df, spec).collect()[0]
        return row.asDict()

    partial_cols = []
    final_cols = []
    for i, (name, a) in enumerate(spec):
        if a.kind == "count_distinct":
            final_cols.append(F.countDistinct(a.expr.name).alias(name))
        else:
            pc = f"__p{i}"
            partial_cols.append(agg_to_spark(a).alias(pc))
            # re-combine per-cell partials with the aggregate's own monoid:
            # sums/counts add, min/max take the extremum (w_min rides here)
            comb = {"min": F.min, "max": F.max}.get(a.kind, F.sum)
            final_cols.append(comb(pc).alias(name))
    # free riders on the cell pass: per-cell row counts and the cell count
    # give the panel-balance diagnostic (equal counts + complete grid) with
    # zero extra scans — callers read __cell_min/__cell_max/__n_cells
    partial_cols.append(F.count(F.lit(1)).alias("__cell_n"))
    final_cols += [
        F.min("__cell_n").alias("__cell_min"),
        F.max("__cell_n").alias("__cell_max"),
        F.count(F.lit(1)).alias("__n_cells"),
    ]
    cells = df.groupBy(*fe_cols).agg(*partial_cols)
    row = cells.agg(*final_cols).collect()[0]
    return row.asDict()


def agg_select_sql(spec: list[tuple[str, Agg]]) -> str:
    return ",\n  ".join(f"{agg_to_sql(a)} AS {name}" for name, a in spec)


# --------------------------------------------------------------------------
# Normal-equation assembly from a collected moments row (K1)
# --------------------------------------------------------------------------


def assemble_normal_eqs(
    row: dict, p_x: int, intercept: bool
) -> tuple[np.ndarray, np.ndarray, float, float | None, float]:
    """Decode the moments row into (XtX, Xty, n_total, sum_y, sum_y_sq)
    (reference: R/dbreg.R:772-793, 1402-1424). Weighted rows (those carrying
    ``sum_w``) put Σw in the intercept-intercept cell — every other sum is
    already w-scaled by the spec."""
    n_total = float(row["n_total"])
    sum_y = float(row["sum_y"]) if intercept else None
    sum_y_sq = float(row["sum_y_sq"])
    off = 1 if intercept else 0
    p = p_x + off
    xtx = np.zeros((p, p))
    xty = np.zeros(p)
    if intercept:
        sw = row.get("sum_w")
        xtx[0, 0] = float(sw) if sw is not None else n_total
        xty[0] = sum_y
        for i in range(1, p_x + 1):
            s = float(row[f"sum_{i}"])
            xtx[0, i] = xtx[i, 0] = s
    for i in range(1, p_x + 1):
        xty[i - 1 + off] = float(row[f"sum_{i}_y"])
        for j in range(i, p_x + 1):
            v = float(row[f"sum_{i}_{j}"])
            xtx[i - 1 + off, j - 1 + off] = v
            xtx[j - 1 + off, i - 1 + off] = v
    return xtx, xty, n_total, sum_y, sum_y_sq
