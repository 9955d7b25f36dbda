"""One IR, rendered as SQL text in two dialects: Spark executes, DuckDB checks.

The reference engine (grantmcdermott/dbreg) builds SQL strings directly via
glue templates (reference: R/dbreg.R:724-757, R/sql_model_matrix.R:143-175).
We instead describe every generated column once, as a small AST, and render it
as SQL text twice: in Spark's dialect, parsed into a ``pyspark.sql.Column``
by ``F.expr`` (the distributed execution path), and in DuckDB's, which the
correctness oracle and ``sql_only`` parity mode run. This module is the only
place an expression becomes a Spark column.
"""

from __future__ import annotations

import math

from dataclasses import dataclass
from typing import Union

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

Exprish = Union["Expr", str, int, float]


@dataclass(frozen=True)
class Expr:
    """Base class for expression nodes."""

    # -- operator sugar ----------------------------------------------------
    def __mul__(self, other: Exprish) -> "Expr":
        return BinOp("*", self, wrap(other))

    def __add__(self, other: Exprish) -> "Expr":
        return BinOp("+", self, wrap(other))

    def __sub__(self, other: Exprish) -> "Expr":
        return BinOp("-", self, wrap(other))

    def __truediv__(self, other: Exprish) -> "Expr":
        return BinOp("/", self, wrap(other))


@dataclass(frozen=True)
class Var(Expr):
    """A column reference."""

    name: str


@dataclass(frozen=True)
class Lit(Expr):
    """A literal. Floats render with 17 significant digits (round-trip safe),
    mirroring the reference's ``%.15g`` beta embedding (R/dbreg.R:1829)."""

    value: object


@dataclass(frozen=True)
class BinOp(Expr):
    op: str
    left: Expr
    right: Expr


@dataclass(frozen=True)
class Func(Expr):
    """Scalar function by ANSI name: pow, sqrt, floor, ln, least, abs, log10."""

    name: str
    args: tuple[Expr, ...]


@dataclass(frozen=True)
class OneHot(Expr):
    """``CASE WHEN var = 'level' THEN 1.0 ELSE 0.0 END`` dummy encoding
    (reference: R/sql_model_matrix.R:147)."""

    var: str
    level: object


@dataclass(frozen=True)
class CaseGE(Expr):
    """``CASE WHEN cond_expr > knot THEN then_expr ELSE 0.0 END`` — used for
    truncated-power spline bases (reference: R/dbbinsreg.R:1240-1263)."""

    cond_var: Expr
    knot: float
    then: Expr
    strict: bool = True


@dataclass(frozen=True)
class Cast(Expr):
    expr: Expr
    to: str  # "double" | "long"


def wrap(x: Exprish) -> Expr:
    if isinstance(x, Expr):
        return x
    return Lit(x)


# --------------------------------------------------------------------------
# Aggregates
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Agg:
    """An aggregate over an expression. kind in {count_star, count, sum, avg,
    min, max, count_distinct}."""

    kind: str
    expr: Expr | None = None
    cast_to: str | None = None  # cast applied to the *result*


def count_star() -> Agg:
    return Agg("count_star", None, "long")


def asum(e: Exprish) -> Agg:
    return Agg("sum", wrap(e))


def aavg(e: Exprish) -> Agg:
    return Agg("avg", wrap(e))


def amin(e: Exprish) -> Agg:
    return Agg("min", wrap(e))


def amax(e: Exprish) -> Agg:
    return Agg("max", wrap(e))


def acountd(e: Exprish) -> Agg:
    return Agg("count_distinct", wrap(e), "long")


# --------------------------------------------------------------------------
# SQL renderers: one tree walk, two dialects
# --------------------------------------------------------------------------

_FUNC_SQL = {"pow": "POWER", "ln": "LN", "log10": "LOG10"}
_TYPE_SQL = {"double": "DOUBLE", "long": "BIGINT"}
# the type F.lit gives a numpy scalar (it casts the Python value back)
_NUMPY_SQL = {
    "int8": "TINYINT",
    "int16": "SMALLINT",
    "int32": "INT",
    "int64": "BIGINT",
    "float32": "FLOAT",
    "float64": "DOUBLE",
}


def _sql_lit(v: object) -> str:
    """DuckDB literal: floats print with 17 significant digits."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return repr(v)  # 17 significant digits, round-trip exact
    if isinstance(v, int):
        return str(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _spark_lit(v: object) -> str:
    """Spark literal of the same value and type as ``F.lit(v)``. Floats are
    typed DOUBLE (an untyped ``0.1`` is DECIMAL in Spark SQL) and strings
    use Spark's backslash escaping."""
    if isinstance(v, np.generic):
        t = _NUMPY_SQL.get(v.dtype.name)
        s = _spark_lit(v.item())
        return f"CAST({s} AS {t})" if t else s
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if math.isfinite(v):
            return f"{v!r}D"
        name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        return f"CAST('{name}' AS DOUBLE)"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _spark_ident(name: str) -> str:
    """``name`` quoted so Spark resolves the column ``F.col(name)`` does:
    a dot outside backticks separates nested parts, and a backtick-quoted
    part may hold dots and doubled backticks."""
    parts, cur, quoted, i = [], "", False, 0
    while i < len(name):
        c = name[i]
        if quoted and c == "`" and name[i + 1 : i + 2] == "`":
            cur += "`"
            i += 1
        elif c == "`":
            quoted = not quoted
        elif c == "." and not quoted:
            parts.append(cur)
            cur = ""
        else:
            cur += c
        i += 1
    parts.append(cur)
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def _render(e: Expr, spark: bool) -> str:
    lit = _spark_lit if spark else _sql_lit
    if isinstance(e, Var):
        return _spark_ident(e.name) if spark else e.name
    if isinstance(e, Lit):
        return lit(e.value)
    if isinstance(e, BinOp):
        if e.op not in ("*", "+", "-", "/"):
            raise ValueError(f"unknown op {e.op}")
        return f"({_render(e.left, spark)} {e.op} {_render(e.right, spark)})"
    if isinstance(e, Func):
        name = _FUNC_SQL.get(e.name, e.name.upper())
        return f"{name}({', '.join(_render(a, spark) for a in e.args)})"
    if isinstance(e, OneHot):
        var = _spark_ident(e.var) if spark else e.var
        return f"CASE WHEN {var} = {lit(e.level)} THEN {lit(1.0)} ELSE {lit(0.0)} END"
    if isinstance(e, CaseGE):
        op = ">" if e.strict else ">="
        return (
            f"CASE WHEN {_render(e.cond_var, spark)} {op} {lit(float(e.knot))} "
            f"THEN {_render(e.then, spark)} ELSE {lit(0.0)} END"
        )
    if isinstance(e, Cast):
        return f"CAST({_render(e.expr, spark)} AS {_TYPE_SQL.get(e.to, e.to.upper())})"
    raise TypeError(f"unknown expr {e!r}")


def _render_agg(a: Agg, spark: bool) -> str:
    if a.kind == "count_star":
        s = "COUNT(*)"
    elif a.kind == "count_distinct":
        s = f"COUNT(DISTINCT {_render(a.expr, spark)})"
    else:
        s = f"{a.kind.upper()}({_render(a.expr, spark)})"
    if a.cast_to:
        s = f"CAST({s} AS {_TYPE_SQL.get(a.cast_to, a.cast_to.upper())})"
    return s


def to_spark(e: Expr) -> Column:
    """``e`` as a Spark column: its Spark SQL text, parsed by ``F.expr``."""
    return F.expr(_render(e, spark=True))


def agg_to_spark(a: Agg) -> Column:
    return F.expr(_render_agg(a, spark=True))


def agg_frame(df: DataFrame, spec: list[tuple[str, Agg]]) -> DataFrame:
    """The one-row aggregation of ``spec`` (``[(alias, Agg)]``) over ``df``.
    Every aggregate reaches Spark as SQL text in ONE ``selectExpr`` call,
    parsed in the JVM; ``df.agg(*map(agg_to_spark, ...))`` would cost
    about 15 py4j round trips per aggregate, which dominates a wide pass
    (an IRLS pass at p = 33 carries about 600 aggregates)."""
    return df.selectExpr(
        *[
            f"{_render_agg(a, spark=True)} AS `{n.replace('`', '``')}`"
            for n, a in spec
        ]
    )


def to_sql(e: Expr) -> str:
    """``e`` as DuckDB SQL text (the oracle and ``sql_only`` output)."""
    return _render(e, spark=False)


def agg_to_sql(a: Agg) -> str:
    return _render_agg(a, spark=False)


# --------------------------------------------------------------------------
# JSON-serializable form (model persistence: save a fitted model's design
# expressions and rebuild them in another session)
# --------------------------------------------------------------------------


def expr_to_obj(e: Expr) -> dict:
    """Encode an Expr tree as plain JSON-compatible dicts."""
    if isinstance(e, Var):
        return {"t": "var", "name": e.name}
    if isinstance(e, Lit):
        return {"t": "lit", "value": e.value}
    if isinstance(e, BinOp):
        return {
            "t": "bin",
            "op": e.op,
            "left": expr_to_obj(e.left),
            "right": expr_to_obj(e.right),
        }
    if isinstance(e, Func):
        return {"t": "func", "name": e.name, "args": [expr_to_obj(a) for a in e.args]}
    if isinstance(e, OneHot):
        return {"t": "onehot", "var": e.var, "level": e.level}
    if isinstance(e, CaseGE):
        return {
            "t": "casege",
            "cond": expr_to_obj(e.cond_var),
            "knot": e.knot,
            "then": expr_to_obj(e.then),
            "strict": e.strict,
        }
    if isinstance(e, Cast):
        return {"t": "cast", "expr": expr_to_obj(e.expr), "to": e.to}
    raise TypeError(f"unknown expr {e!r}")


def expr_from_obj(d: dict) -> Expr:
    """Inverse of :func:`expr_to_obj`."""
    t = d["t"]
    if t == "var":
        return Var(d["name"])
    if t == "lit":
        return Lit(d["value"])
    if t == "bin":
        return BinOp(d["op"], expr_from_obj(d["left"]), expr_from_obj(d["right"]))
    if t == "func":
        return Func(d["name"], tuple(expr_from_obj(a) for a in d["args"]))
    if t == "onehot":
        return OneHot(d["var"], d["level"])
    if t == "casege":
        return CaseGE(
            expr_from_obj(d["cond"]), d["knot"], expr_from_obj(d["then"]), d["strict"]
        )
    if t == "cast":
        return Cast(expr_from_obj(d["expr"]), d["to"])
    raise ValueError(f"unknown expr tag {t!r}")
