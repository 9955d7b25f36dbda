"""The IR's Spark rendering (SQL text parsed by ``F.expr``) must equal the
node-by-node Column builder bit for bit, in value and in type, for
projections and for aggregates. The builder lives only here, as the
reference: hypothesis draws random trees over int, long, double and string
columns, with awkward literals and factor levels, and each tree is
evaluated both ways in ONE select/agg over a single partition (same rows,
same order)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbreg_spark.plans.exprs import (
    Agg,
    BinOp,
    CaseGE,
    Cast,
    Func,
    Lit,
    OneHot,
    Var,
    agg_to_spark,
    agg_to_sql,
    asum,
    count_star,
    to_spark,
    to_sql,
)

# --------------------------------------------------------------------------
# reference: the node-by-node Column builder
# --------------------------------------------------------------------------

_FUNCS = {
    "pow": F.pow,
    "sqrt": F.sqrt,
    "floor": F.floor,
    "ln": F.log,  # natural log
    "log10": F.log10,
    "least": F.least,
    "greatest": F.greatest,
    "abs": F.abs,
    "round": F.round,
    "exp": F.exp,
}


def build(e):
    if isinstance(e, Var):
        return F.col(e.name)
    if isinstance(e, Lit):
        return F.lit(e.value)
    if isinstance(e, BinOp):
        left, right = build(e.left), build(e.right)
        return {
            "*": lambda: left * right,
            "+": lambda: left + right,
            "-": lambda: left - right,
            "/": lambda: left / right,
        }[e.op]()
    if isinstance(e, Func):
        return _FUNCS[e.name](*[build(a) for a in e.args])
    if isinstance(e, OneHot):
        return F.when(F.col(e.var) == F.lit(e.level), F.lit(1.0)).otherwise(F.lit(0.0))
    if isinstance(e, CaseGE):
        cond = build(e.cond_var)
        c = cond > F.lit(e.knot) if e.strict else cond >= F.lit(e.knot)
        return F.when(c, build(e.then)).otherwise(F.lit(0.0))
    if isinstance(e, Cast):
        return build(e.expr).cast(e.to)
    raise TypeError(e)


def build_agg(a):
    if a.kind == "count_star":
        c = F.count(F.lit(1))
    elif a.kind == "count_distinct":
        c = F.countDistinct(build(a.expr))
    else:
        fn = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max, "count": F.count}
        c = fn[a.kind](build(a.expr))
    return c.cast(a.cast_to) if a.cast_to else c


# --------------------------------------------------------------------------
# data and trees
# --------------------------------------------------------------------------

LEVELS = ["a", "it's", "a\\b", "a\bb", "\\", "''", "x\\'y", "", "é ü"]


@pytest.fixture(scope="module")
def fdata(spark):
    rng = np.random.default_rng(5)
    n = 48
    d = rng.normal(size=n) * 10.0 ** rng.integers(-3, 4, n)
    d[:4] = [0.0, -0.0, 1e-300, 1.2344999999999999e300]
    pdf = pd.DataFrame(
        {
            "i": rng.integers(-5, 6, n).astype("int32"),
            "l": rng.integers(-5, 6, n).astype("int64"),
            "d": d,
            "x col": rng.uniform(-2, 2, n),
            "s": [LEVELS[k % len(LEVELS)] for k in range(n)],
        }
    )
    return spark.createDataFrame(pdf).coalesce(1).cache()


floats = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from(
        [0.1, -1.2344999999999999e-05, 0.30000000000000004, 1e16, -2.5e-310]
    ),
)
levels = st.one_of(st.sampled_from(LEVELS), st.text(max_size=4))
# (expr, integral): an integral node is at most ``leaf op leaf``, so ANSI
# integer overflow cannot fire on either side
int_leaves = st.one_of(
    st.sampled_from([Var("i"), Var("l"), Cast(Var("x col"), "long")]),
    st.integers(-5, 5).map(Lit),
    st.sampled_from([np.int64(3), np.int32(-2), np.int16(7)]).map(Lit),
).map(lambda e: (e, True))
dbl_leaves = st.one_of(
    st.sampled_from([Var("d"), Var("x col"), Cast(Var("i"), "double")]),
    floats.map(Lit),
    st.sampled_from([np.float64(0.1), np.float32(0.1)]).map(Lit),
    levels.map(lambda v: OneHot("s", v)),
    st.integers(-5, 5).map(lambda v: OneHot("i", v)),
).map(lambda e: (e, False))


def _dbl(t):
    e, integral = t
    return Cast(e, "double") if integral else e


def _extend(children):
    pair = st.tuples(children, children)

    def binop(op, ab):
        (a, ai), (b, bi) = ab
        if op == "/":  # a never-zero denominator (ANSI raises on x / 0)
            return BinOp("/", a, Lit(0.5) + Func("abs", (_dbl((b, bi)),))), False
        if ai and bi and not (isinstance(a, (Var, Lit)) and isinstance(b, (Var, Lit))):
            a, ai = Cast(a, "double"), False
        return BinOp(op, a, b), ai and bi

    return st.one_of(
        st.builds(binop, st.sampled_from("*+-/"), pair),
        st.builds(
            lambda f, t: (Func(f, (_dbl(t),)), False),
            st.sampled_from(["sqrt", "ln", "log10", "exp", "abs", "round"]),
            children,
        ),
        st.builds(
            lambda f, ab: (Func(f, (_dbl(ab[0]), _dbl(ab[1]))), False),
            st.sampled_from(["pow", "least", "greatest"]),
            pair,
        ),
        st.builds(
            lambda t, k, th, strict: (CaseGE(_dbl(t), k, _dbl(th), strict), False),
            children,
            floats,
            children,
            st.booleans(),
        ),
        children.map(lambda t: (Cast(t[0], "double"), False)),
        # floor's BIGINT result: only over a bounded column (ANSI)
        st.just((Func("floor", (Var("x col"),)), True)),
    )


trees = st.recursive(
    st.one_of(int_leaves, dbl_leaves),
    _extend,
    max_leaves=8,
).map(lambda t: t[0])
aggs = st.one_of(
    st.builds(
        Agg,
        st.sampled_from(["sum", "avg", "min", "max"]),
        trees,
        st.sampled_from([None, "double"]),
    ),
    st.builds(
        Agg,
        st.sampled_from(["count", "count_distinct"]),
        trees,
        st.sampled_from([None, "long", "double"]),
    ),
    st.sampled_from(
        [
            count_star(),
            asum(Lit(1.0)),
            asum(Lit(1)),
            Agg("min", Var("s")),
            Agg("max", Var("s")),
            Agg("count_distinct", OneHot("s", "a\\b"), "long"),
        ]
    ),
)


def _bits(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else struct.pack("<d", v)
    return v


def _assert_same(select, ref_cols, new_cols):
    """``select`` is ``df.select`` or ``df.agg``: both renderings run in the
    same operator, then every column pair must agree in type and bits."""
    out = select(
        *[c.alias(f"r{k}") for k, c in enumerate(ref_cols)],
        *[c.alias(f"n{k}") for k, c in enumerate(new_cols)],
    )
    types = dict(out.dtypes)
    rows = out.collect()
    for k in range(len(ref_cols)):
        assert types[f"r{k}"] == types[f"n{k}"], k
        for r in rows:
            assert _bits(r[f"r{k}"]) == _bits(r[f"n{k}"]), (k, r)


# --------------------------------------------------------------------------
# properties
# --------------------------------------------------------------------------

_SETTINGS = settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@_SETTINGS
@given(st.lists(trees, min_size=1, max_size=6))
def test_projection_matches_builder(fdata, es):
    _assert_same(fdata.select, [build(e) for e in es], [to_spark(e) for e in es])


@_SETTINGS
@given(st.lists(aggs, min_size=1, max_size=6))
def test_aggregate_matches_builder(fdata, specs):
    _assert_same(
        fdata.agg, [build_agg(a) for a in specs], [agg_to_spark(a) for a in specs]
    )


def test_escaping_literal_typing_and_quoted_names(fdata):
    """The cases SQL text gets wrong without Spark-dialect rendering: a
    backslash level (DuckDB escaping would match ``a<backspace>b``), a
    float literal over an int column (untyped it is DECIMAL), a name with
    a space, and a literal-only SUM that must stay DOUBLE."""
    hit = Cast(OneHot("s", "a\\b") * Var("d"), "double")
    tenth = Cast(Var("i") * Lit(0.1), "double")
    es = [hit, tenth, Var("x col"), Lit(-2_147_483_648), Lit(3_000_000_000)]
    es += [Lit(v) for v in (float("nan"), float("-inf"), -0.0, 5e-324, None)]
    _assert_same(fdata.select, [build(e) for e in es], [to_spark(e) for e in es])
    n_hit = fdata.agg(agg_to_spark(asum(OneHot("s", "a\\b")))).collect()[0][0]
    assert n_hit == sum(1 for r in fdata.select("s").collect() if r[0] == "a\\b")
    assert dict(fdata.agg(agg_to_spark(asum(Lit(1.0))).alias("w")).dtypes) == {
        "w": "double"
    }
    # the DuckDB rendering of the same trees is unchanged
    assert to_sql(hit) == (
        "CAST((CASE WHEN s = 'a\\b' THEN 1.0 ELSE 0.0 END * d) AS DOUBLE)"
    )
    assert to_sql(tenth) == "CAST((i * 0.1) AS DOUBLE)"
    assert agg_to_sql(count_star()) == "CAST(COUNT(*) AS BIGINT)"
