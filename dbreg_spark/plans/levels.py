"""Per-level tables attached to a frame as plan literals.

Many passes look values up by one key column's level: group means (demean,
mundlak), per-level coefficients (split, predict), the k-FE offsets and
level ids. Joining such a table costs a broadcast job, and a table built
with ``createDataFrame`` also runs Python worker tasks. Up to
:data:`INLINE_VALUES` values (levels × value columns) the table rides in
the plan instead: ``element_at(map(level -> i), key)`` finds a row's level
once, and each value column reads ``try_element_at(array(values), i)``.
That is one projection: no join and no Spark job. Past the cap, parsing
the literals (about 0.1 ms a value) costs more than the broadcast job, so
the table is broadcast-joined.

Literal keys are rendered in the key column's Spark type: a driver table
may carry an int key as float64 (pandas turns the NULLs of a grouping-sets
row into NaN), and a ``0.0`` literal would never match the level ``0``.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .exprs import _spark_ident, _spark_lit

INLINE_VALUES = 2_048

# integral key types and the literal suffix Spark SQL gives each
_INT_SUFFIX = {
    T.ByteType: "Y",
    T.ShortType: "S",
    T.IntegerType: "",
    T.LongType: "L",
}


def max_inline_levels(n_cols: int) -> int:
    """The most levels an ``n_cols``-column table may have to ride inline."""
    return INLINE_VALUES // max(n_cols, 1)


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _py(v):
    return v.item() if isinstance(v, np.generic) else v


def inlinable(dtype) -> bool:
    """Whether keys of Spark type ``dtype`` have a literal rendering."""
    return type(dtype) in _INT_SUFFIX or isinstance(
        dtype, (T.StringType, T.BooleanType, T.DateType)
    )


def _key_sql(v, dtype) -> str:
    """``v`` as a Spark SQL literal of the :func:`inlinable` type ``dtype``."""
    suffix = _INT_SUFFIX.get(type(dtype))
    if suffix is not None:
        return f"{int(v)}{suffix}"
    if isinstance(dtype, T.StringType):
        return _spark_lit(str(v))
    if isinstance(dtype, T.BooleanType):
        return "TRUE" if v else "FALSE"
    return f"DATE'{v}'"


def _key_py(v, dtype):
    """``v`` as the Python value Spark accepts for ``dtype``."""
    v = _py(v)
    if _is_null(v):
        return None
    if type(dtype) in _INT_SUFFIX:
        return int(v)
    if isinstance(dtype, T.StringType):
        return str(v)
    return v


def _value_type(vals) -> str:
    return "BIGINT" if np.asarray(vals).dtype.kind in "iu" else "DOUBLE"


def _value_sql(v) -> str:
    v = _py(v)
    if v is None:
        return "NULL"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    return _spark_lit(float(v))


def with_levels(
    df: DataFrame,
    key: str,
    levels,
    cols: dict,
    how: str = "inner",
    null_safe: bool = False,
    broadcast: bool = True,
) -> DataFrame:
    """``df`` with the value columns of a driver-side per-level table.

    ``levels`` lists the table's levels; ``cols`` maps each value column's
    name to its values, aligned with ``levels`` (int values stay BIGINT,
    everything else is DOUBLE, None is NULL). ``how="inner"`` drops the
    rows whose level is not in the table; ``how="left"`` keeps them, with
    NULL values. A NULL key matches only when ``null_safe`` (a NULL level
    in ``levels`` is then a real level, as with ``eqNullSafe``); otherwise
    NULL levels are dropped from the table.

    Up to :data:`INLINE_VALUES` values the table is plan literals; past it,
    and for key types without a literal rendering, it is joined
    (broadcast unless ``broadcast`` is False).
    """
    dtype = df.schema[key].dataType
    levels = list(levels)
    types = {c: _value_type(v) for c, v in cols.items()}
    rows = []
    if inlinable(dtype) and len(levels) <= max_inline_levels(len(cols)):
        keys = [_key_py(v, dtype) for v in levels]
        rows = [i for i, v in enumerate(keys) if null_safe or v is not None]
    if not rows:
        return _joined(df, key, dtype, levels, cols, types, how, null_safe,
                       broadcast)
    keys = [keys[i] for i in rows]
    vals = {}
    for c, v in cols.items():
        v = list(v)
        vals[c] = [_py(v[i]) for i in rows]
    lit_keys = [None if k is None else _key_sql(k, dtype) for k in keys]
    return _inline(df, key, dtype, keys, lit_keys, vals, types, how)


def _inline(df, key, dtype, keys, lit_keys, vals, types, how) -> DataFrame:
    ident = _spark_ident(key)
    ix = "__lvl_ix"
    pos = {k: i + 1 for i, k in enumerate(keys) if k is not None}
    null_pos = next((i + 1 for i, k in enumerate(keys) if k is None), None)
    lo = min(pos) if pos and type(dtype) in _INT_SUFFIX else None
    if not pos:
        idx = "CAST(NULL AS INT)"
    elif lo is not None and all(
        i == k - lo + 1 and i <= len(pos) for k, i in pos.items()
    ):
        # levels lo, lo+1, ..., hi first and in order (level ids, dense
        # integer codes): the index is arithmetic, no map to search
        hi = lo + len(pos) - 1
        idx = (
            f"IF({ident} BETWEEN {lo} AND {hi}, "
            f"CAST({ident} - {lo} AS INT) + 1, CAST(NULL AS INT))"
        )
    else:
        pairs = ", ".join(
            f"{s}, {pos[k]}" for s, k in zip(lit_keys, keys) if k is not None
        )
        idx = f"element_at(map({pairs}), {ident})"
    if null_pos is not None:
        idx = f"IF({ident} IS NULL, {null_pos}, {idx})"
    out = df.select("*", F.expr(idx).alias(ix))
    if how == "inner":
        out = out.where(F.col(ix).isNotNull())
    ixq = _spark_ident(ix)
    return out.select(
        "*",
        *[
            F.expr(
                f"CAST(try_element_at(array({', '.join(map(_value_sql, v))}), "
                f"{ixq}) AS {types[c]})"
            ).alias(c)
            for c, v in vals.items()
        ],
    ).drop(ix)


def _joined(df, key, dtype, levels, cols, types, how, null_safe,
            broadcast) -> DataFrame:
    import pandas as pd

    spark = df.sparkSession
    lk = "__lvl_key"
    keys = pd.Series(levels, dtype=object)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # NaN is a level of a float key, not a NULL
        null = np.fromiter((v is None for v in levels), bool, len(levels))
    else:
        null = keys.isna().to_numpy()
    keep = ~null | null_safe
    kcol = np.full(int(keep.sum()), None, dtype=object)
    known = ~null[keep]
    if type(dtype) in _INT_SUFFIX:
        # astype(object) yields Python ints, which Spark's row conversion
        # takes for integral types (an int level may arrive as float64)
        ints = pd.to_numeric(keys[~null]).to_numpy().astype(np.int64)
        kcol[known] = ints.astype(object)
    elif isinstance(dtype, T.StringType):
        kcol[known] = keys[~null].astype(str).to_numpy()
    else:
        kcol[known] = keys[~null].to_numpy()
    spark_type = {"BIGINT": T.LongType(), "DOUBLE": T.DoubleType()}
    np_type = {"BIGINT": np.int64, "DOUBLE": float}
    schema = T.StructType(
        [T.StructField(lk, dtype, True)]
        + [T.StructField(c, spark_type[types[c]], True) for c in cols]
    )
    pdf = pd.DataFrame({lk: kcol})
    for c, v in cols.items():
        pdf[c] = np.asarray(v, dtype=np_type[types[c]])[keep]
    table = spark.createDataFrame(pdf, schema=schema)
    if broadcast:
        table = F.broadcast(table)
    on = (
        F.col(key).eqNullSafe(F.col(lk)) if null_safe and null.any()
        else F.col(key) == F.col(lk)
    )
    return df.join(table, on=on, how=how).drop(lk)
