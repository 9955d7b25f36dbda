"""Per-level tables as plan literals (``plans/levels.py``): every call site
gives the same answers inline and through the broadcast join it falls back
to past the inline cap (forced here by a cap of 0)."""

from __future__ import annotations

import numpy as np
import pytest

from dbreg_spark import dbreg, dbreg_split
from dbreg_spark.plans import levels
from dbreg_spark.plans.levels import with_levels

RTOL = 1e-12


@pytest.fixture(scope="module")
def keyed(spark):
    """String (one level needs quoting), int, bigint and nullable bigint
    keys over 300 rows."""
    from pyspark.sql import types as T

    rng = np.random.default_rng(7)
    n = 300
    firm = rng.choice(["a", "b", "O'Brien", "back\\slash", "d"], n)
    year = rng.integers(2000, 2006, n)
    cohort = rng.integers(0, 4, n) * 10_000_000_000
    s = rng.integers(0, 3, n).astype(object)
    s[rng.uniform(size=n) < 0.2] = None
    x1, x2 = rng.normal(size=n), rng.normal(size=n)
    y = 1 + x1 - 0.5 * x2 + (year - 2000) * 0.3 + rng.normal(size=n)
    rows = list(zip(range(n), firm.tolist(), year.tolist(), cohort.tolist(),
                    s.tolist(), x1.tolist(), x2.tolist(), y.tolist()))
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("firm", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("cohort", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("x2", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ])
    df = spark.createDataFrame(rows, schema).cache()
    df.count()
    yield df
    df.unpersist()


def _both(monkeypatch, fit):
    """``fit()`` inline, then with every table past the cap."""
    inline = fit()
    with monkeypatch.context() as mp:
        mp.setattr(levels, "INLINE_VALUES", 0)
        joined = fit()
    return inline, joined


def _same_model(a, b):
    assert list(a.coef_names) == list(b.coef_names)
    np.testing.assert_allclose(
        a.coeftable["estimate"], b.coeftable["estimate"], rtol=RTOL, atol=1e-14
    )
    np.testing.assert_allclose(a.vcov_, b.vcov_, rtol=RTOL, atol=1e-14)


@pytest.mark.parametrize(
    "fml, strategy, vcov",
    [
        ("y ~ x1 + x2 | firm", "demean", "hc1"),
        ("y ~ x1 + x2 | year + cohort", "demean", "~firm"),
        ("y ~ x1 + x2 | firm + year", "mundlak", "~cohort"),
    ],
)
def test_means_inline_match_join(keyed, monkeypatch, fml, strategy, vcov):
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # unbalanced-panel notice
        a, b = _both(
            monkeypatch, lambda: dbreg(fml, keyed, strategy=strategy, vcov=vcov)
        )
    _same_model(a, b)


def test_split_inline_match_join_null_level(keyed, monkeypatch):
    """The NULL split level is a real level; HC2 also looks up each
    level's inverse Gram."""
    a, b = _both(
        monkeypatch,
        lambda: dbreg_split("y ~ x1 + x2", keyed, split="s",
                            strategy="moments", vcov="hc2"),
    )
    assert None in a and set(a) == set(b)
    for lvl in a:
        _same_model(a[lvl], b[lvl])


def test_predict_inline_match_join_unseen_level(keyed, monkeypatch):
    """A level absent from the fit scores 0 for its FE on both paths."""
    train = keyed.where("firm <> 'd'")
    m = dbreg("y ~ x1 | firm + year", train, strategy="compress")

    def fit():
        return m.predict(keyed).select("id", "firm", "fit").toPandas().sort_values("id")

    a, b = _both(monkeypatch, fit)
    assert (a["firm"] == "d").any()
    np.testing.assert_allclose(a["fit"], b["fit"], rtol=RTOL)
    assert a["fit"].notna().all()


def test_int_key_arriving_as_float64(keyed, monkeypatch):
    """Levels collected through pandas can reach the helper as float64
    (NaN for NULL); the literals still match the int and bigint keys
    (``s``'s levels 0, 1 are dense: the index is arithmetic)."""
    years = np.array([2001.0, 2003.0, np.nan])
    s_levels = np.array([0.0, 1.0, np.nan])

    def look():
        d = with_levels(keyed, "year", years, {"v": [1.5, 3.5, 9.0]})
        d = with_levels(d, "s", s_levels, {"w": [10, 20, 30]},
                        how="left", null_safe=True)
        return d.select("id", "year", "s", "v", "w").toPandas().sort_values("id")

    a, b = _both(monkeypatch, look)
    pdf = keyed.select("id", "year", "s").toPandas()
    pdf = pdf[pdf["year"].isin([2001, 2003])].sort_values("id")
    assert a["id"].tolist() == b["id"].tolist() == pdf["id"].tolist()
    want_v = np.where(pdf["year"] == 2001, 1.5, 3.5)
    want_w = pdf["s"].map({0: 10, 1: 20}).where(pdf["s"].notna(), 30)
    for got in (a, b):
        np.testing.assert_array_equal(got["v"], want_v)
        np.testing.assert_array_equal(got["w"].astype(float), want_w.astype(float))


def test_bool_and_date_keys(spark, monkeypatch):
    """Boolean and date keys render as their own literals (a boolean
    level list is not mistaken for dense integer ids)."""
    import datetime as dt

    d0, d1 = dt.date(2020, 1, 1), dt.date(2020, 1, 2)
    df = spark.createDataFrame(
        [(1, True, d0), (2, False, d1), (3, True, d1), (4, None, d0)],
        "id INT, b BOOLEAN, d DATE",
    )

    def look():
        out = with_levels(df, "b", [False, True], {"v": [1.0, 2.0]}, how="left")
        out = with_levels(out, "d", [d1], {"w": [5.0]})
        return [tuple(r) for r in out.select("id", "v", "w").orderBy("id").collect()]

    a, b = _both(monkeypatch, look)
    assert a == b == [(2, 1.0, 5.0), (3, 2.0, 5.0)]


def test_float_key_means_join_grouping_sets(keyed):
    """A double FE key has no literal form: its means are joined from the
    grouping-sets table itself and match the same key as an int."""
    import warnings

    import pyspark.sql.functions as F

    df = keyed.withColumn("year_d", F.col("year").cast("double"))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # unbalanced-panel notice
        for strategy, fe in [("demean", "{} + cohort"), ("mundlak", "{}")]:
            a = dbreg(f"y ~ x1 + x2 | {fe.format('year')}", df,
                      strategy=strategy, vcov="hc1")
            b = dbreg(f"y ~ x1 + x2 | {fe.format('year_d')}", df,
                      strategy=strategy, vcov="hc1")
            np.testing.assert_allclose(
                a.coeftable["estimate"].to_numpy(),
                b.coeftable["estimate"].to_numpy(), rtol=RTOL, atol=1e-14,
            )


def test_join_fallback_broadcast_flag(keyed, monkeypatch):
    """Past the cap the table is broadcast unless the caller opts out, and
    the k-FE compressed demean passes its ``broadcast_means`` through."""
    from dbreg_spark.plans import frames

    def hinted(d) -> bool:
        return "broadcast" in d._jdf.queryExecution().analyzed().toString()

    monkeypatch.setattr(levels, "INLINE_VALUES", 0)
    lv = ["a", "b", "O'Brien"]
    assert hinted(with_levels(keyed, "firm", lv, {"v": [1.0, 2.0, 3.0]}))
    assert not hinted(
        with_levels(keyed, "firm", lv, {"v": [1.0, 2.0, 3.0]}, broadcast=False)
    )

    seen = []

    def spy(*args, **kw):
        seen.append(kw.get("broadcast", True))
        return with_levels(*args, **kw)

    monkeypatch.setattr(frames, "with_levels", spy)
    from dbreg_spark.design import build_design
    from dbreg_spark.formula import parse_formula
    from dbreg_spark.plans.common import resolve_source

    parsed = parse_formula("y ~ x1 + x2 | firm + year + cohort")
    source = resolve_source(spark=keyed.sparkSession, data=keyed)
    design = build_design(source.df, parsed, expand="all", fe_vars=parsed.fe)
    base = frames.build_base_frame(source, parsed, design, want_sql=False)
    frame = frames.build_demeaned_frame_iterative(
        base, parsed.fe, broadcast_means=False
    )
    frame.cleanup()
    assert seen == [False, False, False]
